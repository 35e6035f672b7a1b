"""Seeded streaming differential (r11): replay randomized event streams
through the stateful twins and compare against the equivalent BATCH
query — the streaming analog of tests/test_differential_fuzz.py.

The per-operator parity pins (test_streaming_lag.py,
test_streaming_upsert.py) check hand-picked inputs; this suite hunts
unhand-picked interactions by randomizing the things the pins hold
fixed: key cardinality, tie density on the event-time axis, micro-batch
count and cut points, and (for the upsert twin) arrival ORDER — its
latest-wins fold is commutative, so the final state must equal the
batch winner under ANY shuffle of the input across batches.

Fifteen differential contracts:

- ``stream_fingerprint_dedup`` (r14) bucket partition ≡ the batch
  ``perceptual_dedup_components`` partition under shuffled multi-batch
  arrival — the contract that caught the float64 Int64-coercion hash
  corruption in the fingerprint mappers.
- ``stream_gaps`` on per-key in-order arrival ≡ the batch
  ``lag(t) OVER (PARTITION BY key ORDER BY t, id)`` window — checked
  both row-wise AND through a downstream gap-histogram aggregation
  (the composed stream→agg pipeline a deployment actually runs).
- ``stream_current_state`` final emission per key ≡ the batch
  latest-wins row (max by (t, id)) — on SHUFFLED arrival split across
  1-5 micro-batches.
- ``stream_ewma`` on in-order arrival ≡ the batch trailing-window fold
  with EXACT float equality (same IEEE operation order).
- ``stream_scd2`` closed intervals ≡ the batch ``scd2_build`` history
  (unique change times; tie semantics have their own hand pin).
- ``stream_debounce`` (r12) kept set ≡ an independent sequential greedy
  fold — strict debounce is NOT a window function (each keep depends on
  prior keeps), so the reference is a five-line python fold; randomized
  over gap, tie density, type cardinality, and micro-batch cuts.
- ``stream_heavy_hitters`` (r12) vs exact Counter truth: the MG
  guarantee (est ≤ true ≤ est + shard deduct; evicted ⇒ true ≤ deduct)
  on every item, AND the exactness regime (a shard whose distinct-item
  count never exceeds k reports exact counts, zero deduct) — randomized
  vocabulary, zipf skew, k, and cuts.
- ``stream_funnel_stages`` (r12) final per-user (depth, t_first,
  t_last) ≡ an independent sequential fold of the documented matching
  rule — a funnel match depends on PRIOR matches, so the reference is
  a python fold, not a window query; randomized stage tuples (incl.
  repeated stage types), horizons, tie density, and micro-batch cuts.
- ``stream_weighted_sample`` (r12) merged shard reservoirs ≡ the batch
  A-ES top-k EXACTLY (same ids, bitwise-equal keys) under randomized
  weight distributions (uniform / heavy-tie / all-constant), k, shard
  counts, SHUFFLED arrival and micro-batch cuts — min-k of a union is
  the min-k of per-shard min-k's, so nothing may shift the sample.
- ``interval_join_streams`` (r12) stream-stream interval join ≡ the
  batch join with the identical condition, as multisets, in two
  regimes: in-order arrival under a tight watermark (state eviction
  fires but nothing can be late), and shuffled arrival under a
  span-wide delay (order cannot matter) — randomized keys, tie
  density, `within` horizon, and per-side micro-batch cuts.
- ``tumbling_counts_stream`` (r12) native watermarked tumbling agg on
  in-order arrival ≡ the independent reference: exactly the windows
  with end ≤ max_event_time − delay (the eviction boundary probed and
  pinned INCLUSIVE), each with its full aggregate — randomized window
  size, delay incl. exact-boundary final events, keys, ties, cuts.
- ``session_stats_native`` (r12) native session_window on in-order
  arrival ≡ an independent inclusive-gap merge fold, emitted iff
  CLOSED (last_event + gap ≤ max_event_time) — randomized gaps, keys,
  tie grids that land events exactly gap apart (the merge boundary),
  and micro-batch cuts.
- ``stream_corpus_ingest`` (r12) the full ingest COMPOSITION
  (watermarked normalized dedup → token gate → PII audit/scrub):
  exactly one survivor per normalized key from the key's FIRST batch,
  and the stateless stages equal the batch operators recomputed on
  every survivor — randomized mutation shapes, PII density, gated-doc
  density, and per-drop micro-batches.
- ``stream_edf_ingest`` (r14) incremental EDF directory ingest under
  file churn / late files: availableNow catch-up passes over one
  checkpoint decode each file exactly once, and the accumulated
  samples equal the batch pipeline over the final directory in BOTH
  flavors (whole-file and record-aligned ranged).
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

pytestmark = pytest.mark.slow

from pyspark.sql import Window
from pyspark.sql import functions as F

from processor_edf_spark.streaming.lag import stream_gaps
from processor_edf_spark.streaming.upsert import stream_current_state

SCHEMA = "user_id long, event_id long, t long, value double"
N_GAP_SEEDS = 10
N_UPSERT_SEEDS = 10


def _gen_events(rng: random.Random) -> pd.DataFrame:
    n_users = rng.randint(3, 10)
    n = rng.randint(60, 240)
    # small t ranges force heavy (t) ties so the (t, id) tiebreak and
    # latest-wins comparisons actually decide rows
    t_cards = rng.choice([25, 200, 5_000])
    rows = [
        (
            rng.randrange(n_users),
            eid,
            rng.randint(0, t_cards) * 1_000_000,
            round(rng.uniform(-100.0, 100.0), 3),
        )
        for eid in range(n)
    ]
    return pd.DataFrame(rows, columns=["user_id", "event_id", "t", "value"])


def _write_drops(spark, pdf: pd.DataFrame, src: str, k: int) -> None:
    """k sequential single-file drops; the file source replays them in
    write order (maxFilesPerTrigger=1 → one micro-batch per drop)."""
    for i, chunk in enumerate(np.array_split(pdf, k)):
        spark.createDataFrame(chunk).coalesce(1).write.parquet(
            f"{src}/d{i:02d}.parquet"
        )


def _replay(spark, transform, src: str, ckpt: str, name: str):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    (
        transform(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    return spark.sql(f"select * from {name}").collect()


@pytest.mark.parametrize("seed", range(N_GAP_SEEDS))
def test_stream_gaps_differential(spark, tmp_path, seed):
    rng = random.Random(1000 + seed)
    pdf = _gen_events(rng).sort_values(["t", "event_id"])
    k = rng.randint(1, 5)
    _write_drops(spark, pdf, str(tmp_path / "in"), k)

    batch = spark.createDataFrame(pdf)
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    want_rows = batch.select(
        "user_id",
        "event_id",
        (F.col("t") - F.lag("t").over(w)).alias("gap"),
    ).collect()
    want = {(r["user_id"], r["event_id"], r["gap"]) for r in want_rows}

    got_rows = _replay(
        spark,
        stream_gaps,
        str(tmp_path / "in"),
        str(tmp_path / "ckpt"),
        f"fz_gaps_{seed}",
    )
    got = {(r["key"], r["event_id"], r["gap_usec"]) for r in got_rows}
    assert got == want and len(got) == len(pdf)

    # composed downstream aggregation: 10-second gap histogram
    want_hist: dict[int, int] = {}
    for _, _, gap in want:
        if gap is not None:
            b = int(gap) // 10_000_000
            want_hist[b] = want_hist.get(b, 0) + 1
    got_hist: dict[int, int] = {}
    for _, _, gap in got:
        if gap is not None:
            b = int(gap) // 10_000_000
            got_hist[b] = got_hist.get(b, 0) + 1
    assert got_hist == want_hist


@pytest.mark.parametrize("seed", range(N_UPSERT_SEEDS))
def test_stream_current_state_differential(spark, tmp_path, seed):
    rng = random.Random(2000 + seed)
    pdf = _gen_events(rng)
    # SHUFFLED arrival: latest-wins must converge regardless of order
    pdf = pdf.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    k = rng.randint(1, 5)
    _write_drops(spark, pdf, str(tmp_path / "in"), k)

    batch = spark.createDataFrame(pdf)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("t"), F.desc("event_id")
    )
    want = {
        (r["user_id"], r["t"], r["event_id"], r["value"])
        for r in batch.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "t", "event_id", "value")
        .collect()
    }

    got_rows = _replay(
        spark,
        stream_current_state,
        str(tmp_path / "in"),
        str(tmp_path / "ckpt"),
        f"fz_upsert_{seed}",
    )
    # final emission per key = the row with max (t, id) among emitted
    final: dict[int, tuple] = {}
    for r in got_rows:
        cur = final.get(r["user_id"])
        if cur is None or (r["t"], r["event_id"]) > (cur[1], cur[2]):
            final[r["user_id"]] = (
                r["user_id"], r["t"], r["event_id"], r["value"],
            )
    assert set(final.values()) == want and len(want) > 0


N_EWMA_SEEDS = 6


@pytest.mark.parametrize("seed", range(N_EWMA_SEEDS))
def test_stream_ewma_differential(spark, tmp_path, seed):
    """Seeded fold-order differential: the trailing-window EWMA twin on
    in-order arrival must equal the batch fold (same IEEE operation
    order → exact float equality), across randomized alpha, window,
    key cardinality, tie density and micro-batch cuts."""
    from processor_edf_spark.streaming.ewma import stream_ewma

    rng = random.Random(3000 + seed)
    alpha = rng.choice([0.1, 0.5])
    window = rng.choice([3, 20])
    pdf = _gen_events(rng).sort_values(["t", "event_id"])
    k = rng.randint(1, 4)
    _write_drops(spark, pdf, str(tmp_path / "in"), k)

    # batch expectation: per user in (t, id) order, fold the trailing
    # `window` values exactly as the registered batch oracle does
    want = {}
    for uid, grp in pdf.sort_values(["t", "event_id"]).groupby("user_id"):
        vals = list(grp["value"])
        ids = list(grp["event_id"])
        for i, eid in enumerate(ids):
            tail = vals[max(0, i - window + 1) : i + 1]
            acc = tail[0]
            for x in tail[1:]:
                acc = acc * (1 - alpha) + x * alpha
            want[(uid, eid)] = acc

    got_rows = _replay(
        spark,
        lambda s: stream_ewma(s, alpha=alpha, window=window),
        str(tmp_path / "in"),
        str(tmp_path / "ckpt"),
        f"fz_ewma_{seed}",
    )
    got = {(r["user_id"], r["event_id"]): r["ewma"] for r in got_rows}
    assert set(got) == set(want)
    for key_, v in want.items():
        assert got[key_] == v, (key_, got[key_], v)


N_SCD2_SEEDS = 6


@pytest.mark.parametrize("seed", range(N_SCD2_SEEDS))
def test_stream_scd2_differential(spark, tmp_path, seed):
    """Seeded SCD2 differential: the closed intervals emitted by the
    streaming fold on in-order arrival must equal the batch
    ``scd2_build`` history, across randomized key cardinality, change
    counts and micro-batch cuts.  Change times are unique per key —
    the tie semantics have their own hand pin
    (test_streaming_scd2.py); here ties would make BOTH engines'
    orderings legitimately ambiguous."""
    from processor_edf_spark.operators.scd2 import scd2_build
    from processor_edf_spark.streaming.scd2 import stream_scd2

    rng = random.Random(4000 + seed)
    n_users = rng.randint(3, 8)
    rows = []
    for uid in range(n_users):
        t = rng.randint(0, 50) * 1_000_000
        for _ in range(rng.randint(2, 40)):
            rows.append((uid, t, round(rng.uniform(-50.0, 50.0), 3)))
            t += rng.randint(1, 20) * 1_000_000  # strictly increasing
    pdf = pd.DataFrame(rows, columns=["user_id", "t", "value"]).sort_values(
        ["t", "user_id"]
    )
    k = rng.randint(1, 4)
    src = str(tmp_path / "in")
    for i, chunk in enumerate(np.array_split(pdf, k)):
        spark.createDataFrame(
            chunk, "user_id long, t long, value double"
        ).coalesce(1).write.parquet(f"{src}/d{i:02d}.parquet")

    want = {
        (r["user_id"], r["value"], r["valid_from_usec"], r["valid_to_usec"])
        for r in scd2_build(spark.createDataFrame(pdf))
        .filter("NOT is_current")
        .collect()
    }

    stream = (
        spark.readStream.schema("user_id long, t long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    (
        stream_scd2(stream)
        .writeStream.format("memory")
        .queryName(f"fz_scd2_{seed}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    got = {
        (r["user_id"], r["value"], r["valid_from_usec"], r["valid_to_usec"])
        for r in spark.sql(f"select * from fz_scd2_{seed}").collect()
    }
    assert got == want and len(want) > 0


# ---------------------------------------------------------------------------
# r12: strict-debounce differential — the stateful greedy fold vs an
# independent sequential reference (strict debounce is NOT a window
# function: each keep decision depends on prior keeps, so the reference
# is a five-line python fold over (t, id)-ordered events per key)
# ---------------------------------------------------------------------------

N_DEBOUNCE_SEEDS = 8
DEBOUNCE_SCHEMA = "user_id long, event_type string, event_id long, t long"


def _gen_typed_events(rng: random.Random) -> pd.DataFrame:
    n_users = rng.randint(2, 6)
    types = ["click", "view", "buy"][: rng.randint(1, 3)]
    n = rng.randint(60, 200)
    t_cards = rng.choice([20, 120, 2_000])  # heavy tie pressure at 20
    rows = [
        (
            rng.randrange(n_users),
            rng.choice(types),
            eid,
            rng.randint(0, t_cards) * 1_000_000,
        )
        for eid in range(n)
    ]
    return pd.DataFrame(
        rows, columns=["user_id", "event_type", "event_id", "t"]
    )


@pytest.mark.parametrize("seed", range(N_DEBOUNCE_SEEDS))
def test_stream_debounce_differential(spark, tmp_path, seed):
    from processor_edf_spark.streaming.debounce import stream_debounce

    rng = random.Random(5000 + seed)
    pdf = _gen_typed_events(rng).sort_values(["t", "event_id"])
    gap = rng.choice([1, 3, 10]) * 1_000_000
    k = rng.randint(1, 5)
    for i, chunk in enumerate(np.array_split(pdf, k)):
        spark.createDataFrame(
            chunk, DEBOUNCE_SCHEMA
        ).coalesce(1).write.parquet(f"{tmp_path}/in/d{i:02d}.parquet")

    # independent reference: greedy fold per (user, type) in (t, id) order
    want = set()
    last: dict[tuple, int] = {}
    for r in pdf.itertuples(index=False):
        key = (r.user_id, r.event_type)
        if key not in last or r.t - last[key] > gap:
            want.add((r.user_id, r.event_type, r.event_id, r.t))
            last[key] = r.t

    stream = (
        spark.readStream.schema(DEBOUNCE_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/in/*")
    )
    name = f"fz_debounce_{seed}"
    (
        stream_debounce(stream, gap_usec=gap)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    got = {
        (r["user_id"], r["event_type"], r["event_id"], r["t"])
        for r in spark.sql(f"select * from {name}").collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# r12: sharded Misra-Gries differential — randomized streams vs exact
# counts (the hand-pinned bounds test in test_trending_stream.py uses
# two fixed word lists; this randomizes vocabulary size, skew, k, and
# micro-batch cuts, and additionally pins the EXACTNESS regime: a shard
# whose distinct-item count never exceeds k must report exact counts
# with zero deduct)
# ---------------------------------------------------------------------------

N_TRENDING_SEEDS = 6


@pytest.mark.parametrize("seed", range(N_TRENDING_SEEDS))
def test_stream_heavy_hitters_differential(spark, tmp_path, seed):
    import collections

    from processor_edf_spark.operators.textfns import hash64
    from processor_edf_spark.streaming.trending import stream_heavy_hitters

    rng = random.Random(7000 + seed)
    vocab_n = rng.choice([6, 20, 80])
    k = rng.choice([4, 8, 16])
    shards = 4
    n = rng.randint(150, 500)
    vocab = [f"w{i}" for i in range(vocab_n)]
    weights = [1.0 / (i + 1) for i in range(vocab_n)]  # zipf-ish skew
    items = rng.choices(vocab, weights=weights, k=n)
    cuts = rng.randint(1, 5)
    pdf = pd.DataFrame({"item": items})
    for i, chunk in enumerate(np.array_split(pdf, cuts)):
        spark.createDataFrame(chunk, "item string").coalesce(1).write.parquet(
            f"{tmp_path}/in/d{i:02d}.parquet"
        )

    # production routing for the expected shard of every vocab item
    route = {
        r["item"]: r["shard"]
        for r in spark.createDataFrame(
            pd.DataFrame({"item": vocab}), "item string"
        )
        .select(
            "item",
            F.pmod(hash64(F.col("item"), salt="hh"), F.lit(shards))
            .cast("int")
            .alias("shard"),
        )
        .collect()
    }

    emitted: list = []

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            emitted.append((batch_id, r))

    stream = (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/in/*")
    )
    (
        stream_heavy_hitters(stream, "item", k=k, shards=shards)
        .writeStream.foreachBatch(sink)
        .queryName(f"fz_mg_{seed}")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )

    # final state per shard = the rows of its LAST emission
    last_bid: dict[int, int] = {}
    for bid, r in emitted:
        last_bid[r["shard"]] = max(last_bid.get(r["shard"], -1), bid)
    summary: dict[int, dict[str, int]] = {}
    deduct: dict[int, int] = {}
    for bid, r in emitted:
        if bid != last_bid[r["shard"]]:
            continue
        if r["item"] is None:
            deduct[r["shard"]] = r["deduct"]
        else:
            summary.setdefault(r["shard"], {})[r["item"]] = r["est_count"]

    true = collections.Counter(items)
    shard_distinct = collections.Counter(route[i] for i in set(items))
    for item, cnt in true.items():
        sh = route[item]
        est = summary.get(sh, {}).get(item)
        d = deduct.get(sh, 0)
        if est is not None:
            # the MG guarantee: est <= true <= est + shard deduct
            assert est <= cnt <= est + d, (item, est, cnt, d)
        else:
            # evicted items were dominated by the deduct total
            assert cnt <= d, (item, cnt, d)
        if shard_distinct[sh] <= k:
            # exactness regime: never spilled -> exact, no deduct
            assert d == 0 and est == cnt, (item, est, cnt, d)


# ---------------------------------------------------------------------------
# seventh contract (r12): the stateful funnel vs an independent fold
# ---------------------------------------------------------------------------

N_FUNNEL_SEEDS = 8
_TYPE_POOL = ["view", "click", "cart", "purchase", "refund"]


def _funnel_fold(rows, stages, horizon):
    """Independent sequential reference of the funnel matching rule
    (stage i = earliest event of its type strictly after stage i-1,
    within horizon of stage 0) — a python fold, NOT a window query,
    because each match depends on prior matches."""
    per_user: dict[int, list[int]] = {}
    for uid, typ, t in rows:
        times = per_user.setdefault(uid, [-1] * len(stages))
        for i, stage in enumerate(stages):
            if times[i] != -1 or typ != stage:
                continue
            if i == 0:
                times[i] = t
            elif (
                times[i - 1] != -1
                and t > times[i - 1]
                and t <= times[0] + horizon
            ):
                times[i] = t
            break
    out = {}
    for uid, times in per_user.items():
        depth = 0
        for v in times:
            if v == -1:
                break
            depth += 1
        out[uid] = (
            depth,
            times[0] if times[0] != -1 else None,
            times[depth - 1] if depth else None,
        )
    return out


@pytest.mark.parametrize("seed", range(N_FUNNEL_SEEDS))
def test_stream_funnel_differential(spark, tmp_path, seed):
    """Randomized funnel shapes (stage count 2-4, sometimes with a
    REPEATED stage type), horizons spanning never-expires to
    tie-adjacent, heavy t ties, in-order arrival split across 1-5
    micro-batches: the stream's final per-user (depth, t_first,
    t_last) must equal the independent fold's."""
    from processor_edf_spark.streaming.funnel import stream_funnel_stages

    rng = random.Random(7000 + seed)
    n_stages = rng.randint(2, 4)
    if rng.random() < 0.3:  # repeated stage type (click -> click)
        stages = tuple(rng.choices(_TYPE_POOL, k=n_stages))
    else:
        stages = tuple(rng.sample(_TYPE_POOL, n_stages))
    horizon = rng.choice([3_000_000, 40_000_000, 10**15])

    n_users = rng.randint(3, 8)
    n = rng.randint(80, 200)
    t_cards = rng.choice([20, 150, 4_000])
    pdf = pd.DataFrame(
        [
            (
                rng.randrange(n_users),
                eid,
                rng.choice(_TYPE_POOL),
                rng.randint(0, t_cards) * 1_000_000,
            )
            for eid in range(n)
        ],
        columns=["user_id", "event_id", "event_type", "t"],
    ).sort_values(["t", "event_id"])

    k = rng.randint(1, 5)
    _write_drops(spark, pdf, str(tmp_path / "in"), k)

    want = _funnel_fold(
        list(zip(pdf["user_id"], pdf["event_type"], pdf["t"])),
        stages,
        horizon,
    )
    # drop users whose events never touch a stage type (the stream's
    # pre-shuffle filter removes them before any state exists)
    stage_set = set(stages)
    touched = {
        int(u)
        for u, typ in zip(pdf["user_id"], pdf["event_type"])
        if typ in stage_set
    }
    want = {u: v for u, v in want.items() if u in touched}

    stream = (
        spark.readStream.schema("user_id long, event_id long, "
                                "event_type string, t long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in") + "/*")
    )
    (
        stream_funnel_stages(stream, stages, horizon)
        .writeStream.format("memory")
        .queryName(f"fz_funnel_{seed}")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    rows = spark.sql(f"select * from fz_funnel_{seed}").collect()
    got = {}
    for r in rows:  # depth is monotone: keep each user's deepest row
        cur = got.get(r["user_id"])
        if cur is None or r["depth"] > cur[0]:
            got[r["user_id"]] = (r["depth"], r["t_first"], r["t_last"])
    assert got == want


# ---------------------------------------------------------------------------
# eighth contract (r12): the sharded A-ES reservoir vs the batch top-k
# ---------------------------------------------------------------------------

N_RESERVOIR_SEEDS = 8


@pytest.mark.parametrize("seed", range(N_RESERVOIR_SEEDS))
def test_stream_reservoir_differential(spark, tmp_path, seed):
    """Randomized weighted-reservoir runs: document counts, weight
    distributions (incl. heavy weight ties and all-equal weights),
    k, shard counts, SHUFFLED arrival order and 1-5 micro-batch cuts
    — the merged shard reservoirs must equal the batch A-ES top-k
    EXACTLY (same ids, bitwise-equal keys): min-k of a union is the
    min-k of per-shard min-k's, so neither sharding nor batch cuts
    nor arrival order may shift the sample.  The per-operator pin
    (tests/test_streaming_sample.py) checks one fixed corpus at the
    default geometry; this randomizes everything it holds fixed."""
    from processor_edf_spark.plans.corpus_extra import aes_sample_key
    from processor_edf_spark.streaming.sample import (
        merge_shard_reservoirs,
        stream_weighted_sample,
    )

    rng = random.Random(8000 + seed)
    n = rng.randint(40, 300)
    wmode = rng.choice(["uniform", "ties", "constant"])
    if wmode == "uniform":
        weights = [rng.randint(1, 10_000) for _ in range(n)]
    elif wmode == "ties":
        weights = [rng.choice([1, 5, 1000]) for _ in range(n)]
    else:
        weights = [7] * n
    ids = rng.sample(range(1, 1_000_000), n)
    pdf = pd.DataFrame({"doc_id": ids, "n_chars": weights})
    k = rng.choice([3, 10, 50])
    n_shards = rng.choice([1, 3, 8])

    # batch truth: the same Spark-side key expression, global top-k
    key, weight = aes_sample_key("doc_id", "n_chars")
    want = [
        (r["doc_id"], r["sample_key"])
        for r in spark.createDataFrame(pdf)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            weight.cast("long").alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.col("sample_key").asc(), F.col("doc_id").asc())
        .limit(k)
        .collect()
    ]

    shuffled = pdf.sample(frac=1.0, random_state=seed)
    cuts = rng.randint(1, 5)
    _write_drops(spark, shuffled, str(tmp_path / "in"), cuts)
    stream = (
        spark.readStream.schema("doc_id long, n_chars long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in") + "/*")
    )
    (
        stream_weighted_sample(stream, k=k, n_shards=n_shards)
        .writeStream.format("memory")
        .queryName(f"fz_reservoir_{seed}")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    got = [
        (r["doc_id"], r["sample_key"])
        for r in merge_shard_reservoirs(
            spark.sql(f"select * from fz_reservoir_{seed}"), k=k
        )
        .orderBy(F.col("sample_key").asc(), F.col("doc_id").asc())
        .collect()
    ]
    assert got == want  # identical ids AND bitwise-identical keys


# ---------------------------------------------------------------------------
# ninth contract (r12): the stream-stream interval join vs the batch join
# ---------------------------------------------------------------------------

N_IJOIN_SEEDS = 8


@pytest.mark.parametrize("seed", range(N_IJOIN_SEEDS))
def test_stream_interval_join_differential(spark, tmp_path, seed):
    """Randomized stream-stream interval joins vs the BATCH join with
    the identical condition: key cardinality, event-time tie density,
    the `within` horizon, micro-batch cuts, and the arrival regime all
    randomize.  Two regimes, both of which must be exact:

    - in-order arrival per side with a tight watermark delay — state
      eviction actually fires, but a row on either side can never be
      late (its ts >= its side's running max >= the global watermark),
      and a buffered partner is evicted only once the time bound rules
      out every future match;
    - shuffled arrival with a delay wider than the whole time span —
      nothing is ever late or evicted, so arrival order cannot matter.

    Matches are multisets (a user with several clicks and several
    purchases yields the full cross product inside the bound)."""
    from datetime import datetime, timedelta

    from processor_edf_spark.streaming.sessions import interval_join_streams

    rng = random.Random(9000 + seed)
    n_users = rng.randint(3, 8)
    t_card = rng.choice([30, 300, 1200])  # minutes of spread
    within_min = rng.choice([15, 60, 360])
    inorder = rng.random() < 0.5
    delay = "30 minutes" if inorder else "96 hours"
    base = datetime(2026, 3, 1, 0, 0)

    def gen_side(n):
        return pd.DataFrame(
            {
                "user_id": [rng.randrange(n_users) for _ in range(n)],
                "m": [rng.randint(0, t_card) for _ in range(n)],
            }
        )

    lpdf = gen_side(rng.randint(30, 120))
    rpdf = gen_side(rng.randint(30, 120))
    lpdf["lts"] = [base + timedelta(minutes=int(m)) for m in lpdf["m"]]
    rpdf["rts"] = [base + timedelta(minutes=int(m)) for m in rpdf["m"]]
    lpdf, rpdf = lpdf[["user_id", "lts"]], rpdf[["user_id", "rts"]]
    if inorder:
        lpdf = lpdf.sort_values("lts")
        rpdf = rpdf.sort_values("rts")
    else:
        lpdf = lpdf.sample(frac=1.0, random_state=seed)
        rpdf = rpdf.sample(frac=1.0, random_state=seed + 1)

    # batch truth: identical condition on batch frames
    lb = spark.createDataFrame(lpdf)
    rb = spark.createDataFrame(rpdf)
    cond = (
        (lb["user_id"] == rb["user_id"])
        & (rb["rts"] >= lb["lts"])
        & (rb["rts"] <= lb["lts"] + F.expr(f"INTERVAL {within_min} minutes"))
    )
    want = sorted(
        (r["user_id"], r["lts"], r["rts"])
        for r in lb.join(rb, cond)
        .select(lb["user_id"].alias("user_id"), "lts", "rts")
        .collect()
    )

    for side, pdf, k in (
        ("l", lpdf, rng.randint(1, 4)),
        ("r", rpdf, rng.randint(1, 4)),
    ):
        _write_drops(spark, pdf, str(tmp_path / side), k)
    clicks = (
        spark.readStream.schema("user_id long, lts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "l") + "/*")
    )
    buys = (
        spark.readStream.schema("user_id long, rts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "r") + "/*")
    )
    out = interval_join_streams(
        clicks, buys, "user_id",
        within=f"{within_min} minutes", delay=delay,
    )
    (
        out.writeStream.format("memory")
        .queryName(f"fz_ijoin_{seed}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    got = sorted(
        (r["user_id"], r["lts"], r["rts"])
        for r in spark.sql(f"select * from fz_ijoin_{seed}").collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# tenth contract (r12): the native watermarked tumbling agg vs a fold
# ---------------------------------------------------------------------------

N_TUMBLE_SEEDS = 8


@pytest.mark.parametrize("seed", range(N_TUMBLE_SEEDS))
def test_stream_tumbling_watermark_differential(spark, tmp_path, seed):
    """Randomized watermarked tumbling-window aggregations (the native
    JVM path, ``tumbling_counts_stream``) vs an independent
    reference: on IN-ORDER arrival no row can ever be late (its event
    time is >= every earlier watermark), so the emitted set must be
    exactly the windows whose end <= max_event_time - delay (the
    eviction boundary measured and pinned INCLUSIVE: a window whose
    end equals the final watermark emits; one microsecond less of
    watermark holds it back), each carrying its FULL aggregate.
    Randomizes window size, delay (including an exact-boundary final
    event in half the seeds), key cardinality, event-time tie density
    and micro-batch cuts."""
    from datetime import datetime, timedelta

    from processor_edf_spark.streaming.sessions import tumbling_counts_stream

    rng = random.Random(10_000 + seed)
    win_min = rng.choice([10, 60, 120])
    delay_min = rng.choice([15, 60, 61])
    n_users = rng.randint(2, 6)
    t_card = rng.choice([90, 600, 2400])
    n = rng.randint(50, 160)
    base = datetime(2026, 4, 1, 0, 0)
    minutes = sorted(rng.randint(0, t_card) for _ in range(n))
    if rng.random() < 0.5:
        # exact-boundary final event: watermark lands on a window end
        last = ((max(minutes) // win_min) + 2) * win_min + delay_min
        minutes.append(last)
    pdf = pd.DataFrame(
        {
            "user_id": [rng.randrange(n_users) for _ in minutes],
            "ts": [base + timedelta(minutes=m) for m in minutes],
            "value": [round(rng.uniform(-10, 10), 3) for _ in minutes],
        }
    )

    # independent reference: full aggregates per (window, key), emitted
    # iff window_end <= max_ts - delay
    w_final = pdf["ts"].max() - timedelta(minutes=delay_min)
    want = {}
    for _, r in pdf.iterrows():
        mins = int((r["ts"] - base).total_seconds() // 60)
        wstart = base + timedelta(minutes=(mins // win_min) * win_min)
        key = (wstart, int(r["user_id"]))
        cur = want.get(key, (0, 0.0))
        want[key] = (cur[0] + 1, cur[1] + float(r["value"]))
    want = {
        k: v
        for k, v in want.items()
        if k[0] + timedelta(minutes=win_min) <= w_final
    }

    k = rng.randint(1, 5)
    _write_drops(spark, pdf, str(tmp_path / "in"), k)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in") + "/*")
    )
    out = tumbling_counts_stream(
        stream, ts_col="ts", key_col="user_id",
        window=f"{win_min} minutes", delay=f"{delay_min} minutes",
    )
    (
        out.writeStream.format("memory")
        .queryName(f"fz_tumble_{seed}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    rows = spark.sql(f"select * from fz_tumble_{seed}").collect()
    got = {
        (r["window_start"], r["user_id"]): (r["n_events"], r["sum_value"])
        for r in rows
    }
    assert set(got) == set(want)
    for key in want:
        assert got[key][0] == want[key][0], key
        assert abs(got[key][1] - want[key][1]) < 1e-6, key


# ---------------------------------------------------------------------------
# eleventh contract (r12): native session_window vs the batch sessionizer
# ---------------------------------------------------------------------------

N_SESSION_SEEDS = 8


@pytest.mark.parametrize("seed", range(N_SESSION_SEEDS))
def test_stream_session_window_differential(spark, tmp_path, seed):
    """Randomized native session_window runs vs an independent batch
    sessionization fold: on IN-ORDER arrival (watermark 0 — any
    disorder would be late by definition) the emitted sessions must be
    exactly the CLOSED ones — last_event + gap <= max_event_time, the
    session_window emission rule — with (start, end, dwell, n) built
    by the documented inclusive-gap merge (a gap of exactly gap_usec
    merges, one microsecond more splits).  Randomizes gap size, key
    cardinality, tie density (incl. grids that land events exactly
    gap_usec apart, the boundary the fold must call MERGE) and
    micro-batch cuts."""
    from processor_edf_spark.streaming.sessions import session_stats_native

    rng = random.Random(11_000 + seed)
    gap = rng.choice([2, 7, 25]) * 1_000_000
    n_users = rng.randint(2, 6)
    n = rng.randint(60, 200)
    # minute-ish grids with steps that hit the exact-gap boundary
    step = rng.choice([1_000_000, gap, gap // 2])
    rows = [
        (
            rng.randrange(n_users),
            rng.randint(0, 400) * step,
        )
        for _ in range(n)
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "t"]).sort_values(
        ["t", "user_id"]
    )

    # independent fold: inclusive-gap merge per key, then keep closed
    t_max = int(pdf["t"].max())
    want = set()
    for uid in sorted(set(pdf["user_id"])):
        ts = sorted(int(t) for t in pdf[pdf["user_id"] == uid]["t"])
        start, prev, count = ts[0], ts[0], 1
        sessions = []
        for t in ts[1:]:
            if t - prev <= gap:
                prev, count = t, count + 1
            else:
                sessions.append((start, prev, count))
                start, prev, count = t, t, 1
        sessions.append((start, prev, count))
        for s, e, c in sessions:
            if e + gap <= t_max:  # closed by the final watermark
                want.add((uid, s, e, e - s, c))

    k = rng.randint(1, 5)
    _write_drops(spark, pdf, str(tmp_path / "in"), k)
    stream = (
        spark.readStream.schema("user_id long, t long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in") + "/*")
    )
    out = session_stats_native(stream, gap_usec=gap)
    (
        out.writeStream.format("memory")
        .queryName(f"fz_sess_{seed}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    got = {
        (r["key"], r["start_usec"], r["end_usec"], r["dwell_usec"],
         r["n_events"])
        for r in spark.sql(f"select * from fz_sess_{seed}").collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# twelfth contract (r12): the corpus-ingest composition vs batch recompute
# ---------------------------------------------------------------------------

N_CORPUS_SEEDS = 6


@pytest.mark.parametrize("seed", range(N_CORPUS_SEEDS))
def test_stream_corpus_ingest_differential(spark, tmp_path, seed):
    """Randomized corpus drops through the full ingest composition
    (watermarked normalized-content dedup → token gate → PII audit +
    scrub).  Invariants that hold regardless of which duplicate inside
    one micro-batch wins the dedup tie:

    - exactly ONE survivor per normalized content key, and the
      surviving key set is exactly the keys whose docs pass the gate
      (every mutation of a base text shares its token count);
    - the survivor arrived in the key's FIRST batch (a later-batch
      duplicate can never replace an in-state key within the horizon);
    - the stateless stages equal the BATCH operators recomputed on the
      survivor rows exactly (same pii counts, same scrubbed text).
    Randomizes the base-text pool, whitespace/case mutation shapes,
    PII density, short-doc (gated) density, and micro-batch cuts."""
    from datetime import datetime, timedelta

    from processor_edf_spark.operators.redaction import (
        pii_stats,
        redact_pii,
    )
    from processor_edf_spark.streaming.corpus import stream_corpus_ingest

    rng = random.Random(12_000 + seed)
    n_base = rng.randint(5, 12)
    bases = [
        " ".join(
            rng.choice(["alpha", "beta", "gamma", "delta", "omega",
                        "sigma", "data", "corpus"])
            for _ in range(rng.randint(3, 8))
        )
        + (f" mail{b}@example.com" if rng.random() < 0.4 else "")
        for b in range(n_base)
    ]
    rows = []
    t0 = datetime(2026, 5, 1, 9, 0)
    doc_id = 0
    n_docs = rng.randint(40, 120)
    for i in range(n_docs):
        if rng.random() < 0.15:
            text = rng.choice(["tiny", "two words", "x"])  # gated
        else:
            base = rng.choice(bases)
            mut = rng.random()
            if mut < 0.33:
                text = "  " + base.replace(" ", "   ") + " "
            elif mut < 0.66:
                text = base.upper()
            else:
                text = base
        rows.append((doc_id, text, "en", t0 + timedelta(seconds=i)))
        doc_id += 1
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "ts"])

    k = rng.randint(1, 4)
    # flat single-FILE drops with increasing mtimes: the corpus source
    # reads the directory itself (no glob), and the file source orders
    # micro-batches by modification time
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batch_of = {}
    now = time.time()
    for bi, chunk in enumerate(np.array_split(pdf, k)):
        for d in chunk["doc_id"]:
            batch_of[int(d)] = bi
        fp = str(in_dir / f"d{bi:02d}.parquet")
        tbl = pa.Table.from_pandas(chunk, preserve_index=False)
        ti = tbl.schema.get_field_index("ts")
        tbl = tbl.set_column(
            ti, "ts", tbl["ts"].cast(pa.timestamp("us"))
        )
        pq.write_table(tbl, fp)
        os.utime(fp, (now + bi, now + bi))

    out_df = stream_corpus_ingest(
        spark, str(in_dir), dedup_delay="2 hours",
        max_files_per_trigger=1,
    )
    (
        out_df.writeStream.format("memory")
        .queryName(f"fz_corpus_{seed}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    got = spark.sql(f"select * from fz_corpus_{seed}").collect()

    def norm(t):
        return " ".join(t.split()).lower()

    # expected surviving keys: normalized keys whose docs pass the gate
    gate = lambda t: len(t.split()) >= 3  # noqa: E731
    key_first_batch = {}
    for _, r in pdf.iterrows():
        kk = norm(r["text"])
        b = batch_of[int(r["doc_id"])]
        key_first_batch[kk] = min(key_first_batch.get(kk, b), b)
    want_keys = {
        norm(t) for t in pdf["text"] if gate(norm(t))
    }
    got_by_key = {}
    for r in got:
        kk = norm(r["text"])
        assert kk not in got_by_key, f"duplicate survivor for {kk!r}"
        got_by_key[kk] = r
    assert set(got_by_key) == want_keys
    for kk, r in got_by_key.items():
        # first-batch rule
        assert batch_of[r["doc_id"]] == key_first_batch[kk], kk
        # stateless stages == batch recompute on the survivor row
        one = spark.createDataFrame(
            [(r["doc_id"], r["text"])], "doc_id long, text string"
        ).withColumn(
            "n_tokens", F.size(F.split(F.trim("text"), r"\s+"))
        )
        b = redact_pii(
            pii_stats(one, text_col="text"),
            text_col="text", out_col="clean_text",
        ).collect()[0]
        assert r["n_tokens"] == b["n_tokens"]
        assert r["clean_text"] == b["clean_text"]
        for c in b.asDict():
            if c.startswith("n_pii") or c.startswith("pii"):
                assert r[c] == b[c], (kk, c)


# ---------------------------------------------------------------------------
# contract 13 (r13): persisted ANN index under CONCURRENT appends —
# seeded random overlapping drops through two racing writers (the
# injected pre-commit race forces the loser's re-check on every batch)
# must leave the index IDENTICAL to a serial single-writer application
# of the same drops: same code rows, same versions count shape, same
# search results, same staleness audit.  The pytest-level race pins
# (test_ann_index.py) check one hand-picked interleave; this randomizes
# batch contents, overlap density, and batch count.
# ---------------------------------------------------------------------------

N_ANN_SEEDS = 4


@pytest.mark.parametrize("seed", range(N_ANN_SEEDS))
def test_ann_concurrent_append_differential(spark, tmp_path, seed):
    import numpy as np

    from processor_edf_spark.operators.ann_index import (
        ann_index_append,
        ann_index_build,
        ann_index_codes,
        ann_index_search,
        ann_index_staleness,
    )

    rng = random.Random(7100 + seed)
    SCHEMA = "vec_id long, embedding array<double>"

    def cluster_vec(i, d=8):
        g = i % 4
        return [100.0 * g + ((i // 4 + t) % 3) for t in range(d)]

    def vecs(ids):
        return spark.createDataFrame(
            [(int(i), cluster_vec(int(i))) for i in ids], SCHEMA
        )

    base_ids = list(range(48))
    n_rounds = rng.randint(2, 4)
    pool = list(range(100, 100 + rng.randint(10, 24)))
    batches_a, batches_b = [], []
    for _ in range(n_rounds):
        # overlapping drops: the two writers share some vec_ids within
        # and across rounds (exactly-once admission must hold anyway)
        batches_a.append(sorted(rng.sample(pool, rng.randint(1, 5))))
        batches_b.append(sorted(rng.sample(pool, rng.randint(1, 5))))

    # --- concurrent run: every A-append races B's same-round append
    # via the injected pre-commit hook (B commits first, A re-checks)
    conc_dir = str(tmp_path / "conc")
    ann_index_build(
        spark, vecs(base_ids), conc_dir,
        n_cells=4, m=4, k=8, sample_size=64,
    )
    for a_ids, b_ids in zip(batches_a, batches_b):
        ann_index_append(
            spark, vecs(a_ids), conc_dir,
            _pre_commit_hook=lambda b=b_ids: ann_index_append(
                spark, vecs(b), conc_dir
            ),
        )

    # --- serial oracle: same drops, single writer, in the effective
    # commit order of the concurrent run (B then A per round)
    ser_dir = str(tmp_path / "ser")
    ann_index_build(
        spark, vecs(base_ids), ser_dir,
        n_cells=4, m=4, k=8, sample_size=64,
    )
    for a_ids, b_ids in zip(batches_a, batches_b):
        ann_index_append(spark, vecs(b_ids), ser_dir)
        ann_index_append(spark, vecs(a_ids), ser_dir)

    cols = sorted(ann_index_codes(spark, conc_dir).columns)
    conc_rows = sorted(
        map(tuple, ann_index_codes(spark, conc_dir).select(cols).collect())
    )
    ser_rows = sorted(
        map(tuple, ann_index_codes(spark, ser_dir).select(cols).collect())
    )
    assert conc_rows == ser_rows
    want_ids = set(base_ids) | {
        i for b in batches_a + batches_b for i in b
    }
    got_ids = {r[cols.index("vec_id")] for r in conc_rows}
    assert got_ids == want_ids
    assert len(conc_rows) == len(want_ids)  # exactly-once admission

    # search parity: identical neighbors through both indexes
    Q = np.array([cluster_vec(3), cluster_vec(101)], dtype=np.float64)
    qids = np.array([0, 1])
    scols = None
    res = []
    for d in (conc_dir, ser_dir):
        df = ann_index_search(spark, d, Q, qids, k=5, nprobe=2)
        scols = scols or sorted(df.columns)
        res.append(sorted(map(tuple, df.select(scols).collect())))
    assert res[0] == res[1]

    # staleness audit parity (pure SQL over persisted rows)
    sa = ann_index_staleness(spark, conc_dir)
    sb = ann_index_staleness(spark, ser_dir)
    assert sa == sb


# ---------------------------------------------------------------------------
# contract 14 (r14): incremental EDF directory ingest (availableNow)
# vs the batch pipeline under file churn / late files
# ---------------------------------------------------------------------------

N_EDF_INGEST_SEEDS = 3


@pytest.mark.parametrize("seed", range(N_EDF_INGEST_SEEDS))
def test_stream_edf_ingest_differential(spark, tmp_path, monkeypatch, seed):
    """EDF files land in WAVES — including a late straggler that
    arrives only after the first availableNow pass already committed —
    and every wave is caught up with trigger(availableNow=True) over
    the SAME checkpoint.  Invariants:

    - exactly-once file decode across passes (the checkpointed file
      source never re-emits a processed file: accumulated row count
      equals the batch count, so churn cannot double wave-1 samples);
    - the accumulated streamed sample multiset equals the BATCH
      pipeline recomputed over the final directory, row for row —
      at the default slice size (one slice per file) and at a slice
      size small enough to split every file."""
    import math

    from processor_edf_spark.pipeline import process_edf_directory
    from processor_edf_spark.sources import edf as edf_mod
    from processor_edf_spark.streaming.sessions import (
        stream_edf_directory,
    )
    from tests.edf_fixtures import write_edf

    rng = random.Random(14_000 + seed)
    in_dir = tmp_path / "edf_in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "edf_out")
    ckpt = str(tmp_path / "edf_ckpt")

    def make_file(i: int) -> None:
        rate = rng.choice([8, 16, 32])
        sigs = [
            {
                "label": f"s{seed}f{i}c{j}",
                "unit": "uV",
                "rate": rate,
                "gen": (
                    lambda f: lambda t: 40.0 * np.sin(2 * math.pi * f * t)
                )(j + 1.0),
            }
            for j in range(rng.randint(1, 3))
        ]
        write_edf(str(in_dir / f"f{i:02d}.edf"), sigs, rng.randint(2, 5))

    n_files = rng.randint(3, 6)
    waves = np.array_split(np.arange(n_files), rng.randint(2, 3))

    def catch_up():
        (
            stream_edf_directory(spark, str(in_dir))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(300)
        )

    for wave in waves:
        for i in wave:
            make_file(int(i))
        catch_up()  # the earlier waves' files are already committed

    streamed = (
        spark.read.parquet(out_dir)
        .withColumn("file", F.element_at(F.split("file", "/"), -1))
    )
    batch, _ch, _ann = process_edf_directory(spark, str(in_dir))
    monkeypatch.setattr(edf_mod, "SLICE_BYTES", 512)
    ranged, _chr, _annr = process_edf_directory(spark, str(in_dir))

    def rows(df):
        return sorted(
            (r["file"], r["channel"], r["t_usec"], r["value"])
            for r in df.collect()
        )

    got = rows(streamed)
    for flavor in (batch, ranged):
        want = rows(
            flavor.withColumn(
                "file", F.element_at(F.split("file", "/"), -1)
            )
        )
        assert len(got) == len(want)
        assert got == want


# ---------------------------------------------------------------------------
# contract 15 (r14): streaming perceptual fingerprint dedup ≡ the batch
# components partition
# ---------------------------------------------------------------------------

N_FP_SEEDS = 4


@pytest.mark.parametrize("seed", range(N_FP_SEEDS))
def test_stream_fingerprint_dedup_differential(spark, tmp_path, seed):
    """Randomized media drops (WAV/FLAC members, power-of-two gain
    variants, SHUFFLED doc ids split across mtime-ordered files)
    through the stateful fingerprint registry.  Invariants:

    - the doc partition by emitted rep_id equals the BATCH
      ``perceptual_dedup_components`` partition exactly (codec + gain
      invariance holds end-to-end under streaming arrival);
    - exactly one is_rep per bucket, the rep belongs to its bucket,
      arrived in the bucket's FIRST batch, and is the smallest doc_id
      among the bucket's first-batch members;
    - an undecodable payload never reaches the output."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from processor_edf_spark.operators.audio_dedup import (
        audio_perceptual_fingerprints,
    )
    from processor_edf_spark.operators.flac import encode_flac
    from processor_edf_spark.operators.image_dedup import (
        perceptual_dedup_components,
    )
    from processor_edf_spark.operators.media_codecs import (
        encode_wav_pcm16,
    )
    from processor_edf_spark.streaming.fingerprint import (
        stream_fingerprint_dedup,
    )

    rng = random.Random(15_000 + seed)
    n_base = rng.randint(3, 7)
    rows = []
    doc_id = 0
    base_of = {}
    for b in range(n_base):
        nprng = np.random.default_rng(7_000 + 31 * seed + b)
        x = nprng.integers(-1024, 1024, size=2304, dtype=np.int64)
        n_members = rng.randint(2, 4)
        for m in range(n_members):
            gain = 1 << rng.randint(0, 3)
            xi = x * gain
            if rng.random() < 0.5:
                payload = encode_wav_pcm16(xi / 32767.0, 8000)
            else:
                payload = encode_flac(xi, 8000)
            rows.append((doc_id, payload))
            base_of[doc_id] = b
            doc_id += 1
    bad_id = doc_id
    rows.append((bad_id, b"not audio"))
    rng.shuffle(rows)

    k = rng.randint(1, 4)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batch_of = {}
    now = time.time()
    chunks = np.array_split(np.arange(len(rows)), k)
    for bi, idxs in enumerate(chunks):
        chunk = [rows[i] for i in idxs]
        for d, _p in chunk:
            batch_of[d] = bi
        fp = str(in_dir / f"d{bi:02d}.parquet")
        tbl = pa.Table.from_pydict(
            {
                "doc_id": [d for d, _ in chunk],
                "payload": [p for _, p in chunk],
            },
            schema=pa.schema(
                [("doc_id", pa.int64()), ("payload", pa.binary())]
            ),
        )
        pq.write_table(tbl, fp)
        os.utime(fp, (now + bi, now + bi))

    out_df = stream_fingerprint_dedup(spark, str(in_dir))
    (
        out_df.writeStream.format("memory")
        .queryName(f"fz_fpdedup_{seed}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    got = spark.sql(f"select * from fz_fpdedup_{seed}").collect()

    # undecodable payload excluded
    assert all(r["doc_id"] != bad_id for r in got)
    assert len(got) == len(rows) - 1

    # batch partition
    media = spark.createDataFrame(
        rows, "doc_id long, payload binary"
    )
    fps = audio_perceptual_fingerprints(media)
    comps = perceptual_dedup_components(fps, "afp", max_hamming=0)
    batch_part = {}
    for r in comps.collect():
        if r["doc_id"] == bad_id:
            continue
        batch_part.setdefault(r["component"], set()).add(r["doc_id"])

    stream_part = {}
    rep_rows = {}
    for r in got:
        stream_part.setdefault(r["rep_id"], set()).add(r["doc_id"])
        if r["is_rep"]:
            assert r["doc_id"] not in rep_rows
            rep_rows[r["rep_id"]] = r
    assert sorted(stream_part.values(), key=min) == sorted(
        batch_part.values(), key=min
    )
    # rep discipline
    for rep, members in stream_part.items():
        assert rep in members
        assert rep_rows[rep]["doc_id"] == rep
        first_batch = min(batch_of[d] for d in members)
        firsts = [d for d in members if batch_of[d] == first_batch]
        assert batch_of[rep] == first_batch
        assert rep == min(firsts)
        # every member adopted the same rep
        for r in got:
            if r["doc_id"] in members:
                assert r["rep_id"] == rep
