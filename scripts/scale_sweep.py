#!/usr/bin/env python
"""Replica scale sweep (the BASELINE.md "would the plan survive a
scale-up" probe, now committed as a reusable script): replicate the big
tables ×K with shifted ids and light mutation into /tmp dirs, then
re-time selected queries (warm second runs).

The replica corpus is deliberately DUPLICATION-HEAVY — every original
document gains K-1 near-copies (one extra distinct token each), so
dedup/pair queries are stressed at their worst case while scan/agg
queries see plain K× volume.

Usage:
    python scripts/scale_sweep.py [xK ...] [--q name1,name2,...]
Defaults: x1 x4 x8 over the r5 batch-2 queries.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from processor_edf_spark.schemas import TESTDATA_TABLES  # noqa: E402
from processor_edf_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1"
DEFAULT_QUERIES = [
    "gopher_quality_flags",
    "weighted_sample_aes",
    "zorder_layout",
    "bigram_lm_surprisal",
    "dsir_importance",
    "jaccard_prefix_pairs",
]


def build_replica(spark, k: int) -> str:
    """Build (or reuse) the ×k replica dir.  Writes land in a temp dir
    renamed into place on success, so a crash mid-build can never leave
    a half-written replica that a later sweep silently benchmarks; an
    existing dir is additionally validated for the expected tables
    (including that embeddings is a REAL ×k replica, not the symlink
    pre-r6 caches carried — those are rebuilt)."""
    out = f"/tmp/scale_x{k}"
    expected = {"documents", "events", "embeddings", *TESTDATA_TABLES}
    if os.path.isdir(out):
        have = {
            t for t in expected if os.path.exists(f"{out}/{t}.parquet")
        }
        ok = have == expected and all(
            os.path.exists(f"{out}/{t}.parquet/_SUCCESS")
            and not os.path.islink(f"{out}/{t}.parquet")
            for t in ("documents", "events", "embeddings")
        )
        if ok:
            return out
        shutil.rmtree(out)  # stale/partial cache — rebuild
    tmp = f"{out}.building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    events = spark.read.parquet(f"{BASE}/events.parquet")
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    parts_d, parts_e, parts_v = [], [], []
    for i in range(k):
        parts_d.append(
            docs.select(
                (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                # copy i>0 gains one distinct trailing token — a NEAR copy
                (
                    F.col("text")
                    if i == 0
                    else F.concat(F.col("text"), F.lit(f" copytag{i}"))
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
        parts_e.append(
            events.select(
                (F.col("event_id") + i * 100_000_000).alias("event_id"),
                "ts",
                (F.col("user_id") + i * 1_000_000).alias("user_id"),
                "event_type",
                (F.col("value") + i * 0.001).alias("value"),
                "props",
            )
        )
        # copy i>0 is a NEAR-duplicate vector (one small uniform bias):
        # dedup-by-cosine stays stressed, while the id space shifts
        parts_v.append(
            emb.select(
                (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                F.transform(
                    F.col("embedding"), lambda x: x + F.lit(i * 1e-3)
                )
                .cast("array<float>")
                .alias("embedding"),
                "label",
            )
        )
    d = parts_d[0]
    for p in parts_d[1:]:
        d = d.unionByName(p)
    e = parts_e[0]
    for p in parts_e[1:]:
        e = e.unionByName(p)
    v = parts_v[0]
    for p in parts_v[1:]:
        v = v.unionByName(p)
    d.write.parquet(f"{tmp}/documents.parquet")
    e.write.parquet(f"{tmp}/events.parquet")
    v.write.parquet(f"{tmp}/embeddings.parquet")
    for t in TESTDATA_TABLES:
        dst = f"{tmp}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    os.rename(tmp, out)  # atomic publish — cache is all-or-nothing
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# EDF ETL sweep: x1 = 30 mixed files (16 ch × 256 Hz × 1800 s each,
# ~14.7 MB / 7.37 M samples per file; every 3rd file EDF+D with a
# 10 s gap every 450 records → 4 chunks).  x8 = 240 files ≈ 3.5 GB /
# 1.77 G samples — the multi-GB, hundreds-of-files evidence line for
# the engine's nominal core (decode → chunk merge → channel metadata,
# the reference's own test surface at /root/reference/tests/params.py).
EDF_FILES_X1 = 30
EDF_SIGNALS, EDF_RATE, EDF_NB_REC = 16, 256, 1800


def build_edf_corpus(k: int) -> tuple[str, int]:
    """Build (or reuse) the ×k EDF corpus; returns (dir, total_samples).
    Same atomic-publish cache discipline as build_replica."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from tests.edf_fixtures import write_edf_fast

    n_files = EDF_FILES_X1 * k
    per_file = EDF_SIGNALS * EDF_RATE * EDF_NB_REC
    out = f"/tmp/edf_scale_x{k}"
    if os.path.isdir(out) and os.path.exists(f"{out}/_COMPLETE"):
        return out, n_files * per_file
    tmp = f"{out}.building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i in range(n_files):
        kw = {}
        if i % 3 == 2:
            kw = {"variant": "EDF+D", "gap_every": EDF_NB_REC // 4}
        write_edf_fast(
            f"{tmp}/f{i:04d}.edf",
            n_signals=EDF_SIGNALS,
            rate=EDF_RATE,
            nb_rec=EDF_NB_REC,
            seed=i,
            start_date=f"{1 + i // 24:02d}.01.11",
            start_time=f"{i % 24:02d}.00.00",
            **kw,
        )
    open(f"{tmp}/_COMPLETE", "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, n_files * per_file


HOT_USER = 42
HOT_FRACTION = 10  # 1-in-10 events remapped → one user holds ~10%


def build_events_replica(spark, k: int, hot: str | None) -> str:
    """Events-only ×k replica (other tables symlink to BASE — the skew
    sweep's queries read only events, and events replicate in seconds
    at k=64 where a full-table replica would be minutes of wasted
    build).  ``hot='user'`` additionally remaps ~10% of ALL events
    (uniformly by event_id hash) to one user — the pathological key
    for the per-user window family; ``hot='type'`` remaps half of all
    events to one event_type — the pathological partition for the
    type-partitioned rank family."""
    out = f"/tmp/scale_ev_x{k}" + (f"_hot{hot}" if hot else "")
    if os.path.isdir(out) and os.path.exists(
        f"{out}/events.parquet/_SUCCESS"
    ):
        return out
    tmp = f"{out}.building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    events = spark.read.parquet(f"{BASE}/events.parquet")
    parts = [
        events.select(
            (F.col("event_id") + i * 100_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + i * 1_000_000).alias("user_id"),
            "event_type",
            (F.col("value") + i * 0.001).alias("value"),
            "props",
        )
        for i in range(k)
    ]
    e = parts[0]
    for p in parts[1:]:
        e = e.unionByName(p)
    if hot == "user":
        hot_col = F.when(
            F.pmod(F.xxhash64(F.col("event_id")), F.lit(HOT_FRACTION)) == 0,
            F.lit(HOT_USER).cast("long"),
        ).otherwise(F.col("user_id"))
        e = e.withColumn("user_id", hot_col)
    elif hot == "type":
        # remap half of ALL events to one event_type: the hot partition
        # for the type-partitioned window family (uniform is ~1/5 per
        # type, hot is ~60% in one) — the distribution percent_rank's
        # rows window serializes into a single straggler task
        hot_col = F.when(
            F.pmod(F.xxhash64(F.col("event_id")), F.lit(2)) == 0,
            F.lit("click"),
        ).otherwise(F.col("event_type"))
        e = e.withColumn("event_type", hot_col)
    e.write.parquet(f"{tmp}/events.parquet")
    for t in list(TESTDATA_TABLES) + ["documents", "embeddings"]:
        dst = f"{tmp}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def skew_rows(spark, k: int) -> dict[str, dict[str, float]]:
    """Hot-key sweep for the window/analytics family: each query timed
    on the uniform ×k events replica vs the 10%-hot-user variant (warm
    second runs), plus the plain-vs-salted aggregation pair on the
    skewed events — the line where salting is the documented fix (AQE
    splits skewed JOIN partitions, never a skewed groupBy or window
    key)."""
    from processor_edf_spark.operators.skew import salted_agg
    from processor_edf_spark.plans import QUERIES

    normal = build_events_replica(spark, k, hot=None)
    skewed = build_events_replica(spark, k, hot="user")
    hottype = build_events_replica(spark, k, hot="type")
    out: dict[str, dict[str, float]] = {}
    for name in ("rolling_median_user", "ewma_user_values",
                 "ewma_user_twophase", "value_percent_rank",
                 "percent_rank_cdf"):
        fn = QUERIES[name]
        row = {}
        variants = [("uniform", normal), ("hot10", skewed)]
        if name.endswith(("percent_rank", "percent_rank_cdf")):
            # the rank pair partitions by event_type, so the hot-TYPE
            # replica is its pathological input (hot user is a no-op)
            variants.append(("hottype", hottype))
        for tag, d in variants:
            _noop(fn(spark, d))
            t0 = time.perf_counter()
            _noop(fn(spark, d))
            row[tag] = round(time.perf_counter() - t0, 2)
        out[name] = row

    events = spark.read.parquet(f"{skewed}/events.parquet")
    aggs = {
        "sum_value": ("sum", F.col("value")),
        "n": ("count", F.lit(1)),
    }
    plain = lambda: _noop(  # noqa: E731
        events.groupBy("user_id").agg(
            F.sum("value").alias("sum_value"), F.count(F.lit(1)).alias("n")
        )
    )
    salted = lambda: _noop(  # noqa: E731
        salted_agg(events, ["user_id"], aggs, n_salts=32)
    )
    row = {}
    for tag, fn in (("uniform", None), ("hot10", plain), ("salted", salted)):
        if fn is None:
            ev_n = spark.read.parquet(f"{normal}/events.parquet")
            fn = lambda: _noop(  # noqa: E731
                ev_n.groupBy("user_id").agg(
                    F.sum("value").alias("sum_value"),
                    F.count(F.lit(1)).alias("n"),
                )
            )
        fn()
        t0 = time.perf_counter()
        fn()
        row[tag] = round(time.perf_counter() - t0, 2)
    out["agg_user_sum"] = row
    return out


def edf_rows(spark, k: int) -> dict[str, float]:
    """Time the core EDF ETL at one corpus scale (warm second runs):
    ``edf_decode`` forces every calibrated sample row through the noop
    sink (the line that must stay LINEAR in corpus bytes — its
    samples/sec is the throughput anchor); ``edf_metadata`` runs the
    decoder-pushed chunk-run scan + cross-file merge + channel
    metadata (O(chunks) reduce side, flat per file count)."""
    from processor_edf_spark.pipeline import process_edf_directory

    corpus, total = build_edf_corpus(k)
    out: dict[str, float] = {}

    def run_decode():
        samples, _, _ = process_edf_directory(spark, corpus)
        _noop(samples)

    def run_meta():
        _, channels, _ = process_edf_directory(spark, corpus)
        _noop(channels)

    run_decode()
    t0 = time.perf_counter()
    run_decode()
    sec = time.perf_counter() - t0
    out["edf_decode"] = round(sec, 2)
    out["edf_msamples_per_sec"] = round(total / sec / 1e6, 1)
    run_meta()
    t0 = time.perf_counter()
    run_meta()
    out["edf_metadata"] = round(time.perf_counter() - t0, 2)
    return out


def _slice_count(d: str, slice_bytes: int) -> int:
    """Slices of the files in ``d`` that own at least one record."""
    import os

    from processor_edf_spark.sources.edf import (
        parse_edf_header,
        ranges_from_header,
    )

    n = 0
    for f in os.listdir(d):
        with open(f"{d}/{f}", "rb") as fh:
            head = fh.read(256)
            head += fh.read(256 * int(head[252:256]))
        ranges = ranges_from_header(
            parse_edf_header(head), os.path.getsize(f"{d}/{f}"), slice_bytes
        )
        n += sum(1 for r in ranges if r[1])
    return n


def _timed_decode(spark, d: str, slice_bytes: int) -> tuple[float, list]:
    """Warm second run of the EDF source's sample decode at one slice
    size → (seconds, [(partition id, samples)] of the decode tasks)."""
    from pyspark.sql import functions as SF

    from processor_edf_spark.sources import edf as edf_mod

    saved = edf_mod.SLICE_BYTES
    edf_mod.SLICE_BYTES = slice_bytes
    try:
        files = edf_mod.scan_edf_files(spark, d)
        _noop(edf_mod.decode_samples(files))
        t0 = time.perf_counter()
        _noop(edf_mod.decode_samples(files))
        sec = time.perf_counter() - t0
        per_task = (
            edf_mod.decode_samples(files)
            .groupBy(SF.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
    finally:
        edf_mod.SLICE_BYTES = saved
    return sec, per_task


def edf_split_rows(spark, k: int) -> dict[str, float]:
    """Intra-file parallelism evidence: ONE large EDF file (×k ≈ k·15 MB)
    decoded by the EDF source at 32 MB slices — the file spreads over
    ~k/2 slices, each read and decoded by its own task.  Warm second runs;
    samples/sec must hold flat as the file grows, and the decode must run
    in min(parallelism, slices) tasks."""
    import os

    from tests.edf_fixtures import write_edf_fast

    d = f"/tmp/edf_bigfile_x{k}"
    if not os.path.exists(f"{d}/big.edf"):
        os.makedirs(d, exist_ok=True)
        write_edf_fast(f"{d}/big.edf", n_signals=16, rate=256, nb_rec=1800 * k)
    total = 16 * 256 * 1800 * k
    target = 32 * 1024 * 1024
    sec, per_task = _timed_decode(spark, d, target)
    return {
        "file_mb": round(os.path.getsize(f"{d}/big.edf") / 1e6, 1),
        "n_slices": _slice_count(d, target),
        "n_tasks": len(per_task),
        "decode_sec": round(sec, 2),
        "msamples_per_sec": round(total / sec / 1e6, 1),
    }


def edf_split_mixed_rows(spark, k: int) -> dict[str, float]:
    """Mixed-corpus task balance: MANY small files + a FEW large ones in
    ONE listing — the skewed-size mix a real archive has.  Times the EDF
    source's decode at 8 MB slices and reports the heaviest decode task's
    payload (its int16 samples): slices of the large recordings spread
    round-robin, so no task carries a whole large file."""
    import os

    from tests.edf_fixtures import write_edf_fast

    n_small = 40
    d = f"/tmp/edf_mixed_x{k}"
    if not os.path.exists(f"{d}/big00.edf"):
        os.makedirs(d, exist_ok=True)
        for i in range(n_small):
            write_edf_fast(
                f"{d}/small{i:02d}.edf", n_signals=4, rate=128, nb_rec=60,
                seed=i,
            )
        for i in range(2):
            write_edf_fast(
                f"{d}/big{i:02d}.edf", n_signals=16, rate=256,
                nb_rec=450 * k, seed=100 + i,
            )
    target = 8 * 1024 * 1024
    sec, per_task = _timed_decode(spark, d, target)
    sizes = [os.path.getsize(f"{d}/{f}") for f in os.listdir(d)]
    return {
        "n_files": n_small + 2,
        "corpus_mb": round(sum(sizes) / 1e6, 1),
        "n_slices": _slice_count(d, target),
        "decode_sec": round(sec, 2),
        "n_tasks": len(per_task),
        "max_task_mb": round(max(r["count"] for r in per_task) * 2 / 1e6, 1),
        "slice_mb": round(target / 1e6, 1),
        "largest_file_mb": round(max(sizes) / 1e6, 1),
    }


def ann_index_rows(spark, n_drops: int = 12, compact_at: int = 8) -> dict:
    """Persisted ANN index accretion (r12, operators/ann_index.py):
    build once on the first slice of sf0.1 embeddings, then append the
    remaining slices as daily drops (each replaying the previous drop,
    so ~half of every batch is rejected by the idempotence anti-join —
    the production shape).  Pins per-drop append cost FLAT (encode is
    one Arrow pass over the DROP, the anti-join scans codes, never raw
    vectors), snapshot file count collapsing at the compaction point,
    and the staleness audit staying under the refit threshold for
    in-distribution drops."""
    import uuid as _uuid

    from processor_edf_spark.operators.ann_index import (
        ann_index_append,
        ann_index_build,
        ann_index_compact,
        ann_index_staleness,
    )
    from processor_edf_spark.operators.txstore import snapshot_files

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    emb = emb.withColumn("_day", F.pmod(F.col("vec_id"), F.lit(n_drops)))
    slices = {
        d: emb.filter(F.col("_day") == d).drop("_day").localCheckpoint()
        for d in range(n_drops)
    }
    index_dir = f"/tmp/ann_index_{_uuid.uuid4().hex[:8]}"
    t0 = time.perf_counter()
    info = ann_index_build(
        spark, slices[0], index_dir, n_cells=16, m=8, k=16
    )
    out: dict = {
        "build_sec": round(time.perf_counter() - t0, 2),
        "n_built": info["n_vectors"],
        "train_qe": round(info["train_qe"], 4),
        "append_sec": {},
        "appended": {},
        "snapshot_files": {},
    }
    for day in range(1, n_drops):
        batch = slices[day].unionByName(slices[day - 1])  # half replayed
        t0 = time.perf_counter()
        res = ann_index_append(spark, batch, index_dir)
        out["append_sec"][day] = round(time.perf_counter() - t0, 2)
        out["appended"][day] = res["n_appended"]
        if day == compact_at:
            ann_index_compact(spark, index_dir)
        out["snapshot_files"][day] = len(snapshot_files(spark, index_dir))
    audit = ann_index_staleness(spark, index_dir)
    out["final_drift_ratio"] = round(audit["drift_ratio"], 3)
    out["needs_refit"] = audit["needs_refit"]
    out["n_indexed"] = audit["n_vectors"]
    shutil.rmtree(index_dir, ignore_errors=True)
    return out


def ann_rows(spark, sf_dir: str) -> dict[str, float]:
    """Time the ANN path at one replica scale — the 100 TB evidence rows
    for BASELINE.md: codebook/centroid training is bounded-sample (flat
    across scales by design), encode+search scans the full corpus (the
    line that must stay LINEAR), and the hash_embed→IVF+PQ chain is the
    text-corpus-to-retrieval composition end-to-end.  Warm second runs,
    matching the query sweep's discipline."""
    import numpy as np

    from processor_edf_spark.operators.embed import hash_embed
    from processor_edf_spark.operators.kmeans import kmeans_fit
    from processor_edf_spark.operators.pq import ivf_pq_search, pq_train
    from processor_edf_spark.plans.registry import load

    out: dict[str, float] = {}
    (emb,) = load(spark, sf_dir, "embeddings")
    emb = emb.localCheckpoint(eager=True)

    t0 = time.perf_counter()
    C = kmeans_fit(emb, k=16, n_iter=5)
    books = pq_train(emb, m=16, k=16, n_iter=3)
    out["ann_train"] = round(time.perf_counter() - t0, 2)

    qpdf = emb.limit(32).toPandas()
    Q = np.vstack(qpdf["embedding"].to_numpy())
    qids = qpdf["vec_id"].to_numpy()
    _noop(ivf_pq_search(emb, C, books, Q, qids, k=10, nprobe=3))
    t0 = time.perf_counter()
    _noop(ivf_pq_search(emb, C, books, Q, qids, k=10, nprobe=3))
    out["ivf_pq_search"] = round(time.perf_counter() - t0, 2)

    (docs,) = load(spark, sf_dir, "documents")

    def chain():
        vecs = hash_embed(docs, dim=64).localCheckpoint(eager=True)
        C2 = kmeans_fit(vecs, k=16, n_iter=5)
        books2 = pq_train(vecs, m=16, k=16, n_iter=3)
        qp = vecs.limit(32).toPandas()
        Q2 = np.vstack(qp["embedding"].to_numpy())
        _noop(
            ivf_pq_search(
                vecs, C2, books2, Q2, qp["vec_id"].to_numpy(), k=10, nprobe=3
            )
        )

    chain()
    t0 = time.perf_counter()
    chain()
    out["hash_embed_ivf_pq_e2e"] = round(time.perf_counter() - t0, 2)
    return out


def streaming_rows(spark, k: int) -> dict[str, float]:
    """Streaming-family throughput evidence: replay the ×k events
    replica through the two workhorse stateful operators
    (``stream_gaps`` — one 8-byte frontier per user — and
    ``stream_current_state`` — one (long, long, double) per user) as
    an availableNow file-source stream into a count-only foreachBatch
    sink, reporting wall seconds and Mrows/s.  This measures the whole
    streaming path: file-source listing, the groupBy state shuffle,
    Arrow transfer into the pandas fold, state-store commit —
    the per-row cost a continuous deployment pays."""
    import shutil as _sh
    import tempfile

    from processor_edf_spark.streaming.lag import stream_gaps
    from processor_edf_spark.streaming.sessions import session_stats_native
    from processor_edf_spark.streaming.upsert import (
        stream_current_state,
        stream_current_state_native,
    )

    d = build_events_replica(spark, k, hot=None)
    events = spark.read.parquet(f"{d}/events.parquet")
    keyed = events.selectExpr(
        "user_id",
        "event_id",
        "unix_micros(cast(ts as timestamp)) as t",
        "value",
    )
    n_rows = keyed.count()
    src = tempfile.mkdtemp(prefix="stream_sweep_")
    keyed.write.parquet(f"{src}/in")
    out: dict[str, float] = {"n_rows": n_rows}
    for name, build, out_mode in (
        ("stream_gaps", lambda s: stream_gaps(s), "append"),
        ("stream_current_state", lambda s: stream_current_state(s),
         "append"),
        # the JVM-native flavors: zero Python state — the throughput
        # contract expects them ahead of the Arrow-fold twins
        # (parity: tests/test_streaming_sessions_native.py and
        # tests/test_streaming_upsert_native.py)
        ("session_stats_native", lambda s: session_stats_native(
            s, 3_600_000_000, watermark="1 hour"), "append"),
        ("stream_current_state_native",
         lambda s: stream_current_state_native(s), "update"),
    ):
        stream = spark.readStream.schema(
            "user_id long, event_id long, t long, value double"
        ).parquet(f"{src}/in")
        t0 = time.perf_counter()
        (
            build(stream)
            .writeStream.foreachBatch(lambda df, _b: df.count())
            .outputMode(out_mode)
            .option("checkpointLocation", f"{src}/ckpt_{name}")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(1800)
        )
        sec = time.perf_counter() - t0
        out[f"{name}_sec"] = round(sec, 2)
        out[f"{name}_mrows_s"] = round(n_rows / sec / 1e6, 3)
    _sh.rmtree(src, ignore_errors=True)
    return out


def incremental_rows(
    spark, n_batches: int = 30, compact_every: int = 10
) -> dict[str, dict[int, float]]:
    """Small-file accretion probe for the tx-log dedup store: simulate
    ``n_batches`` daily document drops into two stores — one append-only,
    one compacted (``compact_store_tx``) every ``compact_every`` batches
    — timing each ``dedup_incremental_tx`` call (the per-batch anti-join
    against the visible snapshot).  Each day's batch is 1/n of the sf0.1
    documents plus a replay of the PREVIOUS day's slice (so ~half of
    every batch is rejected by the store, the production shape).

    The append-only store's snapshot is one data file per day — the
    anti-join scans a growing list of tiny parquet files — while the
    compacted store's snapshot collapses to one base entry + the days
    since, pinning per-batch cost flat.  Store sizes here are tiny; the
    signal is the FILE-COUNT trend, which is what breaks at 100 TB
    (day 1000 would anti-join against 1000 file sets)."""
    import uuid as _uuid

    from processor_edf_spark.operators.txstore import (
        compact_store_tx,
        dedup_incremental_tx,
        snapshot_files,
    )

    docs = spark.read.parquet(f"{BASE}/documents.parquet").select(
        "doc_id", "text"
    )
    docs = docs.withColumn("_day", F.pmod(F.col("doc_id"), F.lit(n_batches)))
    slices = {
        d: docs.filter(F.col("_day") == d).drop("_day").localCheckpoint()
        for d in range(n_batches)
    }
    out: dict[str, dict[int, float]] = {
        "append_only_sec": {},
        "compacted_sec": {},
        "append_only_files": {},
        "compacted_files": {},
    }
    stores = {
        "append_only": f"/tmp/incr_store_{_uuid.uuid4().hex[:8]}",
        "compacted": f"/tmp/incr_store_{_uuid.uuid4().hex[:8]}",
    }
    for day in range(n_batches):
        batch = slices[day]
        if day > 0:  # replay yesterday: ~half the batch is already seen
            batch = batch.unionByName(slices[day - 1])
        for tag, store in stores.items():
            t0 = time.perf_counter()
            admitted = dedup_incremental_tx(
                spark, batch, store, text_col="text", id_col="doc_id"
            )
            admitted.count()
            out[f"{tag}_sec"][day] = round(time.perf_counter() - t0, 2)
            if tag == "compacted" and (day + 1) % compact_every == 0:
                compact_store_tx(spark, store)
            out[f"{tag}_files"][day] = len(snapshot_files(spark, store))
    for s in stores.values():
        shutil.rmtree(s, ignore_errors=True)
    return out


def main() -> None:
    scales, names, mode = [], list(DEFAULT_QUERIES), "queries"
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--q":
            names = args.pop(0).split(",")
        elif a == "--ann":
            mode = "ann"
        elif a == "--edf":
            mode = "edf"
        elif a == "--edf-split":
            mode = "edf_split"
        elif a == "--skew":
            mode = "skew"
        elif a == "--incremental":
            mode = "incremental"
        elif a == "--edf-split-mixed":
            mode = "edf_split_mixed"
        elif a == "--ann-index":
            mode = "ann_index"
        elif a == "--streaming":
            mode = "streaming"
        elif a.startswith("x"):
            scales.append(int(a[1:]))
    scales = scales or [1, 4, 8]

    spark = get_spark("scale_sweep", cpus=32)
    from processor_edf_spark.plans import QUERIES

    if mode == "streaming":
        rows = {}
        for k in scales:
            rows[k] = streaming_rows(spark, k)
            print(f"x{k}: {rows[k]}", flush=True)
        metrics = [m for m in rows[scales[0]] if m != "n_rows"]
        print("\n| metric | " + " | ".join(f"×{k}" for k in scales) + " |")
        print("|---|" + "---|" * len(scales))
        print(
            "| rows | "
            + " | ".join(str(rows[k]["n_rows"]) for k in scales)
            + " |"
        )
        for m in metrics:
            print(
                f"| {m} | "
                + " | ".join(str(rows[k][m]) for k in scales)
                + " |"
            )
        spark.stop()
        return

    if mode == "edf_split_mixed":
        rows = {}
        for k in scales:
            for n, v in edf_split_mixed_rows(spark, k).items():
                rows.setdefault(n, {})[k] = v
                print(f"x{k} {n}: {v}", flush=True)
        print("\n| metric | " + " | ".join(f"×{k}" for k in scales) + " |")
        print("|---|" + "---|" * len(scales))
        for n in rows:
            print(
                f"| {n} | "
                + " | ".join(str(rows[n][k]) for k in scales)
                + " |"
            )
        spark.stop()
        return

    if mode == "ann_index":
        n = scales[0] if len(scales) == 1 else 12
        rows = ann_index_rows(spark, n_drops=n)
        print(
            f"\nbuild: {rows['build_sec']} s, {rows['n_built']} vectors, "
            f"train_qe={rows['train_qe']}"
        )
        print("| drop | append s | admitted | snapshot files |")
        print("|---|---|---|---|")
        for d in sorted(rows["append_sec"]):
            print(
                f"| {d} | {rows['append_sec'][d]} | {rows['appended'][d]} "
                f"| {rows['snapshot_files'][d]} |"
            )
        print(
            f"final: {rows['n_indexed']} indexed, drift "
            f"{rows['final_drift_ratio']}, needs_refit={rows['needs_refit']}"
        )
        spark.stop()
        return

    if mode == "incremental":
        n = scales[0] if len(scales) == 1 else 30
        rows = incremental_rows(spark, n_batches=n)
        days = sorted(rows["append_only_sec"])
        marks = [d for d in days if d in (0, 4, 9, 10, 19, 20, 28, 29)]
        print("\n| day | append-only s (files) | compacted s (files) |")
        print("|---|---|---|")
        for d in marks:
            print(
                f"| {d + 1} | {rows['append_only_sec'][d]} "
                f"({rows['append_only_files'][d]}) "
                f"| {rows['compacted_sec'][d]} "
                f"({rows['compacted_files'][d]}) |"
            )
        spark.stop()
        return

    if mode == "skew":
        k = scales[0] if len(scales) == 1 else 64
        rows = skew_rows(spark, k)
        cols = ["uniform", "hot10", "hottype", "salted"]
        print(f"\n| query (×{k}) | " + " | ".join(cols) + " |")
        print("|---|" + "---|" * len(cols))
        for n, row in rows.items():
            print(
                f"| {n} | "
                + " | ".join(str(row.get(c, "—")) for c in cols)
                + " |"
            )
        spark.stop()
        return

    if mode == "edf_split":
        rows = {}
        for k in scales:
            for n, sec in edf_split_rows(spark, k).items():
                rows.setdefault(n, {})[k] = sec
                print(f"x{k} {n}: {sec}", flush=True)
        print("\n| metric | " + " | ".join(f"×{k}" for k in scales) + " |")
        print("|---|" + "---|" * len(scales))
        for n in rows:
            print(
                f"| {n} | "
                + " | ".join(str(rows[n][k]) for k in scales)
                + " |"
            )
        spark.stop()
        return

    if mode == "edf":
        rows = {}
        for k in scales:
            for n, sec in edf_rows(spark, k).items():
                rows.setdefault(n, {})[k] = sec
                print(f"x{k} {n}: {sec}", flush=True)
        names = list(rows)
        print("\n| metric | " + " | ".join(f"×{k}" for k in scales) + " |")
        print("|---|" + "---|" * len(scales))
        for n in names:
            print(
                f"| {n} | "
                + " | ".join(str(rows[n][k]) for k in scales)
                + " |"
            )
        spark.stop()
        return

    dirs = {k: build_replica(spark, k) for k in scales}
    if mode == "ann":
        rows = {}
        for k in scales:
            for n, sec in ann_rows(spark, dirs[k]).items():
                rows.setdefault(n, {})[k] = sec
                print(f"x{k} {n}: {sec}", flush=True)
        names = list(rows)
    else:
        rows = {n: {} for n in names}
        for k in scales:
            for n in names:
                fn = QUERIES[n]
                try:
                    _noop(fn(spark, dirs[k]))
                    t0 = time.perf_counter()
                    _noop(fn(spark, dirs[k]))
                    rows[n][k] = round(time.perf_counter() - t0, 2)
                except Exception as e:  # noqa: BLE001
                    rows[n][k] = f"FAIL:{type(e).__name__}"
                print(f"x{k} {n}: {rows[n][k]}", flush=True)
    print("\n| query | " + " | ".join(f"×{k}" for k in scales) + " |")
    print("|---|" + "---|" * len(scales))
    for n in names:
        print(f"| {n} | " + " | ".join(str(rows[n][k]) for k in scales) + " |")
    spark.stop()


if __name__ == "__main__":
    main()
