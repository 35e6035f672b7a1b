"""Structured Streaming surfaces (SURVEY.md §2.8):

- streaming channel registry (append-mode get-or-create, stateful) —
  reference mode='append', timeseries/base.py:129-221;
- session-window gap chunking — reference base.py:322-342;
- out-of-order tagging (monotonicity invariant) — reference base.py:87-95.

All tests drive real streaming queries (file source → availableNow →
memory sink) so the stateful operators run under the streaming engine,
not a batch approximation.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from processor_edf_spark.schemas import SAMPLES_SCHEMA
from processor_edf_spark.streaming.registry import streaming_channel_registry
from processor_edf_spark.streaming.sessions import (
    dedup_stream_exact,
    quarantine_late,
    session_windowed_chunks,
    stream_samples,
)

USEC = 1_000_000


def _run_stream(df, name: str, checkpoint: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


@pytest.mark.slow
def test_streaming_channel_registry_state(spark, tmp_path):
    """Micro-batch 1 registers channels; micro-batch 2 must band-match the
    SAME ids out of state (±2% rate) and register out-of-band rates anew."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    schema = "name string, rate double, type string"

    spark.createDataFrame(
        [("EEG F3", 200.0, "CONTINUOUS"), ("EEG F4", 250.0, "CONTINUOUS")], schema
    ).coalesce(1).write.parquet(os.path.join(in_dir, "b1"))
    spark.createDataFrame(
        [
            ("eeg f3 ", 201.0, "CONTINUOUS"),  # normalized name, in-band rate
            ("EEG F3", 300.0, "CONTINUOUS"),  # same name, out-of-band rate
        ],
        schema,
    ).coalesce(1).write.parquet(os.path.join(in_dir, "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir + "/*")
    )
    _run_stream(streaming_channel_registry(stream), "registry_out", ckpt)
    rows = spark.sql("select * from registry_out").collect()
    by = {}
    for r in rows:
        by.setdefault((r["name_key"], round(r["rate"])), r)

    assert len(rows) == 4
    # in-band 201 Hz reuses the id registered for 200 Hz
    assert by[("eeg f3", 201)]["channel_id"] == by[("eeg f3", 200)]["channel_id"]
    assert not by[("eeg f3", 201)]["is_new"]
    # out-of-band 300 Hz gets a fresh id under the same key
    assert by[("eeg f3", 300)]["channel_id"] != by[("eeg f3", 200)]["channel_id"]
    assert by[("eeg f3", 300)]["is_new"]
    assert by[("eeg f4", 250)]["is_new"]


@pytest.mark.slow
def test_session_windowed_chunks_stream(spark, tmp_path):
    """Gap > 2/rate splits sessions; closed sessions emit once the
    watermark passes (streaming analog of contiguousChunks)."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    rate = 1.0  # 1 Hz → session gap 2 s
    rows = (
        # session A: 0..2 s (3 samples)
        [("f", "ch", t * USEC, 1.0) for t in range(3)]
        # session B: 100..101 s — far enough that A closes under a 10 s
        # watermark; B itself stays open (never emitted) by design
        + [("f", "ch", (100 + t) * USEC, 2.0) for t in range(2)]
    )
    spark.createDataFrame(rows, SAMPLES_SCHEMA).coalesce(1).write.parquet(in_dir)

    stream = stream_samples(spark, in_dir, SAMPLES_SCHEMA)
    chunks = session_windowed_chunks(stream, rate_hz=rate)
    _run_stream(chunks, "chunks_out", ckpt)
    out = spark.sql("select * from chunks_out").collect()

    assert len(out) == 1  # only the closed session A
    a = out[0]
    assert (a["start_usec"], a["end_usec"], a["n_samples"]) == (0, 2 * USEC, 3)


def test_stream_edf_end_to_end(spark, tmp_path):
    """§2.8 incremental append, whole path: EDF files land in a directory
    → binaryFile stream → the batch decode UDTF unchanged →
    session-window chunking → memory sink.  Two files of the same channel
    100 s apart → the earlier session closes and emits."""
    from tests.edf_fixtures import sine, write_edf

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    kwargs = dict(
        signals=[{"label": "chanA", "rate": 100, "gen": sine(5.0)}], nb_data_rec=2
    )
    write_edf(os.path.join(in_dir, "a.edf"), start_time="10.00.00", **kwargs)
    write_edf(os.path.join(in_dir, "b.edf"), start_time="10.01.42", **kwargs)

    from processor_edf_spark.streaming.sessions import stream_edf_directory

    samples = stream_edf_directory(spark, in_dir)
    chunks = session_windowed_chunks(samples, rate_hz=100.0)
    _run_stream(chunks, "edf_stream_out", ckpt)
    out = spark.sql(
        "select channel, start_usec, n_samples from edf_stream_out"
    ).collect()
    # session A (file a.edf, 400 samples... a.edf alone has 200 samples)
    # — files are distinct sessions 100 s apart; only A has closed
    assert len(out) == 1
    assert out[0]["channel"] == "chanA"
    assert out[0]["n_samples"] == 200


@pytest.mark.slow
def test_quarantine_flags_regression(spark):
    """A row whose timestamp regresses below the running max of earlier
    arrivals is tagged; in-order and equal timestamps are not (the
    reference's strict `chunk.start > prev.end` assert, as a tag)."""
    rows = [
        ("f", "ch", 10 * USEC, 1.0, 0),
        ("f", "ch", 10 * USEC, 1.0, 1),  # equal, not a regression
        ("f", "ch", 8 * USEC, 1.0, 2),  # regression → tagged
        ("f", "ch", 20 * USEC, 1.0, 3),  # recovers, in order
        ("f", "other", 5 * USEC, 1.0, 4),  # other channel unaffected
    ]
    df = spark.createDataFrame(
        rows, "file string, channel string, t_usec long, value double, seq long"
    )
    out = quarantine_late(df, arrival_col="seq").orderBy("seq").collect()
    assert [r["out_of_order"] for r in out] == [False, False, True, False, False]


@pytest.mark.slow
def test_dedup_stream_exact(spark, tmp_path):
    """Streaming ingest dedup: within the watermark horizon, later
    arrivals of identical content are dropped; distinct content passes.
    State is keyed by content sha and expires with the watermark (the
    bounded-state contract of dropDuplicatesWithinWatermark)."""
    import datetime as dt

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, "the quick brown fox", t0),
        (2, "the quick brown fox", t0 + dt.timedelta(seconds=30)),  # dup
        (3, "an entirely different doc", t0 + dt.timedelta(seconds=60)),
        (4, "the quick brown fox", t0 + dt.timedelta(seconds=90)),  # dup
    ]
    schema = "doc_id long, text string, ts timestamp"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(in_dir)

    stream = spark.readStream.schema(schema).parquet(in_dir)
    deduped = dedup_stream_exact(stream, text_col="text", ts_col="ts")
    _run_stream(deduped, "dedup_stream_out", ckpt)
    out = spark.sql("select doc_id, text from dedup_stream_out").collect()

    assert sorted(r["doc_id"] for r in out) == [1, 3]
    assert {r["text"] for r in out} == {
        "the quick brown fox",
        "an entirely different doc",
    }


@pytest.mark.slow
def test_enrich_stream_static_join(spark, tmp_path):
    """Stream-static join: each micro-batch broadcast-joins the static
    dimension; rows without a dim match survive (left join), and the
    query needs no watermark (stateless)."""
    from processor_edf_spark.streaming.sessions import enrich_stream_static

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    schema = "event_id long, event_type string, value double"
    spark.createDataFrame(
        [(1, "click", 1.0), (2, "purchase", 2.0), (3, "unknown_kind", 3.0)],
        schema,
    ).coalesce(1).write.parquet(in_dir)
    dim = spark.createDataFrame(
        [("click", 0.1), ("purchase", 5.0)], "event_type string, weight double"
    )

    stream = spark.readStream.schema(schema).parquet(in_dir)
    _run_stream(enrich_stream_static(stream, dim, "event_type"), "enriched", ckpt)
    rows = {r["event_id"]: r for r in spark.sql("select * from enriched").collect()}

    assert len(rows) == 3
    assert rows[1]["weight"] == 0.1
    assert rows[2]["weight"] == 5.0
    assert rows[3]["weight"] is None  # left join keeps unmatched stream rows


@pytest.mark.slow
def test_tumbling_counts_stream_watermark(spark, tmp_path):
    """Watermarked tumbling agg: closed windows emit once; a window still
    inside the watermark horizon at end-of-input never emits (append
    mode) — state stays bounded."""
    from datetime import datetime

    from processor_edf_spark.streaming.sessions import tumbling_counts_stream

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    schema = "ts timestamp, event_type string, value double"
    rows = [
        # window [10:00, 11:00): 2 clicks
        (datetime(2026, 1, 1, 10, 5), "click", 1.0),
        (datetime(2026, 1, 1, 10, 50), "click", 2.0),
        # much later event advances the watermark far past 11:00 → the
        # 10:00 window closes; its own window stays open, never emitted
        (datetime(2026, 1, 1, 15, 0), "click", 4.0),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(in_dir)

    stream = spark.readStream.schema(schema).parquet(in_dir)
    out = tumbling_counts_stream(stream, window="1 hour", delay="30 minutes")
    _run_stream(out, "tumbling_out", ckpt)
    got = spark.sql("select * from tumbling_out").collect()

    assert len(got) == 1
    r = got[0]
    assert r["window_start"] == datetime(2026, 1, 1, 10, 0)
    assert (r["event_type"], r["n_events"], r["sum_value"]) == ("click", 2, 3.0)


@pytest.mark.slow
def test_interval_join_streams(spark, tmp_path):
    """Stream-stream interval join: only (click, purchase) pairs with the
    purchase inside [click, click + 1h] on the same user match; the
    time-bound condition is what bounds the join state."""
    from datetime import datetime

    from processor_edf_spark.streaming.sessions import interval_join_streams

    ldir, rdir, ckpt = (
        str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "ckpt"),
    )
    t = lambda m: datetime(2026, 1, 1, 10, m)
    spark.createDataFrame(
        [(1, t(0)), (2, t(0))], "user_id long, lts timestamp"
    ).coalesce(1).write.parquet(ldir)
    spark.createDataFrame(
        # user 1: in-window purchase; user 2: 90 min later (out of window);
        # user 3: no click at all
        [(1, t(30)), (2, datetime(2026, 1, 1, 11, 30)), (3, t(10))],
        "user_id long, rts timestamp",
    ).coalesce(1).write.parquet(rdir)

    clicks = spark.readStream.schema("user_id long, lts timestamp").parquet(ldir)
    buys = spark.readStream.schema("user_id long, rts timestamp").parquet(rdir)
    out = interval_join_streams(clicks, buys, "user_id", within="1 hour")
    _run_stream(out, "ij_out", ckpt)
    rows = spark.sql("select * from ij_out").collect()

    assert len(rows) == 1
    assert rows[0]["user_id"] == 1


@pytest.mark.slow
def test_stream_corpus_ingest_composition(spark, tmp_path):
    """The document-side streaming composition: watermarked content
    dedup + token gate + PII audit/scrub in one incremental query —
    batch operators applied under readStream unchanged."""
    import datetime as dt

    from processor_edf_spark.streaming.corpus import stream_corpus_ingest

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 5, 1, 9, 0, 0)
    rows = [
        (1, "reach me at bob@example.com for details", "en", t0),
        (2, "reach me at bob@example.com for details", "en",
         t0 + dt.timedelta(seconds=10)),                    # exact dup
        (3, "tiny", "en", t0 + dt.timedelta(seconds=20)),   # token gate
        (4, "a perfectly clean useful document", "en",
         t0 + dt.timedelta(seconds=30)),
    ]
    schema = "doc_id long, text string, lang string, ts timestamp"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(in_dir)

    out_df = stream_corpus_ingest(spark, in_dir)
    _run_stream(out_df, "corpus_ingest_out", ckpt)
    got = {r["doc_id"]: r for r in spark.sql(
        "select * from corpus_ingest_out").collect()}

    assert sorted(got) == [1, 4]            # dup 2 dropped, tiny 3 gated
    assert got[1]["has_pii"] and got[1]["n_email"] == 1
    assert "<EMAIL>" in got[1]["clean_text"]
    assert "bob@example.com" not in got[1]["clean_text"]
    assert not got[4]["has_pii"]
    assert got[4]["clean_text"] == got[4]["text"]


@pytest.mark.slow
def test_stream_checkpoint_incremental_restart(spark, tmp_path):
    """Restarting an availableNow query against the same checkpoint must
    process ONLY files that landed since the last run — the exactly-once
    incremental contract every deployment leans on (a restart that
    re-emits old rows would duplicate the corpus downstream)."""
    import datetime as dt

    from processor_edf_spark.streaming.corpus import stream_corpus_ingest

    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    schema = "doc_id long, text string, lang string, ts timestamp"
    t0 = dt.datetime(2024, 6, 1, 8, 0, 0)

    def run_once():
        q = (
            stream_corpus_ingest(spark, in_dir)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [(1, "first drop document one two three", "en", t0)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    run_once()
    assert [r["doc_id"] for r in spark.read.parquet(out_dir).collect()] == [1]

    # second drop lands; restart with the SAME checkpoint — the file
    # sink + checkpoint must process ONLY the new file, appending doc 2
    # exactly once (no re-emit of doc 1)
    spark.createDataFrame(
        [(2, "second drop document four five six", "en",
          t0 + dt.timedelta(minutes=30))], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    run_once()
    out = [r["doc_id"] for r in spark.read.parquet(out_dir).collect()]
    assert sorted(out) == [1, 2]


@pytest.mark.slow
def test_stream_corpus_ingest_dedups_normalized_variants(spark, tmp_path):
    """With normalize=True (the default), a whitespace/case mutation of
    an already-seen document dedups on the stream — the same
    normalization the normalize_text batch oracle validates."""
    import datetime as dt

    from processor_edf_spark.streaming.corpus import stream_corpus_ingest

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 5, 1, 9, 0, 0)
    rows = [
        (1, "a perfectly clean useful document", "en", t0),
        (2, "  A   perfectly clean\tuseful DOCUMENT ", "en",
         t0 + dt.timedelta(seconds=5)),   # normalized dup of 1
        (3, "a genuinely different document entirely", "en",
         t0 + dt.timedelta(seconds=10)),
    ]
    schema = "doc_id long, text string, lang string, ts timestamp"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(in_dir)

    out_df = stream_corpus_ingest(spark, in_dir)
    _run_stream(out_df, "corpus_norm_out", ckpt)
    got = sorted(
        r["doc_id"]
        for r in spark.sql("select * from corpus_norm_out").collect()
    )
    assert got == [1, 3]  # the normalized twin (2) deduped


@pytest.mark.slow
def test_stream_funnel_parity_with_batch_query(spark, tmp_path):
    """Stream/batch parity: the stateful streaming funnel over the
    sf0.001 events (one in-order availableNow pass) must yield exactly
    the per-stage user counts of the funnel_k_stages batch query."""
    from processor_edf_spark.plans.relational import (
        FUNNEL_K_WINDOW_USEC,
        FUNNEL_STAGES,
    )
    from processor_edf_spark.plans.registry import TS_US, load
    from processor_edf_spark.streaming.funnel import stream_funnel_stages
    from processor_edf_spark.plans import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    batch = {
        r["stage"]: r["n_users"]
        for r in QUERIES["funnel_k_stages"](spark, sf_dir).collect()
    }

    (events,) = load(spark, sf_dir, "events")
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    events.select(
        "user_id", "event_type", F.expr(TS_US).alias("t")
    ).write.parquet(in_dir)

    stream = spark.readStream.schema("user_id long, event_type string, t long").parquet(in_dir)
    out = stream_funnel_stages(stream, FUNNEL_STAGES, FUNNEL_K_WINDOW_USEC)
    (
        out.writeStream.format("memory")
        .queryName("funnel_state_out")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    depth = {
        r["user_id"]: r["d"]
        for r in spark.sql(
            "select user_id, max(depth) as d from funnel_state_out group by user_id"
        ).collect()
    }
    for stage in range(1, len(FUNNEL_STAGES) + 1):
        got = sum(1 for d in depth.values() if d >= stage)
        assert got == batch[stage], (stage, got, batch[stage])


@pytest.mark.slow
def test_stream_funnel_state_carries_across_drops(spark, tmp_path):
    """State persists across micro-batches: a user's progression
    completes over two drops, and a late event older than an
    already-final match is ignored (the documented greedy trade)."""
    from processor_edf_spark.streaming.funnel import stream_funnel_stages

    in_dir, ckpt, out_dir = (
        str(tmp_path / "in"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )
    schema = "user_id long, event_type string, t long"
    stages = ("view", "click", "signup", "purchase")
    US = 1_000_000

    def run_drop(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        stream = spark.readStream.schema(schema).parquet(in_dir)
        out = stream_funnel_stages(stream, stages, 3600 * US)
        (
            out.writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )
        return {
            r["user_id"]: r["d"]
            for r in spark.read.parquet(out_dir)
            .groupBy("user_id")
            .agg(F.max("depth").alias("d"))
            .collect()
        }

    d1 = run_drop(
        [(1, "view", 10 * US), (1, "click", 20 * US)], "funnel_drop1"
    )
    assert d1[1] == 2
    d2 = run_drop(
        [
            (1, "signup", 30 * US),
            (1, "purchase", 40 * US),
            # late 'view' older than the final t1=10s: ignored
            (1, "view", 5 * US),
            (2, "view", 50 * US),
        ],
        "funnel_drop2",
    )
    assert d2[1] == 4 and d2[2] == 1
