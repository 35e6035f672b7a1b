"""Multimodal plumbing (stubbed codecs, real Spark dataflow) and the
bit-compatible reference sink (S8/S10 byte parity)."""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from processor_edf_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_image_features,
    media_metadata,
    sample_frames,
)
from processor_edf_spark.schemas import SAMPLES_SCHEMA
from processor_edf_spark.sinks.writers import (
    write_reference_compatible,
    write_spike_binary,
)

USEC = 1_000_000


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", bytes(range(100)), "image/fake", {"src": "a"}),
        (2, "video", bytes(range(200)), "video/fake", {}),
        (3, "audio", b"\x01\x02", "audio/fake", None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA).cache()


def test_image_features_deterministic(media):
    out = extract_image_features(media).collect()
    assert len(out) == 1  # only kind == image
    r = out[0]
    assert r["media_id"] == 1
    assert r["n_bytes"] == 100
    assert 1 <= r["width"] <= 4096 and 1 <= r["height"] <= 4096
    assert len(r["feature"]) == 8
    # deterministic: same payload → same feature on a re-run
    again = extract_image_features(media).collect()[0]
    assert again["feature"] == r["feature"]


def test_frame_sampling(media):
    out = sample_frames(media, every_usec=USEC, max_frames=4).collect()
    assert {r["media_id"] for r in out} == {2}
    assert [r["frame_idx"] for r in sorted(out, key=lambda r: r["frame_idx"])] == [
        0,
        1,
        2,
    ]  # 200 bytes // 64 = 3 frames
    assert all(r["t_usec"] == r["frame_idx"] * USEC for r in out)


def test_media_metadata_payload_free(media):
    out = {r["media_id"]: r for r in media_metadata(media).collect()}
    assert out[1]["n_bytes"] == 100
    assert out[3]["n_bytes"] == 2
    assert len(out[2]["content_sha256"]) == 64


def test_reference_compatible_sink(spark, tmp_path):
    """channel{-%05d}.ts.bin must be raw little-endian float64 in
    chronological order; channel{-%05d}.json the metadata dict — the
    reference's exact output contract (timeseries/base.py:265-294,
    base_processor/base.py:111-125)."""
    rows = [
        ("f.edf", "chB", 2 * USEC, 3.0),
        ("f.edf", "chA", 0, 1.0),
        ("f.edf", "chA", 1 * USEC, 2.0),
    ]
    samples = spark.createDataFrame(rows, SAMPLES_SCHEMA)
    dicts = [
        {"name": "chA", "start": 0, "end": USEC, "unit": "uV", "rate": 1.0, "type": "CONTINUOUS"},
        {"name": "chB", "start": 2 * USEC, "end": 2 * USEC, "unit": "uV", "rate": 1.0, "type": "CONTINUOUS"},
    ]
    out = str(tmp_path / "out")
    write_reference_compatible(samples, dicts, out)

    # index 0 → no suffix (reference base.py:41-43)
    a = np.frombuffer(open(os.path.join(out, "channel.ts.bin"), "rb").read(), "<f8")
    b = np.frombuffer(
        open(os.path.join(out, "channel-00001.ts.bin"), "rb").read(), "<f8"
    )
    np.testing.assert_array_equal(a, [1.0, 2.0])
    np.testing.assert_array_equal(b, [3.0])
    meta = json.load(open(os.path.join(out, "channel.json")))
    assert meta["name"] == "chA" and meta["rate"] == 1.0

    # two files whose chA samples interleave in time: one chronological
    # run per channel across files, over several Spark partitions
    rows = [("f1.edf", "chA", t * USEC, float(t)) for t in range(0, 400, 2)]
    rows += [("f2.edf", "chA", t * USEC, float(t)) for t in range(1, 400, 2)]
    rows += [("f2.edf", "chB", t * USEC, -float(t)) for t in range(50)]
    samples = spark.createDataFrame(rows, SAMPLES_SCHEMA).repartition(3)
    out = str(tmp_path / "two_files")
    write_reference_compatible(samples, dicts, out)
    a = np.fromfile(os.path.join(out, "channel.ts.bin"), "<f8")
    b = np.fromfile(os.path.join(out, "channel-00001.ts.bin"), "<f8")
    np.testing.assert_array_equal(a, np.arange(400, dtype=float))
    np.testing.assert_array_equal(b, [-float(t) for t in range(50)])

    # no samples: the metadata files are still written
    out = str(tmp_path / "empty")
    write_reference_compatible(spark.createDataFrame([], SAMPLES_SCHEMA), dicts, out)
    assert sorted(os.listdir(out)) == ["channel-00001.json", "channel.json"]


def _two_file_channel_dicts(spark, d, signals):
    """process_edf_directory → channel_dicts over one single-signal file
    per (file name, label, rate, records, start time)."""
    from processor_edf_spark.pipeline import channel_dicts, process_edf_directory
    from tests.edf_fixtures import sine, write_edf

    d.mkdir()
    for name, label, rate, n_rec, start in signals:
        write_edf(
            str(d / name),
            signals=[{"label": label, "rate": rate, "gen": sine(2.0)}],
            nb_data_rec=n_rec,
            start_time=start,
        )
    samples, channels, _ = process_edf_directory(spark, str(d))
    return samples, channel_dicts(channels)


def test_reference_sink_routes_case_variants_to_one_channel(spark, tmp_path):
    """Labels ``EEG Fp1`` and ``eeg fp1`` at one rate are one channel
    (the registry's lower(trim(name)) key): all 500 samples go to its
    ``channel.ts.bin`` in time order, and no orphan ``.ts.bin`` without a
    ``.json`` is written."""
    from tests.edf_reference import read_edf

    d = tmp_path / "variants"
    samples, dicts = _two_file_channel_dicts(spark, d, [
        ("a.edf", "EEG Fp1", 100, 3, "12.57.02"),
        ("b.edf", "eeg fp1", 100, 2, "12.58.02"),
    ])
    assert len(dicts) == 1 and dicts[0]["name"] == "EEG Fp1"
    out = tmp_path / "out"
    write_reference_compatible(samples, dicts, str(out))
    assert sorted(os.listdir(out)) == ["channel.json", "channel.ts.bin"]
    got = np.fromfile(out / "channel.ts.bin", "<f8")
    want = np.concatenate([read_edf(str(d / f))["samples"]["value"] for f in ("a.edf", "b.edf")])
    assert len(got) == 500
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-9)


def test_reference_sink_rejects_ambiguous_or_unknown_labels(spark, tmp_path):
    """Two channels named ``EEG`` whose rates lie outside the ±2% band
    cannot be told apart by their samples' label, and a label no dict
    names has no files to go to: both raise instead of writing."""
    samples, dicts = _two_file_channel_dicts(spark, tmp_path / "bands", [
        ("a.edf", "EEG", 100, 2, "12.57.02"),
        ("b.edf", "EEG", 200, 2, "12.58.02"),
    ])
    assert [d["name"] for d in dicts] == ["EEG", "EEG"]
    with pytest.raises(ValueError, match="'EEG' match 2 channel dicts"):
        write_reference_compatible(samples, dicts, str(tmp_path / "out"))

    rows = [("f.edf", "chA", 0, 1.0), ("f.edf", "chC", 0, 2.0)]
    dicts = [{"name": "chA", "start": 0, "end": 0, "unit": "uV", "rate": 1.0, "type": "CONTINUOUS"}]
    with pytest.raises(ValueError, match="'chC' match 0 channel dicts"):
        write_reference_compatible(
            spark.createDataFrame(rows, SAMPLES_SCHEMA), dicts, str(tmp_path / "out2")
        )


def test_parquet_sink_time_range_skipping(spark, tmp_path):
    """The canonical sample sink sorts by (channel, t_usec) within
    file-partitions, so parquet row-group min/max stats on t_usec give the
    same data-skipping the reference's contiguousChunks index provides
    (SURVEY.md §4).  A time-range read pushes its predicate to the scan
    and returns exactly the in-range rows."""
    from processor_edf_spark.sinks.writers import write_samples_parquet

    rows = [("f.edf", "ch", t * USEC, float(t)) for t in range(1000)]
    samples = spark.createDataFrame(rows, SAMPLES_SCHEMA)
    out = str(tmp_path / "samples")
    write_samples_parquet(samples, out)

    back = spark.read.parquet(out)
    q = back.filter(
        (F.col("t_usec") >= 100 * USEC) & (F.col("t_usec") < 200 * USEC)
    )
    assert q.count() == 100
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "t_usec" in plan.split("PushedFilters")[1][:200]
    # partition layout survives: file is a partition column
    assert set(back.columns) == {"channel", "t_usec", "value", "file"}


def test_unit_channel_metadata(spark):
    """UNIT (spike) channel metadata: bounds from first/last spike, one
    chunk, passes the output-contract validation with type=UNIT."""
    from processor_edf_spark.pipeline import build_unit_channel_metadata, validate_channels
    from processor_edf_spark.schemas import SPIKES_SCHEMA

    spikes = spark.createDataFrame(
        [
            ("f.edf", "unit1", 100, 1, [0.1, 0.2]),
            ("f.edf", "unit1", 900, 2, [0.3, 0.4]),
            ("f.edf", "unit2", 500, 1, [0.5, 0.6]),
        ],
        SPIKES_SCHEMA,
    )
    chans = build_unit_channel_metadata(spikes)
    rows = {r["name"]: r for r in chans.collect()}
    assert rows["unit1"]["type"] == "UNIT"
    assert (rows["unit1"]["start"], rows["unit1"]["end"]) == (100, 900)
    assert rows["unit1"]["num_values"] == 2
    assert rows["unit2"]["num_values"] == 1
    v = validate_channels(chans)
    assert v.filter(~F.col("valid")).count() == 0


def test_spike_binary_layout(tmp_path):
    """S9 layout: waveform_offset, num_spikes, num_samples header, then
    (ts,unit) records, then the float64 waveform matrix (reference
    timeseries/base.py:223-253 — intended semantics, not its py2 bugs)."""
    path = str(tmp_path / "spikes.bin")
    wf = np.array([[0.5, 1.5], [2.5, 3.5]])
    write_spike_binary(path, [(100, 1, wf[0]), (200, 2, wf[1])], nsamples=2)
    raw = open(path, "rb").read()
    # waveform_offset is len(spike_bytes) — relative to the header end
    # (reference base.py:241-242)
    offset, nspikes, nsamples = struct.unpack("<qqq", raw[:24])
    assert (nspikes, nsamples) == (2, 2)
    assert offset == 2 * 9  # 2 spikes × (8-byte ts + 1-byte unit)
    recs = [struct.unpack("<qB", raw[24 + i * 9 : 33 + i * 9]) for i in range(2)]
    assert recs == [(100, 1), (200, 2)]
    waves = np.frombuffer(raw[24 + offset :], "<f8").reshape(2, 2)
    np.testing.assert_array_equal(waves, wf)


def test_partitioned_sink_prunes_file_partitions(spark, tmp_path):
    """write_samples_parquet lays samples out partitioned by file so a
    single-file query reads ONE directory, not the whole dataset: the
    file predicate must land in PartitionFilters (pruned at planning,
    zero IO for other files) — at 100 TB this is the difference between
    touching one recording and scanning the lake."""
    from pyspark.sql import functions as F

    from processor_edf_spark.sinks.writers import write_samples_parquet

    rows = [
        (f"rec_{i}.edf", "ch0", t * 1_000_000, float(t))
        for i in range(4)
        for t in range(50)
    ]
    df = spark.createDataFrame(
        rows, "file string, channel string, t_usec long, value double"
    )
    out = str(tmp_path / "samples")
    write_samples_parquet(df, out)

    q = spark.read.parquet(out).filter(F.col("file") == "rec_2.edf")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan[:2000]
    assert "rec_2.edf" in plan.split("PartitionFilters")[1][:300], plan[:2000]
    assert q.count() == 50


def test_write_training_shards_bounded_and_deterministic(spark, tmp_path):
    """Every exported shard respects maxRecordsPerFile, rows survive
    exactly, and two identical exports produce identical shard
    contents (deterministic membership + in-shard order)."""
    import glob

    from processor_edf_spark.sinks.writers import write_training_shards

    docs = spark.range(0, 1000).selectExpr(
        "id AS doc_id", "CAST(id % 7 AS STRING) AS lang", "repeat('x', 10) AS text"
    )
    out = str(tmp_path / "shards")
    write_training_shards(
        docs, out, max_records_per_file=150, shard_key="lang",
        order_cols=("doc_id",),
    )
    files = sorted(glob.glob(f"{out}/*.parquet"))
    assert files
    import pyarrow.parquet as pq

    sizes = [pq.read_metadata(f).num_rows for f in files]
    assert all(s <= 150 for s in sizes)
    assert sum(sizes) == 1000
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.select("doc_id").distinct().count() == 1000

    out2 = str(tmp_path / "shards2")
    write_training_shards(
        docs, out2, max_records_per_file=150, shard_key="lang",
        order_cols=("doc_id",),
    )
    import pandas as pd

    a = pd.concat([pq.read_table(f).to_pandas() for f in sorted(glob.glob(f"{out}/*.parquet"))])
    b = pd.concat([pq.read_table(f).to_pandas() for f in sorted(glob.glob(f"{out2}/*.parquet"))])
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))
