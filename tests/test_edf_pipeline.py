"""End-to-end EDF pipeline tests — same golden-check philosophy as the
reference's parametrized tests (SURVEY.md §5, reference
processor/base_processor/timeseries/tests.py):

1. channel count matches
2. per-channel sample counts match
3. declared rate within 1%
4. inferred rate (num_values / duration) within 1%
5. value-level sine golden check at rtol=0.01 / atol=0.1
6. EDF+D gap fixture → ≥2 contiguousChunks per channel
"""

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from processor_edf_spark.pipeline import channel_dicts, process_edf_directory
from tests.conftest import REFERENCE_SAMPLES
from tests.edf_fixtures import sine, write_edf

USEC = 1_000_000


def _write_sample_data(directory) -> str:
    """Files equivalent to the reference's sample_data: ``test.edf``, EDF+C
    with 11 data channels of 120 000 values at 200 Hz and an annotation
    signal, and ``sin_wave.edf``, 400·sin at 10 and 20 Hz sampled at
    800 Hz, 12 000 values each."""
    write_edf(
        str(directory / "test.edf"),
        signals=[
            {"label": f"EEG {i:02d}", "rate": 200, "gen": sine(1.0 + i)} for i in range(11)
        ],
        nb_data_rec=600,
        record_offsets_sec=[float(r) for r in range(600)],
    )
    write_edf(
        str(directory / "sin_wave.edf"),
        signals=[
            {"label": "Sin 10Hz", "rate": 800, "gen": sine(10.0)},
            {"label": "Sin 20Hz", "rate": 800, "gen": sine(20.0)},
        ],
        nb_data_rec=15,
    )
    return str(directory)


@pytest.fixture(scope="module")
def edf_outputs(spark, tmp_path_factory):
    """The reference's sample_data where it exists, else files written to
    match it."""
    if os.path.isdir(REFERENCE_SAMPLES):
        sample_dir = REFERENCE_SAMPLES
    else:
        sample_dir = _write_sample_data(tmp_path_factory.mktemp("sample_data"))
    samples, channels, annotations = process_edf_directory(spark, sample_dir)
    samples = samples.cache()
    return samples, channels.cache(), annotations


def test_channel_counts(edf_outputs):
    _, channels, _ = edf_outputs
    per_file = {
        r["file"]: r["n"]
        for r in channels.groupBy("file").agg(F.count("*").alias("n")).collect()
    }
    assert per_file == {"test.edf": 11, "sin_wave.edf": 2}


def test_sample_counts_and_rates(edf_outputs):
    _, channels, _ = edf_outputs
    for row in channels.collect():
        expected_n = 120_000 if row["file"] == "test.edf" else 12_000
        expected_rate = 200.0 if row["file"] == "test.edf" else 800.0
        assert row["num_values"] == expected_n
        assert math.isclose(row["rate"], expected_rate, rel_tol=0.01)
        # reference tests.py:68-72 rate cross-check
        inferred = row["num_values"] / ((row["end"] - row["start"]) / USEC)
        assert math.isclose(inferred, expected_rate, rel_tol=0.01)
        # contiguous fixture → exactly one chunk starting at index 0
        assert len(row["contiguousChunks"]) == 1
        assert row["contiguousChunks"][0]["index"] == 0
        assert row["contiguousChunks"][0]["start"] == row["start"]


def test_annotation_channel_excluded(edf_outputs):
    _, channels, _ = edf_outputs
    assert (
        channels.filter(F.col("name") == "EDF Annotations").count() == 0
    )  # reference P1, processor.py:19-20


def test_sine_golden_values(edf_outputs):
    """Value-level golden check, reference tests.py:144-159 tolerances."""
    samples, _, _ = edf_outputs
    for name, freq in [("Sin 10Hz", 10.0), ("Sin 20Hz", 20.0)]:
        pdf = (
            samples.filter(
                (F.col("file") == "sin_wave.edf") & (F.col("channel") == name)
            )
            .orderBy("t_usec")
            .select("value")
            .toPandas()
        )
        t = np.arange(len(pdf)) / 800.0
        expected = 400.0 * np.sin(2 * np.pi * freq * t)
        np.testing.assert_allclose(expected, pdf["value"].values, rtol=0.01, atol=0.1)


def test_channel_dicts_schema(edf_outputs):
    """Output contract: required keys of timeseries-channel.schema.json."""
    _, channels, _ = edf_outputs
    dicts = channel_dicts(channels)
    assert len(dicts) == 13
    for d in dicts:
        for key in ("name", "start", "end", "unit", "rate", "type"):
            assert key in d, key
        assert d["type"] in ("CONTINUOUS", "UNIT")
        assert isinstance(d["start"], int) and isinstance(d["end"], int)
        assert d["end"] >= d["start"]
        chunks = d["contiguousChunks"]
        assert chunks[0]["index"] == 0
        assert all(
            chunks[i]["start"] < chunks[i + 1]["start"] for i in range(len(chunks) - 1)
        )


def test_edfd_gap_sessionization(spark, tmp_path):
    """EDF+D with inter-record gaps ≫ 2/rate → multiple contiguousChunks
    (reference W1 semantics, timeseries/base.py:322-342)."""
    # 6 records of 1s at 100 Hz; gap of 10s between records 2|3 → 2 chunks
    offsets = [0.0, 1.0, 2.0, 13.0, 14.0, 15.0]
    write_edf(
        str(tmp_path / "gaps.edf"),
        signals=[{"label": "chanA", "rate": 100, "gen": sine(5.0)}],
        nb_data_rec=6,
        variant="EDF+D",
        record_offsets_sec=offsets,
    )
    samples, channels, annotations = process_edf_directory(spark, str(tmp_path))
    rows = channels.collect()
    assert len(rows) == 1
    ch = rows[0]
    assert ch["num_values"] == 600
    chunks = ch["contiguousChunks"]
    assert len(chunks) == 2
    assert chunks[0]["index"] == 0 and chunks[1]["index"] == 300
    # second chunk starts 13s after file start
    assert chunks[1]["start"] - chunks[0]["start"] == 13 * USEC
    # TAL offsets parsed (reference S5, edf.py:65-70)
    offs = [r["offset_sec"] for r in annotations.orderBy("record").collect()]
    assert offs == offsets


def test_validate_channels(spark, edf_outputs):
    """S10 output validation: real pipeline output is clean; doctored rows
    collect named violations instead of failing the job."""
    from processor_edf_spark.pipeline import validate_channels

    _, channels, _ = edf_outputs
    validated = validate_channels(channels)
    assert validated.filter(~F.col("valid")).count() == 0

    bad = spark.createDataFrame(
        [
            {
                "id": "x", "file": "f", "index": 0, "name": "  ", "start": 10,
                "end": 5, "unit": None, "rate": -1.0, "type": "WEIRD",
                "group": "g", "lastAnnotation": 0, "num_values": 1,
                "contiguousChunks": [
                    {"index": 0, "start": 10, "end": 20},
                    {"index": 5, "start": 15, "end": 30},  # overlaps previous
                ],
                "properties": [],
            }
        ],
        channels.schema,
    )
    row = validate_channels(bad).collect()[0]
    assert not row["valid"]
    assert set(row["violations"]) == {
        "missing_name",
        "missing_unit",
        "bad_type",
        "bad_rate",
        "end_before_start",
        "chunks_unsorted_or_overlap",
    }


def test_multifile_channel_merge(spark, tmp_path):
    """Two files carrying the same channel merge into ONE channel whose
    bounds/count/chunks aggregate over BOTH files (reference append
    semantics: samples accumulate into the matched channel,
    base.py:154-157,282-291).  File B starts 100 s after file A ends →
    the merged channel has two contiguousChunks."""
    kwargs = dict(
        signals=[{"label": "chanA", "rate": 100, "gen": sine(5.0)}], nb_data_rec=2
    )
    write_edf(str(tmp_path / "a.edf"), start_time="10.00.00", **kwargs)
    write_edf(str(tmp_path / "b.edf"), start_time="10.01.42", **kwargs)
    _, channels, _ = process_edf_directory(spark, str(tmp_path))
    rows = channels.collect()
    assert len(rows) == 1
    ch = rows[0]
    assert ch["num_values"] == 400  # 2 files × 2 records × 200 samples
    assert len(ch["contiguousChunks"]) == 2
    assert ch["contiguousChunks"][1]["index"] == 200
    # end = fileB_start + 1.99 s; start = fileA_start; Δfiles = 102 s
    assert (ch["end"] - ch["start"]) == 102 * USEC + 1_990_000


def test_tal_annotation_parse(spark, tmp_path):
    """Full TAL parse: event annotations with onset/duration/text become
    typed rows (the reference collects but never publishes these —
    extension point, SURVEY.md §2.8)."""
    from processor_edf_spark.pipeline import process_edf_directory as run
    from processor_edf_spark.sources.edf import parse_tal_annotations

    write_edf(
        str(tmp_path / "ann.edf"),
        signals=[{"label": "chanA", "rate": 100, "gen": sine(5.0)}],
        nb_data_rec=2,
        variant="EDF+D",
        record_offsets_sec=[0.0, 1.0],
        annotations_per_record={
            0: [(0.25, 0.5, "seizure onset")],
            1: [(1.5, None, "movement"), (1.75, 0.1, "artifact")],
        },
    )
    _, _, annotations = run(spark, str(tmp_path))
    parsed = parse_tal_annotations(annotations).orderBy("record", "tal_idx").collect()
    got = [(r["onset_sec"], r["duration_sec"], r["text"]) for r in parsed]
    assert got == [
        (0.25, 0.5, "seizure onset"),
        (1.5, None, "movement"),
        (1.75, 0.1, "artifact"),
    ]


def test_append_mode_platform_match(spark, tmp_path):
    """J1 band join: append mode reuses platform channel ids when name+type
    match and rate is within ±2% (reference base.py:178-205)."""
    write_edf(
        str(tmp_path / "a.edf"),
        signals=[
            {"label": "EEG F3", "rate": 200, "gen": sine(8.0)},
            {"label": "EEG F4", "rate": 200, "gen": sine(9.0)},
        ],
        nb_data_rec=2,
    )
    existing = spark.createDataFrame(
        [
            ("platform-1", "eeg f3", 201.0, "CONTINUOUS"),  # within 2% band
            ("platform-2", "EEG F4", 300.0, "CONTINUOUS"),  # rate out of band
        ],
        "id string, name string, rate double, type string",
    )
    _, channels, _ = process_edf_directory(spark, str(tmp_path), existing)
    by_name = {r["name"]: r for r in channels.collect()}
    assert by_name["EEG F3"]["id"] == "platform-1"
    assert not by_name["EEG F3"]["is_new"] if "is_new" in channels.columns else True
    assert by_name["EEG F4"]["id"] != "platform-2"  # out-of-band → new channel


def test_annotations_sink_publishes_beside_channels(spark, tmp_path):
    """End-to-end publish of the annotations channel: the pipeline's raw
    annotations frame lands as newline-JSON rows beside channel*.json —
    the step the reference's collector never takes
    (edf_processor/edf.py:117-118).  Record-start TALs stay metadata
    (no row); real texts publish with onset/duration."""
    import json
    import os

    from processor_edf_spark.pipeline import process_edf_directory as run
    from processor_edf_spark.sinks.writers import (
        write_annotations_json,
        write_channels_json,
    )

    write_edf(
        str(tmp_path / "ann.edf"),
        signals=[{"label": "chanA", "rate": 100, "gen": sine(5.0)}],
        nb_data_rec=2,
        variant="EDF+D",
        record_offsets_sec=[0.0, 1.0],
        annotations_per_record={
            0: [(0.25, 0.5, "seizure onset")],
            1: [(1.5, None, "movement"), (1.75, 0.1, "artifact")],
        },
    )
    _, channels, annotations = run(spark, str(tmp_path))
    ch_dir = str(tmp_path / "out" / "channels")
    ann_dir = str(tmp_path / "out" / "annotations")
    write_channels_json(channels, ch_dir)
    write_annotations_json(annotations, ann_dir)

    def read_ndjson(d):
        rows = []
        for name in sorted(os.listdir(d)):
            if name.endswith(".json"):
                with open(os.path.join(d, name)) as fh:
                    rows += [json.loads(line) for line in fh if line.strip()]
        return rows

    assert len(read_ndjson(ch_dir)) == 1  # chanA
    got = sorted(
        (r["onset_sec"], r.get("duration_sec"), r["text"])
        for r in read_ndjson(ann_dir)
    )
    assert got == [
        (0.25, 0.5, "seizure onset"),
        (1.5, None, "movement"),
        (1.75, 0.1, "artifact"),
    ]
    # every row names its source file and record for downstream joins
    for r in read_ndjson(ann_dir):
        assert r["file"].endswith("ann.edf") and "record" in r
