"""Record-aligned slice decode (sources/edf.py).

The contract: for ANY slice size, every stage of the EDF source equals
the independent pure-numpy reader in tests/edf_reference.py — same rows,
same int64 timestamps, calibrated values to float rounding.  The tests
run each stage at a slice size that splits the fixture files and at the
default (one slice per small file).  Reference semantics under test:
processor/edf_processor/edf.py:56-76 (whole-file sample decode).
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from processor_edf_spark.sources import edf as edf_mod
from processor_edf_spark.sources.edf import (
    decode_samples,
    parse_edf_header,
    ranges_from_header,
    scan_edf_files,
)
from tests.edf_fixtures import sine, write_edf, write_edf_fast
from tests.edf_reference import read_edf

SMALL = 32 * 1024  # splits the fixture files into several slices
SLICE_SIZES = (SMALL, edf_mod.SLICE_BYTES)


def _reference(d: str, key: str) -> pd.DataFrame:
    return pd.concat(
        [read_edf(p)[key] for p in sorted(glob.glob(os.path.join(d, "*.edf")))],
        ignore_index=True,
    )


def _assert_same_samples(got: pd.DataFrame, want: pd.DataFrame) -> None:
    got = got.sort_values(["file", "channel", "t_usec"]).reset_index(drop=True)
    want = want.sort_values(["file", "channel", "t_usec"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert list(got["file"]) == list(want["file"])
    assert list(got["channel"]) == list(want["channel"])
    assert (got["t_usec"].to_numpy() == want["t_usec"].to_numpy()).all()
    # gain·d + bias vs the spec's pmin + (d − dmin)·gain: float rounding only
    np.testing.assert_allclose(
        got["value"].to_numpy(), want["value"].to_numpy(), rtol=1e-12, atol=1e-9
    )


def _assert_matches_reference(df, d: str, wanted: set[str] | None = None) -> None:
    want = _reference(d, "samples")
    if wanted is not None:
        want = want[want["channel"].isin(wanted)]
    _assert_same_samples(df.toPandas().astype({"file": str, "channel": str}), want)


def _decode(spark, monkeypatch, d: str, slice_bytes: int, wanted=None):
    monkeypatch.setattr(edf_mod, "SLICE_BYTES", slice_bytes)
    return decode_samples(scan_edf_files(spark, d), wanted)


@pytest.fixture(scope="module")
def edfc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edfc")
    write_edf(
        str(d / "a.edf"),
        signals=[
            {"label": "EEG F1", "unit": "uV", "rate": 200, "gen": sine(3.0)},
            {"label": "EMG c2", "unit": "uV", "rate": 57, "gen": sine(7.5)},
        ],
        nb_data_rec=240,
    )
    write_edf_fast(str(d / "b.edf"), n_signals=4, rate=128, nb_rec=300)
    return str(d)


@pytest.fixture(scope="module")
def edfd_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edfd")
    write_edf_fast(
        str(d / "d.edf"),
        n_signals=3,
        rate=64,
        nb_rec=200,
        variant="EDF+D",
        gap_every=37,
        gap_sec=12.5,
    )
    return str(d)


def _header(path: str) -> tuple[dict, int]:
    with open(path, "rb") as f:
        raw = f.read()
    return parse_edf_header(raw), len(raw)


def test_range_plan_is_record_aligned(edfc_dir):
    n_slices = 0
    for path in glob.glob(os.path.join(edfc_dir, "*.edf")):
        h, length = _header(path)
        rs = ranges_from_header(h, length, SMALL)
        n_slices += len(rs)
        assert len(rs) == -(-length // SMALL)  # slice count from length alone
        rec_bytes = 2 * sum(h["nr_samples"])
        assert rs[0][0] == 0
        for (rec0, n_rec, start, n_bytes), nxt in zip(rs, rs[1:] + [None]):
            assert start == h["header_bytes"] + rec0 * rec_bytes
            assert n_bytes == n_rec * rec_bytes
            if nxt is not None:
                assert rec0 + n_rec == nxt[0]  # no gap, no overlap
        assert rs[-1][0] + rs[-1][1] == h["nb_data_rec"]  # every record once
    assert n_slices >= 8  # the small slice size forces intra-file splits


def test_ranged_decode_parity_edfc(spark, monkeypatch, edfc_dir):
    for sb in SLICE_SIZES:
        _assert_matches_reference(_decode(spark, monkeypatch, edfc_dir, sb), edfc_dir)


def test_ranged_decode_parity_edfd(spark, monkeypatch, edfd_dir):
    for sb in (16 * 1024, edf_mod.SLICE_BYTES):
        _assert_matches_reference(_decode(spark, monkeypatch, edfd_dir, sb), edfd_dir)


def test_ranged_decode_spreads_across_tasks(spark, monkeypatch, edfc_dir):
    """A file larger than the slice size decodes in at least
    min(session parallelism, its slice count) tasks, not one straggler."""
    h, length = _header(os.path.join(edfc_dir, "b.edf"))
    n_slices = len(ranges_from_header(h, length, SMALL))
    assert n_slices >= 8
    decoded = _decode(spark, monkeypatch, edfc_dir, SMALL).filter(
        F.col("file") == "b.edf"
    )
    n_tasks = decoded.select(F.spark_partition_id()).distinct().count()
    width = spark.sparkContext.defaultParallelism
    assert n_tasks >= min(width, n_slices)


def test_ranged_decode_single_range_per_file(spark, monkeypatch, edfc_dir):
    # default slice size → one slice per small file → still exact
    for path in glob.glob(os.path.join(edfc_dir, "*.edf")):
        assert len(ranges_from_header(*_header(path))) == 1
    _assert_matches_reference(
        _decode(spark, monkeypatch, edfc_dir, edf_mod.SLICE_BYTES), edfc_dir
    )


def test_ranged_decode_wanted_signals_pruning(spark, monkeypatch, edfc_dir):
    for sb in SLICE_SIZES:
        ranged = _decode(spark, monkeypatch, edfc_dir, sb, {"EEG F1"})
        assert ranged.select("channel").distinct().collect()[0][0] == "EEG F1"
        _assert_matches_reference(ranged, edfc_dir, {"EEG F1"})


def test_ranged_decode_truncated_file(spark, monkeypatch, tmp_path):
    d = tmp_path / "trunc"
    d.mkdir()
    p = d / "t.edf"
    write_edf(
        str(p),
        signals=[{"label": "s0", "unit": "uV", "rate": 100, "gen": sine(2.0)}],
        nb_data_rec=50,
    )
    raw = p.read_bytes()
    p.write_bytes(raw[: len(raw) - 75])  # chop mid-record
    for sb in (2 * 1024, edf_mod.SLICE_BYTES):
        ranged = _decode(spark, monkeypatch, str(d), sb)
        assert ranged.count() == 49 * 100  # only complete records decode
        _assert_matches_reference(ranged, str(d))


def test_unknown_record_count_decodes_every_complete_record(
    spark, monkeypatch, tmp_path
):
    """nb_data_rec = -1 means "unknown" in the EDF spec: every complete
    record the file length holds decodes, and the status and header rows
    report that count instead of -1."""
    from processor_edf_spark.sources.edf import file_status, parse_signal_headers

    d = tmp_path / "unknown"
    d.mkdir()
    p = d / "u.edf"
    write_edf_fast(str(p), n_signals=2, rate=64, nb_rec=30, variant="EDF+D",
                   gap_every=7, gap_sec=3.0)
    raw = bytearray(p.read_bytes())
    raw[236:244] = b"-1".ljust(8)
    p.write_bytes(bytes(raw[:-100]))  # and cut into the last record
    assert read_edf(str(p))["header"]["nb_rec"] == 29
    for sb in (2 * 1024, edf_mod.SLICE_BYTES):
        _assert_matches_reference(_decode(spark, monkeypatch, str(d), sb), str(d))
    files = scan_edf_files(spark, str(d))
    (status,) = file_status(files).collect()
    assert status["ok"] and status["nb_data_rec"] == 29
    assert {r["nb_data_rec"] for r in parse_signal_headers(files).collect()} == {29}

    # any other negative count is a malformed header
    raw[236:244] = b"-2".ljust(8)
    p.write_bytes(bytes(raw))
    (status,) = file_status(scan_edf_files(spark, str(d))).collect()
    assert not status["ok"] and "negative record count -2" in status["error"]


def test_pipeline_ranged_samples_parity(spark, monkeypatch, edfc_dir):
    from processor_edf_spark.pipeline import process_edf_directory

    counts = []
    for sb in SLICE_SIZES:
        monkeypatch.setattr(edf_mod, "SLICE_BYTES", sb)
        samples, channels, _ = process_edf_directory(spark, edfc_dir)
        _assert_matches_reference(samples, edfc_dir)
        counts.append(channels.count())
    assert counts[0] == counts[1] == 6


def test_pipeline_ranged_quarantine_skips_corrupt(spark, monkeypatch, tmp_path):
    from processor_edf_spark.pipeline import process_edf_directory

    d = tmp_path / "q"
    d.mkdir()
    write_edf(
        str(d / "good.edf"),
        signals=[{"label": "s0", "unit": "uV", "rate": 100, "gen": sine(2.0)}],
        nb_data_rec=30,
    )
    (d / "bad.edf").write_bytes(b"not an edf at all" * 40)
    monkeypatch.setattr(edf_mod, "SLICE_BYTES", 2 * 1024)
    samples, channels, _ = process_edf_directory(spark, str(d), quarantine=True)
    assert samples.count() == 30 * 100  # the good file, fully decoded
    assert samples.select("file").distinct().collect()[0][0] == "good.edf"


def test_arrow_range_read_matches_local(tmp_path):
    """The pyarrow.fs branch of the range reader returns the same bytes
    as the plain-open fast path (driven through a file:// URI — the
    scheme production short-circuits, exercised here directly)."""
    from processor_edf_spark.sources.edf import _read_at, _read_at_arrow

    p = tmp_path / "r.bin"
    p.write_bytes(bytes(range(256)) * 4)
    uri = p.as_uri()  # file:///...
    for off, n in ((0, 16), (100, 57), (1000, 24), (1020, 10)):
        assert _read_at_arrow(uri, off, n) == _read_at(str(p), off, n)


# ---------------------------------------------------------------------------
# Metadata stages: headers, status, annotations and chunk runs read the
# same header bytes and record-aligned slices as the sample decode
# ---------------------------------------------------------------------------


def _sorted_pdf(df, keys):
    return (
        df.toPandas().sort_values(keys).reset_index(drop=True)
    )


def test_ranged_annotations_parity(spark, monkeypatch, edfc_dir, edfd_dir):
    from processor_edf_spark.sources.edf import decode_annotations

    for d, small in ((edfc_dir, SMALL), (edfd_dir, 16 * 1024)):
        want = _reference(d, "annotations")
        for sb in (small, edf_mod.SLICE_BYTES):
            monkeypatch.setattr(edf_mod, "SLICE_BYTES", sb)
            got = _sorted_pdf(
                decode_annotations(scan_edf_files(spark, d)), ["file", "record"]
            )
            assert list(got["file"]) == list(want["file"])
            assert list(got["record"]) == list(want["record"])
            assert list(got["raw"]) == list(want["raw"])
            assert list(got["offset_sec"]) == list(want["offset_sec"])
    assert len(_reference(edfd_dir, "annotations")) == 200


def test_unparseable_tal_head_gives_null_offset(spark, tmp_path):
    """A record whose TAL head does not parse as a number keeps its raw
    segment with a null ``offset_sec`` (not NaN); the other records keep
    their offsets."""
    from processor_edf_spark.sources.edf import decode_annotations

    d = tmp_path / "tal"
    d.mkdir()
    path = str(d / "d.edf")
    write_edf_fast(path, n_signals=1, rate=16, nb_rec=3, variant="EDF+D", gap_every=2, gap_sec=1.0)
    h, _ = _header(path)
    raw = bytearray(open(path, "rb").read())
    head = h["header_bytes"] + 2 * sum(h["nr_samples"]) + 2 * h["nr_samples"][0]  # record 1
    raw[head : head + 2] = b"xx"
    open(path, "wb").write(bytes(raw))
    rows = decode_annotations(scan_edf_files(spark, str(d))).orderBy("record").collect()
    assert [r["offset_sec"] for r in rows] == [0.0, None, 3.0]
    assert rows[1]["raw"][:2] == b"xx"


def test_unparseable_tal_head_drops_its_record(spark, tmp_path):
    """An EDF+D record whose TAL head does not parse has no start time:
    its samples are dropped from the sample decode and from the chunk
    runs alike, instead of carrying int64-min timestamps.  Records 0 and
    2 keep their reference timestamps and values, and the runs still
    count every emitted sample, starting at ``index = 0``."""
    from processor_edf_spark.sources.edf import decode_chunk_runs

    d = tmp_path / "tal"
    d.mkdir()
    path = str(d / "d.edf")
    write_edf_fast(path, n_signals=1, rate=16, nb_rec=3, variant="EDF+D", gap_every=2, gap_sec=1.0)
    want = read_edf(path)["samples"]
    h, _ = _header(path)
    raw = bytearray(open(path, "rb").read())
    head = h["header_bytes"] + 2 * sum(h["nr_samples"]) + 2 * h["nr_samples"][0]  # record 1
    raw[head : head + 2] = b"xx"
    open(path, "wb").write(bytes(raw))
    n = h["nr_samples"][0]
    want = want.iloc[np.r_[0:n, 2 * n : 3 * n]]

    files = scan_edf_files(spark, str(d))
    samples = decode_samples(files).toPandas().astype({"file": str, "channel": str})
    _assert_same_samples(samples, want)
    runs = decode_chunk_runs(files).toPandas()
    assert runs["n_samples"].sum() == len(samples)
    assert 0 in set(runs["index"])


def test_ranged_headers_parity(spark, edfc_dir, edfd_dir):
    from processor_edf_spark.sources.edf import parse_signal_headers

    for d in (edfc_dir, edfd_dir):
        got = _sorted_pdf(
            parse_signal_headers(scan_edf_files(spark, d)), ["file", "signal_idx"]
        )
        want = []
        for path in sorted(glob.glob(os.path.join(d, "*.edf"))):
            h = read_edf(path)["header"]
            for i in range(h["ns"]):
                want.append((
                    os.path.basename(path), i, h["labels"][i], h["units"][i],
                    h["pmin"][i], h["pmax"][i], h["dmin"][i], h["dmax"][i],
                    h["nr"][i], h["nr"][i] / h["duration"], h["nr"][i] * h["nb_rec"],
                    h["start_usec"], h["nb_rec"], h["discontiguous"],
                ))
        cols = ["file", "signal_idx", "label", "phy_dim", "phy_min", "phy_max",
                "dig_min", "dig_max", "nr_samples", "rate", "n_total_samples",
                "file_start_usec", "nb_data_rec", "is_discontiguous"]
        assert [tuple(r) for r in got[cols].itertuples(index=False)] == want


def test_ranged_file_status_parity(spark, tmp_path):
    from processor_edf_spark.sources.edf import file_status

    d = tmp_path / "status"
    d.mkdir()
    write_edf(
        str(d / "good.edf"),
        signals=[{"label": "s0", "unit": "uV", "rate": 64, "gen": sine(1.0)}],
        nb_data_rec=20,
    )
    (d / "bad.edf").write_bytes(b"garbage bytes, not a header" * 30)
    status = {r["file"]: r for r in file_status(scan_edf_files(spark, str(d))).collect()}
    good = read_edf(str(d / "good.edf"))["header"]
    assert status["good.edf"]["ok"] and status["good.edf"]["error"] is None
    assert status["good.edf"]["nb_signal"] == good["ns"]
    assert status["good.edf"]["nb_data_rec"] == good["nb_rec"] == 20
    assert status["good.edf"]["n_bytes"] == os.path.getsize(d / "good.edf")
    assert not status["bad.edf"]["ok"] and status["bad.edf"]["error"]
    assert status["bad.edf"]["nb_signal"] is None
    assert status["bad.edf"]["n_bytes"] == os.path.getsize(d / "bad.edf")


def test_ranged_chunk_runs_merge_to_whole_file_runs(spark, monkeypatch, edfd_dir):
    """Per-slice runs + the pipeline's merge window == the gap runs of
    the reference timestamps: slice boundaries add NO spurious chunk
    boundaries (contiguous slices coalesce), and real EDF+D gaps survive."""
    from processor_edf_spark.operators.sessionize import merge_chunk_runs
    from processor_edf_spark.sources.edf import decode_chunk_runs

    ref = _reference(edfd_dir, "samples")
    want = []
    for ch, g in ref.groupby("channel"):
        t = g["t_usec"].to_numpy()
        starts = np.concatenate([[0], np.flatnonzero(np.diff(t) > 2e6 / 64) + 1])
        ends = np.concatenate([starts[1:], [len(t)]])
        want += [(ch, int(s), int(t[s]), int(t[e - 1]), int(e - s))
                 for s, e in zip(starts, ends)]
    assert len(want) == 3 * 6  # 200 records, a gap before every 37th
    for sb in (16 * 1024, edf_mod.SLICE_BYTES):
        monkeypatch.setattr(edf_mod, "SLICE_BYTES", sb)
        runs = decode_chunk_runs(scan_edf_files(spark, edfd_dir))
        merged = merge_chunk_runs(runs, id_col="channel", rate_col="rate")
        got = _sorted_pdf(merged, ["channel", "start"])
        assert [
            (r.channel, r.index, r.start, r.end, r.n_samples)
            for r in got.itertuples(index=False)
        ] == sorted(want)


def test_pipeline_ranged_full_metadata_parity(spark, monkeypatch, edfc_dir, edfd_dir):
    """channels + annotations + samples from the pipeline do not depend on
    the slice size, and the samples equal the reference reader's."""
    from processor_edf_spark.pipeline import channel_dicts, process_edf_directory

    for d, small in ((edfc_dir, SMALL), (edfd_dir, 16 * 1024)):
        outputs = []
        for sb in (small, edf_mod.SLICE_BYTES):
            monkeypatch.setattr(edf_mod, "SLICE_BYTES", sb)
            s, ch, an = process_edf_directory(spark, d)
            _assert_matches_reference(s, d)
            dicts = sorted(channel_dicts(ch), key=lambda c: (c["name"],))
            for x in dicts:
                x.pop("id", None)  # ids are registry-assigned, run-local
            outputs.append((dicts, an.count()))
        assert outputs[0] == outputs[1]
        assert outputs[0][1] == len(_reference(d, "annotations"))


def test_pipeline_ranged_quarantine_uses_header_probe(spark, monkeypatch, tmp_path):
    from processor_edf_spark.pipeline import process_edf_directory

    d = tmp_path / "q2"
    d.mkdir()
    # EDF+D so the good file carries a TAL annotation channel
    write_edf_fast(
        str(d / "good.edf"), n_signals=1, rate=100, nb_rec=30,
        variant="EDF+D", gap_every=11, gap_sec=2.0,
    )
    (d / "bad.edf").write_bytes(b"\x00" * 600)
    monkeypatch.setattr(edf_mod, "SLICE_BYTES", 2 * 1024)
    samples, channels, annotations = process_edf_directory(
        spark, str(d), quarantine=True
    )
    assert samples.count() == 30 * 100
    # the annotation scan sees only the quarantine survivors
    assert annotations.select("file").distinct().count() == 1


def test_quarantined_multi_slice_file_yields_no_slice_rows(spark, monkeypatch, tmp_path):
    """A file whose header parses but fails the probe (a zero calibration
    gain) is split into several slices; with quarantine on, no slice of
    it emits a row from any scan, and file_status names the reason.
    With quarantine off the same plan still fails at the action."""
    from pyspark.errors import PythonException

    from processor_edf_spark.pipeline import process_edf_directory
    from processor_edf_spark.sources.edf import (
        decode_annotations,
        decode_chunk_runs,
        file_status,
        parse_signal_headers,
    )

    d = tmp_path / "q3"
    d.mkdir()
    kw = dict(n_signals=2, rate=100, nb_rec=40, variant="EDF+D", gap_every=9, gap_sec=3.0)
    write_edf_fast(str(d / "good.edf"), **kw)
    bad = d / "flat.edf"
    write_edf_fast(str(bad), **kw)
    raw = bytearray(bad.read_bytes())
    ns = 3  # two data signals + the annotation signal
    phy_min, phy_max = 256 + 104 * ns + 8, 256 + 112 * ns + 8  # signal 1
    raw[phy_min : phy_min + 8] = raw[phy_max : phy_max + 8]
    bad.write_bytes(bytes(raw))

    monkeypatch.setattr(edf_mod, "SLICE_BYTES", 2 * 1024)
    h = parse_edf_header(bytes(raw))
    assert sum(n for _, n, _, _ in ranges_from_header(h, len(raw), 2 * 1024) if n) > 3

    files = scan_edf_files(spark, str(d))
    (status,) = file_status(files).filter("NOT ok").collect()
    assert status["file"] == "flat.edf" and "phy_max == phy_min" in status["error"]

    scans = {
        "samples": decode_samples(files, quarantine=True),
        "annotations": decode_annotations(files, quarantine=True),
        "chunk_runs": decode_chunk_runs(files, quarantine=True),
        "headers": parse_signal_headers(files, quarantine=True),
    }
    for name, df in scans.items():
        got = {r["file"] for r in df.select("file").distinct().collect()}
        assert got == {"good.edf"}, name
    good = read_edf(str(d / "good.edf"))["samples"]
    _assert_same_samples(
        scans["samples"].toPandas().astype({"file": str, "channel": str}), good
    )

    samples, channels, annotations = process_edf_directory(spark, str(d), quarantine=True)
    assert samples.count() == len(good)
    assert {r["file"] for r in channels.collect()} == {"good.edf"}
    assert annotations.filter(F.col("file") == "flat.edf").count() == 0

    with pytest.raises(PythonException, match="phy_max == phy_min"):
        decode_samples(files).count()


# ---------------------------------------------------------------------------
# Property-based fuzz — for ANY header geometry, truncation point and
# slice size, the decode equals the reference reader
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    n_signals=st.integers(min_value=1, max_value=5),
    rate=st.sampled_from([16, 57, 100, 128]),
    nb_rec=st.integers(min_value=1, max_value=40),
    variant=st.sampled_from(["EDF+C", "EDF+D"]),
    slice_bytes=st.sampled_from([256, 1024, 4096, 1 << 20]),
    chop=st.integers(min_value=0, max_value=300),
)
def test_slice_fuzz_decode_equals_reference(
    spark, monkeypatch, tmp_path_factory, n_signals, rate, nb_rec, variant,
    slice_bytes, chop,
):
    """Random header geometry (signal counts, record sizes, EDF+C/+D),
    random slice size, random truncation: the decode must equal the
    reference reader — pins the slice arithmetic (record ownership, rec0
    timestamp propagation, TAL self-containment, truncation tolerance)."""
    d = tmp_path_factory.mktemp("fuzz")
    path = str(d / "f.edf")
    write_edf_fast(
        path,
        n_signals=n_signals,
        rate=rate,
        nb_rec=nb_rec,
        variant=variant,
        gap_every=7 if variant == "EDF+D" else 0,
        gap_sec=3.5,
    )
    if chop:
        raw = open(path, "rb").read()
        keep = max(256 + 256 * (n_signals + 1), len(raw) - chop)
        open(path, "wb").write(raw[:keep])
    _assert_matches_reference(_decode(spark, monkeypatch, str(d), slice_bytes), str(d))


def test_zero_record_files_keep_headers_and_channels(spark, monkeypatch, tmp_path):
    """Files with a parseable header but NO decodable records — declared
    nb_data_rec = 0, or truncated below one record — keep their
    signal-header rows but yield no channel rows and decode no samples,
    at any slice size."""
    from processor_edf_spark.pipeline import process_edf_directory
    from processor_edf_spark.sources.edf import parse_signal_headers

    d = tmp_path / "zr"
    d.mkdir()
    write_edf_fast(str(d / "normal.edf"), n_signals=2, rate=64, nb_rec=20)
    # truncated below one record: header only
    write_edf_fast(str(d / "trunc.edf"), n_signals=3, rate=32, nb_rec=5)
    raw = (d / "trunc.edf").read_bytes()
    hdr_bytes = 256 + 256 * 3
    (d / "trunc.edf").write_bytes(raw[: hdr_bytes + 100])  # record is 192 B
    # declared zero records: patch nb_data_rec (bytes 236:244) to 0
    write_edf_fast(str(d / "zero.edf"), n_signals=2, rate=16, nb_rec=3)
    raw = bytearray((d / "zero.edf").read_bytes())
    raw[236:244] = b"0".ljust(8)
    (d / "zero.edf").write_bytes(bytes(raw))

    cols = ["file", "signal_idx", "label", "rate"]
    want = sorted(
        (os.path.basename(p), i, h["labels"][i], h["nr"][i] / h["duration"])
        for p in glob.glob(str(d / "*.edf"))
        for h in [read_edf(p)["header"]]
        for i in range(h["ns"])
    )
    got = sorted(map(tuple, parse_signal_headers(
        scan_edf_files(spark, str(d))).select(cols).collect()))
    assert got == want
    assert {t[0] for t in got} == {"normal.edf", "trunc.edf", "zero.edf"}
    assert [read_edf(str(d / f))["header"]["nb_rec"] for f in ("trunc.edf", "zero.edf")] == [0, 0]

    channels = []
    for sb in (4096, edf_mod.SLICE_BYTES):
        monkeypatch.setattr(edf_mod, "SLICE_BYTES", sb)
        s, c, _ = process_edf_directory(spark, str(d))
        _assert_matches_reference(s, str(d))
        channels.append(sorted(map(tuple, c.drop("id").collect())))
    assert channels[0] == channels[1]


def test_first_chunk_runs_equal_data_signal_headers(spark, monkeypatch, tmp_path):
    """The channel metadata's per-signal rows are the ``index = 0`` runs
    of decode_chunk_runs: with quarantine on, at a splitting and at the
    default slice size, they equal the data-signal rows of
    parse_signal_headers (one per signal) on a multi-slice EDF+D file and
    an EDF+C file, and a multi-slice file that declares zero records, a
    file truncated below one record and a quarantined file yield none."""
    from processor_edf_spark.sources.edf import decode_chunk_runs, parse_signal_headers

    d = tmp_path / "scan"
    d.mkdir()
    write_edf_fast(str(d / "d.edf"), n_signals=2, rate=64, nb_rec=40,
                   variant="EDF+D", gap_every=9, gap_sec=3.0)
    write_edf_fast(str(d / "c.edf"), n_signals=3, rate=32, nb_rec=25)
    write_edf_fast(str(d / "zero.edf"), n_signals=2, rate=16, nb_rec=30)
    raw = bytearray((d / "zero.edf").read_bytes())
    raw[236:244] = b"0".ljust(8)
    (d / "zero.edf").write_bytes(bytes(raw))
    write_edf_fast(str(d / "trunc.edf"), n_signals=3, rate=32, nb_rec=5)
    raw = (d / "trunc.edf").read_bytes()
    (d / "trunc.edf").write_bytes(raw[: 256 + 256 * 3 + 100])  # record is 192 B
    write_edf_fast(str(d / "flat.edf"), n_signals=1, rate=16, nb_rec=4)
    raw = bytearray((d / "flat.edf").read_bytes())
    raw[256 + 104 : 256 + 112] = raw[256 + 112 : 256 + 120]  # phy_min = phy_max
    (d / "flat.edf").write_bytes(bytes(raw))

    files = scan_edf_files(spark, str(d))
    cols = ["file", "signal_idx", "channel", "phy_dim", "rate"]
    headers = parse_signal_headers(files, quarantine=True).withColumnRenamed("label", "channel")
    want = sorted(map(tuple, headers.filter(~F.col("is_annotation") & (F.col("nb_data_rec") > 0))
                      .select(*cols).collect()))
    assert {r[0] for r in want} == {"d.edf", "c.edf"}
    assert len(want) == 2 + 3
    for name in ("d.edf", "zero.edf"):
        h, length = _header(str(d / name))
        assert len(ranges_from_header(h, length, 2 * 1024)) > 1, name
    for slice_bytes in (2 * 1024, edf_mod.SLICE_BYTES):
        monkeypatch.setattr(edf_mod, "SLICE_BYTES", slice_bytes)
        runs = decode_chunk_runs(files, quarantine=True)
        got = sorted(map(tuple, runs.filter(F.col("index") == 0).select(*cols).collect()))
        assert got == want, slice_bytes


def test_zero_sample_signal_yields_no_channel(spark, tmp_path):
    """A file the probe passes, with one non-annotation signal declaring
    ``nr_samples = 0``: with quarantine on the file processes, and that
    signal yields no channel and no samples (its zero rate never reaches
    the registry's rate-band division)."""
    from processor_edf_spark.pipeline import channel_dicts, process_edf_directory
    from processor_edf_spark.sources.edf import file_status

    d = tmp_path / "zs"
    d.mkdir()
    write_edf(
        str(d / "z.edf"),
        signals=[
            {"label": "EEG", "unit": "uV", "rate": 64, "gen": sine(2.0)},
            {"label": "Empty", "unit": "uV", "rate": 0, "gen": sine(1.0)},
        ],
        nb_data_rec=4,
    )
    (status,) = file_status(scan_edf_files(spark, str(d))).collect()
    assert status["ok"], status["error"]
    samples, channels, _ = process_edf_directory(spark, str(d), quarantine=True)
    dicts = channel_dicts(channels)
    assert [(c["name"], c["id"]) for c in dicts] == [("EEG", "z.edf#0")]
    assert {r["channel"] for r in samples.select("channel").distinct().collect()} == {"EEG"}
    _assert_matches_reference(samples, str(d))


def test_zero_record_file_gives_no_channel_its_id_or_unit(spark, tmp_path):
    """A file declaring zero records beside a file with samples, both
    with an ``EEG`` signal at one rate: the channel is the one with
    samples — ``b.edf#0`` in ``uV`` — not the empty file's ``a.edf#0``
    in ``mV``."""
    from processor_edf_spark.pipeline import channel_dicts, process_edf_directory

    d = tmp_path / "zb"
    d.mkdir()
    write_edf(str(d / "a.edf"), [{"label": "EEG", "unit": "mV", "rate": 256, "gen": sine(1.0)}],
              nb_data_rec=0)
    write_edf(str(d / "b.edf"), [{"label": "EEG", "unit": "uV", "rate": 256, "gen": sine(1.0)}],
              nb_data_rec=1)
    _, channels, _ = process_edf_directory(spark, str(d), quarantine=True)
    (ch,) = channel_dicts(channels)
    (row,) = channels.select("id", "num_values").collect()
    assert (row["id"], ch["unit"], row["num_values"]) == ("b.edf#0", "uV", 256)


def test_duplicate_data_signal_labels_quarantine_the_file(spark, tmp_path):
    """Two non-annotation signals sharing a label (64 and 32 samples per
    record) would put both under one ``(file, channel)`` key: the probe
    rejects the file with a reason naming the label, so quarantine drops
    it and file_status reports it, while a file with several
    ``EDF Annotations`` signals stays accepted."""
    from processor_edf_spark.pipeline import process_edf_directory
    from processor_edf_spark.sources.edf import file_status, probe_header

    d = tmp_path / "dup"
    d.mkdir()
    write_edf(
        str(d / "dup.edf"),
        signals=[
            {"label": "EEG", "unit": "uV", "rate": 64, "gen": sine(2.0)},
            {"label": "EEG", "unit": "uV", "rate": 32, "gen": sine(3.0)},
        ],
        nb_data_rec=4,
    )
    write_edf(str(d / "ok.edf"), [{"label": "EOG", "unit": "uV", "rate": 16, "gen": sine(1.0)}],
              nb_data_rec=4)
    status = {r["file"]: r for r in file_status(scan_edf_files(spark, str(d))).collect()}
    assert status["ok.edf"]["ok"]
    assert not status["dup.edf"]["ok"] and "'EEG'" in status["dup.edf"]["error"]

    samples, channels, _ = process_edf_directory(spark, str(d), quarantine=True)
    assert [(r["id"], r["num_values"]) for r in channels.collect()] == [("ok.edf#0", 64)]
    assert {r["file"] for r in samples.select("file").distinct().collect()} == {"ok.edf"}

    h, length = _header(str(d / "ok.edf"))
    for key in ("labels", "nr_samples", "phy_dim", "phy_min", "phy_max", "dig_min", "dig_max"):
        h[key] = h[key] * 3
    h["labels"][1:] = ["EDF Annotations"] * 2
    h["nb_signal"] = 3
    assert probe_header(h, 10**6) > 0


def test_contiguous_chunk_runs_need_no_record_bytes(edfc_dir):
    """For EDF / EDF+C files the chunk runs follow from the header and the
    record range alone: an ``(n_rec, 0)`` matrix gives the same rows as
    the records themselves, for any block of records."""
    from processor_edf_spark.sources.edf import chunk_run_rows_from_matrix

    for name in ("a.edf", "b.edf"):
        path = os.path.join(edfc_dir, name)
        h, length = _header(path)
        assert not h["is_discontiguous"]
        with open(path, "rb") as f:
            raw = f.read()
        rec = np.frombuffer(raw[h["header_bytes"]:], "<i2").reshape(h["nb_data_rec"], -1)
        for rec0, n in ((0, h["nb_data_rec"]), (0, 1), (17, 40), (h["nb_data_rec"] - 3, 3)):
            full = chunk_run_rows_from_matrix(name, h, rec[rec0 : rec0 + n], rec0)
            bare = chunk_run_rows_from_matrix(name, h, np.empty((n, 0), "<i2"), rec0)
            assert len(full) == len(h["labels"])  # one run per signal
            pd.testing.assert_frame_equal(full, bare)
