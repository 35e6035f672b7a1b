"""Unit tests: scalar epoch functions (F1-F9), timestamp synthesis
operators (W3/W4), and the per-file status/quarantine path (§2.10)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from processor_edf_spark.functions.epoch import (
    edf_datetime,
    msecs_since_epoch,
    sample_frequency,
    secs_since_epoch,
    secs_to_usecs,
    usecs_since_epoch,
    usecs_to_timestamp,
)
from processor_edf_spark.operators.timestamps import (
    synthesize_contiguous,
    synthesize_discontiguous,
)
from processor_edf_spark.pipeline import process_edf_directory
from processor_edf_spark.sources.edf import file_status, scan_edf_files
from tests.edf_fixtures import sine, write_edf

USEC = 1_000_000


def test_epoch_functions_roundtrip(spark):
    """F1-F4: against Python's own epoch arithmetic (reference
    utils.py:55-74 semantics, naive UTC)."""
    dt = datetime(2019, 2, 12, 10, 15, 12, tzinfo=timezone.utc)
    usec = int(dt.timestamp() * USEC)
    df = spark.createDataFrame([(usec,)], "t_usec long").select(
        usecs_to_timestamp(F.col("t_usec")).alias("ts"), "t_usec"
    )
    row = df.select(
        secs_since_epoch(F.col("ts")).alias("secs"),
        msecs_since_epoch(F.col("ts")).alias("msecs"),
        usecs_since_epoch(F.col("ts")).alias("usecs"),
        secs_to_usecs(F.lit(1.5)).alias("sec2usec"),
    ).collect()[0]
    assert row["secs"] == dt.timestamp()
    assert row["msecs"] == usec // 1000
    assert row["usecs"] == usec
    assert row["sec2usec"] == 1_500_000


@pytest.mark.parametrize(
    "date_str,year", [("04.04.11", 2011), ("04.04.84", 2084), ("04.04.85", 1985)]
)
def test_edf_date_y2k_pivot(spark, date_str, year):
    """F8: yy<85 → 2000s, else 1900s (reference edf.py:99-103)."""
    df = spark.createDataFrame([(date_str, "12.57.02")], "d string, t string")
    row = df.select(
        edf_datetime(F.col("d"), F.col("t")).alias("ts")
    ).collect()[0]
    assert row["ts"].year == year
    assert (row["ts"].month, row["ts"].day) == (4, 4)
    assert (row["ts"].hour, row["ts"].minute, row["ts"].second) == (12, 57, 2)


def test_sample_frequency(spark):
    df = spark.createDataFrame([(200, 1.0), (57, 0.5)], "n int, d double")
    rows = df.select(sample_frequency(F.col("n"), F.col("d")).alias("hz")).collect()
    assert [r["hz"] for r in rows] == [200.0, 114.0]


def test_synthesize_contiguous(spark):
    """W3: t_i = start + round(i·1e6/rate) — 5 samples at 400 Hz."""
    df = spark.createDataFrame([(1_000_000, 5, 400.0)], "start long, n int, rate double")
    rows = (
        synthesize_contiguous(df, "start", "n", "rate")
        .orderBy("pos")
        .select("pos", "t_usec")
        .collect()
    )
    assert [(r["pos"], r["t_usec"]) for r in rows] == [
        (0, 1_000_000),
        (1, 1_002_500),
        (2, 1_005_000),
        (3, 1_007_500),
        (4, 1_010_000),
    ]


def test_synthesize_discontiguous(spark):
    """W4: per-record TAL offset + intra-record spacing, endpoint
    EXCLUSIVE (reference edf.py:105-109)."""
    df = spark.createDataFrame(
        [(0, 0.0, 4, 1.0), (0, 10.0, 4, 1.0)],
        "file_start long, off double, n int, dur double",
    )
    rows = (
        synthesize_discontiguous(df, "file_start", "off", "n", "dur")
        .orderBy("t_usec")
        .select("t_usec")
        .collect()
    )
    ts = [r["t_usec"] for r in rows]
    assert ts[:4] == [0, 250_000, 500_000, 750_000]  # no t=1.0s (exclusive)
    assert ts[4:] == [10_000_000, 10_250_000, 10_500_000, 10_750_000]


def test_decoder_signal_pruning(spark, tmp_path):
    """Column pruning pushed into the decode UDTF (the scan-side analog of
    parquet ReadSchema): only wanted signals are decoded and emitted."""
    from processor_edf_spark.sources.edf import decode_samples

    write_edf(
        str(tmp_path / "two.edf"),
        signals=[
            {"label": "keep", "rate": 100, "gen": sine(5.0)},
            {"label": "drop", "rate": 100, "gen": sine(9.0)},
        ],
        nb_data_rec=2,
    )
    binary = scan_edf_files(spark, str(tmp_path))
    pruned = decode_samples(binary, wanted_signals={"keep"})
    chans = [r["channel"] for r in pruned.select("channel").distinct().collect()]
    assert chans == ["keep"]
    assert pruned.count() == 200


def test_empty_input_dir(spark, tmp_path):
    """No input files → empty outputs, no crash (the reference asserts on
    anything but exactly one file; we handle zero gracefully)."""
    samples, channels, annotations = process_edf_directory(spark, str(tmp_path))
    assert samples.count() == 0
    assert channels.count() == 0
    assert annotations.count() == 0


def test_truncated_edf_decodes_complete_records(spark, tmp_path):
    """A file cut mid-record decodes only its complete records — tolerant
    ingestion, num_values drops accordingly."""
    path = write_edf(
        str(tmp_path / "t.edf"),
        signals=[{"label": "chanA", "rate": 100, "gen": sine(5.0)}],
        nb_data_rec=4,
    )
    data = open(path, "rb").read()
    open(path, "wb").write(data[: len(data) - 150])  # cut into record 4
    _, channels, _ = process_edf_directory(spark, str(tmp_path))
    rows = channels.collect()
    assert len(rows) == 1
    assert rows[0]["num_values"] == 300  # 3 complete records × 100


def test_file_status_and_quarantine(spark, tmp_path):
    """§2.10: a corrupt file flags ok=false with a reason; quarantine=True
    processes the healthy files and drops the corrupt one — the job never
    dies (unlike fail-fast default), nothing partial is emitted for it."""
    write_edf(
        str(tmp_path / "good.edf"),
        signals=[{"label": "chanA", "rate": 100, "gen": sine(5.0)}],
        nb_data_rec=2,
    )
    (tmp_path / "garbage.edf").write_bytes(b"not an edf file at all" * 20)

    status = {
        r["file"]: r
        for r in file_status(scan_edf_files(spark, str(tmp_path))).collect()
    }
    assert status["good.edf"]["ok"]
    assert status["good.edf"]["nb_signal"] == 1
    assert not status["garbage.edf"]["ok"]
    assert status["garbage.edf"]["error"]

    samples, channels, _ = process_edf_directory(
        spark, str(tmp_path), quarantine=True
    )
    rows = channels.collect()
    assert [r["file"] for r in rows] == ["good.edf"]
    assert samples.select("file").distinct().collect()[0]["file"] == "good.edf"


def test_zero_gain_calibration_is_quarantined(spark, tmp_path):
    """A decoded signal with phy_max == phy_min (a zero calibration gain)
    or dig_max <= dig_min fails the status probe with a reason naming the
    signal; quarantine=True drops the file instead of dividing by zero,
    and without quarantine the decode raises the same reason."""
    def patch_signal_field(path, ns, field_offset, i, value):
        raw = bytearray(open(path, "rb").read())
        at = 256 + field_offset * ns + 8 * i
        raw[at : at + 8] = value.ljust(8).encode()
        open(path, "wb").write(bytes(raw))

    sigs = [
        {"label": "chanA", "rate": 100, "gen": sine(5.0)},
        {"label": "chanB", "rate": 100, "gen": sine(3.0)},
    ]
    write_edf(str(tmp_path / "good.edf"), signals=sigs, nb_data_rec=2)
    write_edf(str(tmp_path / "flat.edf"), signals=sigs, nb_data_rec=2)
    patch_signal_field(str(tmp_path / "flat.edf"), 2, 104, 1, "1000")  # phy_min = phy_max
    write_edf(str(tmp_path / "dig.edf"), signals=sigs, nb_data_rec=2)
    patch_signal_field(str(tmp_path / "dig.edf"), 2, 128, 0, "-32768")  # dig_max = dig_min

    status = {
        r["file"]: r
        for r in file_status(scan_edf_files(spark, str(tmp_path))).collect()
    }
    assert status["good.edf"]["ok"]
    assert not status["flat.edf"]["ok"]
    assert "signal 1 'chanB'" in status["flat.edf"]["error"]
    assert "phy_max == phy_min" in status["flat.edf"]["error"]
    assert not status["dig.edf"]["ok"]
    assert "signal 0 'chanA'" in status["dig.edf"]["error"]
    assert "dig_max" in status["dig.edf"]["error"]

    samples, channels, _ = process_edf_directory(
        spark, str(tmp_path), quarantine=True
    )
    assert samples.count() == 2 * 2 * 100
    assert {r["file"] for r in channels.collect()} == {"good.edf"}

    from pyspark.errors import PythonException

    (tmp_path / "good.edf").unlink()
    (tmp_path / "dig.edf").unlink()
    samples, _, _ = process_edf_directory(spark, str(tmp_path))
    with pytest.raises(PythonException, match="phy_max == phy_min"):
        samples.count()


def test_second_call_sees_grown_directory(spark, tmp_path):
    """Channel metadata is rebuilt on every call: a file added to the
    directory between two calls in one session shows up in the second
    call's channels (a plan-matched cache of the header scan would hand
    back the first call's headers, since the listing compares equal by
    its root path)."""
    from processor_edf_spark.pipeline import channel_dicts

    write_edf(
        str(tmp_path / "a.edf"),
        signals=[{"label": f"a{i}", "rate": 100, "gen": sine(1.0 + i)} for i in range(2)],
        nb_data_rec=2,
    )
    for quarantine in (False, True):
        _, channels, _ = process_edf_directory(spark, str(tmp_path), quarantine=quarantine)
        assert [d["name"] for d in channel_dicts(channels)] == ["a0", "a1"]
    write_edf(
        str(tmp_path / "b.edf"),
        signals=[{"label": f"b{i}", "rate": 50, "gen": sine(2.0 + i)} for i in range(4)],
        nb_data_rec=3,
    )
    for quarantine in (False, True):
        _, channels, _ = process_edf_directory(spark, str(tmp_path), quarantine=quarantine)
        dicts = channel_dicts(channels)
        assert [d["name"] for d in dicts] == ["a0", "a1", "b0", "b1", "b2", "b3"]
        assert [d["rate"] for d in dicts] == [100.0] * 2 + [50.0] * 4
        nums = {r["name"]: r["num_values"] for r in channels.collect()}
        assert nums == {"a0": 200, "a1": 200, "b0": 150, "b1": 150, "b2": 150, "b3": 150}


def test_ntz_epoch_us_matches_duckdb(spark):
    """The engine's canonical epoch-µs derivation is registry.TS_US:
    ``unix_micros(cast(ts AS timestamp))`` over a TIMESTAMP_NTZ column
    with the session timezone pinned to UTC.  DuckDB's ``epoch_us`` on
    the same naive timestamps must agree exactly — including pre-1970
    values, where a timezone leak or a floor/truncate divergence would
    silently break every cross-engine hash."""
    import duckdb
    import numpy as np
    import pandas as pd

    from processor_edf_spark.plans.registry import TS_US

    us = [-1_500_000, -1, 0, 1, 999_999, 86_400_000_001]
    naive = pd.to_datetime(np.array(us, dtype="int64"), unit="us")
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"ts": naive}))
    duck = [
        r[0]
        for r in con.execute(
            "SELECT CAST(epoch_us(ts) AS BIGINT) FROM t ORDER BY ts"
        ).fetchall()
    ]

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Parquet reads of naive TIMESTAMP(MICROS) arrive as TIMESTAMP_NTZ;
    # createDataFrame infers LTZ by default, so pin the inference type to
    # mirror the engine's actual read path.
    prev = spark.conf.get("spark.sql.timestampType")
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        sdf = spark.createDataFrame(pd.DataFrame({"ts": naive}))
        assert dict(sdf.dtypes)["ts"] == "timestamp_ntz"
    finally:
        spark.conf.set("spark.sql.timestampType", prev)
    got = [
        r["us"]
        for r in sdf.selectExpr(f"{TS_US} AS us").orderBy("us").collect()
    ]
    assert got == duck == sorted(us)


def test_ns_to_us_truncation_matches_duckdb(spark):
    """Legacy nanos ingestion (spark.sql.legacy.parquet.nanosAsLong reads
    INT64 TIMESTAMP(NANOS) as long ns): the explicit ns→µs conversion is
    `ts div 1000` (Spark integer div, truncation TOWARD ZERO).  DuckDB's
    epoch_us(TIMESTAMP_NS) also truncates toward zero (-1500 ns → -1 µs,
    -999 ns → 0), so oracle parity holds even for pre-1970 timestamps —
    pinned here so nobody "fixes" it to floor division (-1500 → -2)."""
    import duckdb
    import numpy as np
    import pandas as pd

    ns = [-1500, -999, -1, 0, 999, 1500]
    con = duckdb.connect()
    con.register(
        "t", pd.DataFrame({"ts": pd.to_datetime(np.array(ns, dtype="int64"), unit="ns")})
    )
    duck = [r[0] for r in con.execute("SELECT CAST(epoch_us(ts) AS BIGINT) FROM t").fetchall()]

    sdf = spark.createDataFrame([(x,) for x in ns], "ts long")
    got = [r["us"] for r in sdf.selectExpr("ts div 1000 AS us").collect()]
    assert got == duck == [-1, 0, 0, 0, 0, 1]
