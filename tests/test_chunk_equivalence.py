"""Equivalence properties for the two-level chunk plan: the optimized
paths (decoder-pushed runs + cross-unit merge; hierarchical per-unit
windows) must produce EXACTLY the chunks of the naive single window over
all samples — on randomized gap patterns, not just fixtures."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from processor_edf_spark.operators.sessionize import (
    contiguous_chunks,
    hierarchical_chunks,
)
from processor_edf_spark.pipeline import process_edf_directory
from processor_edf_spark.sources.edf import decode_samples, scan_edf_files
from tests.edf_fixtures import sine, write_edf

USEC = 1_000_000


def _random_series(seed: int) -> list[tuple[str, str, int, float]]:
    """One channel's timestamps with random gaps, split into 'units'
    (files) at random non-interleaved boundaries."""
    rng = np.random.default_rng(seed)
    rate = 100.0
    period = int(USEC / rate)
    gap = int(2 * USEC / rate)
    t, ts = 0, []
    for _ in range(rng.integers(50, 300)):
        ts.append(t)
        # mostly regular steps, occasional gap bursts
        t += period if rng.random() > 0.07 else gap + int(rng.integers(1, 5 * USEC))
    cuts = sorted(rng.choice(len(ts), size=min(3, len(ts) - 1), replace=False))
    rows, unit, ci = [], 0, 0
    for i, tv in enumerate(ts):
        while ci < len(cuts) and i >= cuts[ci]:
            unit, ci = unit + 1, ci + 1
        rows.append((f"u{unit}", "ch", int(tv), rate))
    return rows


@pytest.mark.parametrize("seed", [7, 21, 99])
def test_hierarchical_equals_flat(spark, seed):
    rows = _random_series(seed)
    df = spark.createDataFrame(
        rows, "unit string, id string, t_usec long, rate double"
    )
    flat = {
        (r["index"], r["start"], r["end"], r["n_samples"])
        for r in contiguous_chunks(df, keys=["id"], rate_col="rate").collect()
    }
    hier = {
        (r["index"], r["start"], r["end"], r["n_samples"])
        for r in hierarchical_chunks(
            df, id_col="id", unit_col="unit", rate_col="rate"
        ).collect()
    }
    assert flat == hier


def test_decoder_runs_equal_sample_window(spark, tmp_path):
    """The decoder's pushed-down chunk runs, after the cross-file merge in
    build_channel_metadata, must equal gap detection computed the naive
    way on the decoded samples themselves (EDF+D fixture with gaps)."""
    offsets = [0.0, 1.0, 5.0, 6.0, 30.0, 31.0, 32.0]
    write_edf(
        str(tmp_path / "gaps.edf"),
        signals=[{"label": "chanA", "rate": 100, "gen": sine(4.0)}],
        nb_data_rec=len(offsets),
        variant="EDF+D",
        record_offsets_sec=offsets,
    )
    samples, channels, _ = process_edf_directory(spark, str(tmp_path))

    naive = contiguous_chunks(
        decode_samples(scan_edf_files(spark, str(tmp_path))).withColumn(
            "rate", F.lit(100.0)
        ),
        keys=["file", "channel"],
        rate_col="rate",
    )
    naive_chunks = [
        (r["index"], r["start"], r["end"])
        for r in naive.orderBy("start").collect()
    ]
    meta_chunks = [
        (c["index"], c["start"], c["end"])
        for c in channels.collect()[0]["contiguousChunks"]
    ]
    assert meta_chunks == naive_chunks
    assert len(meta_chunks) == 3  # gaps at 1→5 s and 6→30 s


def test_append_mode_channels_equal_reference_gap_runs(spark, tmp_path):
    """Append mode over a registry whose names differ from the incoming
    labels only in case and spaces: each channel's bounds, count and
    chunk list equal the gap runs recomputed from the reference reader's
    timestamps over every file of that channel, and its id follows the
    registry match (lowest id within ±2%, else a new ``file#index``)."""
    from tests.edf_reference import read_edf

    specs = {
        "a.edf": ("12.57.02", [("EEG C3", 100), ("EMG", 50)], [0.0, 1.0, 2.0, 5.0, 6.0, 9.0]),
        "b.edf": ("12.58.02", [("eeg c3", 100)], [0.0, 1.0, 4.0, 5.0]),
        "c.edf": ("12.59.02", [("EMG", 50)], [0.0, 1.0, 2.0]),
    }
    for name, (start, signals, offsets) in specs.items():
        write_edf(
            str(tmp_path / name),
            signals=[{"label": lbl, "rate": r, "gen": sine(2.0)} for lbl, r in signals],
            nb_data_rec=len(offsets),
            start_time=start,
            variant="EDF+D",
            record_offsets_sec=offsets,
        )
    registry = spark.createDataFrame(
        [("reg-7", "EEG c3", 100.0, "CONTINUOUS"),
         ("reg-2", " eeg C3", 101.0, "CONTINUOUS"),
         ("reg-9", "emg", 60.0, "CONTINUOUS")],
        "id string, name string, rate double, type string",
    )
    _, channels, _ = process_edf_directory(
        spark, str(tmp_path), existing_channels=registry, quarantine=True
    )
    got = {r["name"].lower(): r for r in channels.collect()}

    ref = [read_edf(str(tmp_path / name))["samples"] for name in sorted(specs)]
    samples = pd.concat(ref, ignore_index=True)
    samples["key"] = samples["channel"].str.strip().str.lower()
    assert sorted(got) == ["eeg c3", "emg"]
    for key, rate in (("eeg c3", 100.0), ("emg", 50.0)):
        t = np.sort(samples.loc[samples["key"] == key, "t_usec"].to_numpy())
        starts = np.concatenate([[0], np.flatnonzero(np.diff(t) > 2 * USEC / rate) + 1])
        ends = np.append(starts[1:], len(t))
        row = got[key]
        assert (row["start"], row["end"], row["num_values"]) == (t[0], t[-1], len(t))
        assert [(c["index"], c["start"], c["end"]) for c in row["contiguousChunks"]] == [
            (int(s), int(t[s]), int(t[e - 1])) for s, e in zip(starts, ends)
        ]
    # 100 Hz is within 2% of both registry rates: the lowest id wins; 50 Hz
    # is outside 60 Hz's band, so EMG is new, named by its first row
    # (lowest signal index, then first file by name)
    assert got["eeg c3"]["id"] == "reg-2"
    assert (got["emg"]["id"], got["emg"]["name"]) == ("c.edf#0", "EMG")
