"""Reference-scale EDF+D fixture: 43 channels × 497,400 samples/channel
(≈21.4 M samples total) at 200 Hz — the scale the reference DECLARES for
its EDF+D test file but cannot ship (reference tests/params.py:17-26,
`103-002_EEG_01_17_2019.edf`, listed in .MISSING_LARGE_BLOBS).  The
synthesized stand-in exercises what the small fixtures cannot:

- the decode UDTF's Arrow-batch paging bound (sources/edf.py _BATCH_ROWS)
  under a genuinely multi-batch file, with a peak-memory assertion that
  pins the decoder streams batches instead of materializing the
  channel×samples matrix;
- channel metadata and gap sessionization at the declared channel count.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.edf_fixtures import decode_whole_file, sine, write_edf

pytestmark = pytest.mark.slow

N_CH = 43
RATE = 200
NB_REC = 2487  # 2487 records × 200 samples = 497,400 samples/channel
N_PER_CH = NB_REC * RATE
GAP_AT = 2000  # 10 s hole between records 1999|2000 → 2 chunks/channel


@pytest.fixture(scope="module")
def big_edfd(tmp_path_factory):
    offsets = [float(r) for r in range(GAP_AT)] + [
        float(r) + 10.0 for r in range(GAP_AT, NB_REC)
    ]
    path = str(tmp_path_factory.mktemp("refscale") / "ref_scale.edf")
    write_edf(
        path,
        signals=[
            {"label": f"ch{i:02d}", "rate": RATE, "gen": sine(1.0 + 0.13 * i)}
            for i in range(N_CH)
        ],
        nb_data_rec=NB_REC,
        variant="EDF+D",
        record_offsets_sec=offsets,
    )
    return path


def test_kernel_pages_multiple_batches_per_signal(big_edfd, monkeypatch):
    """With the batch bound lowered to 200k rows the 497,400-sample
    signals must page in ⌈2487/1000⌉ = 3 batches each, every batch under
    the bound, totals exact — and tracemalloc peak must stay far below
    the 43 ch × 497 k × 8 B ≈ 171 MB a materialize-everything decoder
    would hold (plus the 42 MB file itself), proving the generator
    streams."""
    import tracemalloc

    from processor_edf_spark.sources import edf as edf_mod

    monkeypatch.setattr(edf_mod, "_BATCH_ROWS", 200_000)
    with open(big_edfd, "rb") as f:
        content = f.read()

    tracemalloc.start()
    batches_per_channel: dict[str, int] = {}
    rows_per_channel: dict[str, int] = {}
    for pdf in decode_whole_file(big_edfd, content):
        assert len(pdf) <= 200_000
        ch = str(pdf["channel"].iloc[0])
        batches_per_channel[ch] = batches_per_channel.get(ch, 0) + 1
        rows_per_channel[ch] = rows_per_channel.get(ch, 0) + len(pdf)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()

    assert len(batches_per_channel) == N_CH
    assert all(n == 3 for n in batches_per_channel.values()), batches_per_channel
    assert all(n == N_PER_CH for n in rows_per_channel.values())
    # content (42 MB) + per-signal working set; a full materialization
    # would exceed 200 MB of traced allocations
    assert peak < 150 * 1024 * 1024, f"peak {peak/1e6:.0f} MB"


def test_default_batch_bound_is_single_batch_at_this_scale(big_edfd):
    """At the production bound (2 M rows) a 497,400-sample signal fits
    one batch — the paging math (rows_per_batch = _BATCH_ROWS // n_i)
    never emits a partial record."""
    with open(big_edfd, "rb") as f:
        content = f.read()
    seen: dict[str, int] = {}
    for pdf in decode_whole_file(big_edfd, content):
        ch = str(pdf["channel"].iloc[0])
        seen[ch] = seen.get(ch, 0) + 1
        assert len(pdf) % RATE == 0  # whole records only
    assert all(n == 1 for n in seen.values())


def test_spark_pipeline_at_reference_scale(big_edfd, spark):
    """End-to-end through the real Spark pipeline: 43 channels,
    497,400 samples each, the 10 s hole yields exactly 2 contiguous
    chunks per channel, and a golden sine spot-check survives decode →
    calibration round-trip."""
    import os

    from processor_edf_spark.pipeline import process_edf_directory

    samples, channels, annotations = process_edf_directory(
        spark, os.path.dirname(big_edfd)
    )
    rows = channels.collect()
    assert len(rows) == N_CH
    for ch in rows:
        assert ch["num_values"] == N_PER_CH
        assert ch["rate"] == RATE
        chunks = ch["contiguousChunks"]
        assert len(chunks) == 2
        assert chunks[0]["index"] == 0
        assert chunks[1]["index"] == GAP_AT * RATE

    # golden: ch00 is 400·sin(2π·1.0·t); check the first record
    first = (
        samples.filter("channel = 'ch00'")
        .orderBy("t_usec")
        .limit(RATE)
        .collect()
    )
    t = np.array([r["t_usec"] for r in first]) / 1e6
    want = 400.0 * np.sin(2 * np.pi * 1.0 * t)
    got = np.array([r["value"] for r in first])
    np.testing.assert_allclose(got, want, rtol=0.01, atol=0.1)
