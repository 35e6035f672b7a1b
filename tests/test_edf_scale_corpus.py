"""Multi-file EDF scale corpus: the bulk generator's byte parity with
the reference-shape writer, the full pipeline over a mixed
EDF+C/EDF+D directory, and the single-pass bound across MANY files —
the pytest side of the `--edf` scale sweep (scripts/scale_sweep.py),
which measures the same corpus shape at x1/x4/x8 for BASELINE.md.

The reference's own test surface is exactly this pipeline
(/root/reference/tests/params.py:8-26: decode → chunk merge → channel
metadata); these tests pin its behavior at the many-file shape the
reference can't reach (its loop is one process, one file)."""

from __future__ import annotations

import numpy as np
import pytest

from tests.edf_fixtures import sine, write_edf, write_edf_fast

pytestmark = pytest.mark.slow


def test_fast_writer_byte_equal_to_reference_writer(tmp_path):
    """write_edf_fast is a pure vectorization: identical bytes to the
    loop-built write_edf for the same parameters, both variants."""
    seed = 5
    sigs = [
        {
            "label": f"ch{i:02d}",
            "rate": 32,
            "gen": sine(1.0 + 0.37 * i + 0.011 * (seed % 97)),
        }
        for i in range(3)
    ]
    a = str(tmp_path / "a.edf")
    b = str(tmp_path / "b.edf")

    write_edf(a, sigs, nb_data_rec=10)
    write_edf_fast(b, n_signals=3, rate=32, nb_rec=10, seed=seed)
    assert open(a, "rb").read() == open(b, "rb").read()

    offs = [float(r) + 10.0 * (r // 4) for r in range(10)]
    write_edf(a, sigs, nb_data_rec=10, variant="EDF+D", record_offsets_sec=offs)
    write_edf_fast(
        b, n_signals=3, rate=32, nb_rec=10, seed=seed,
        variant="EDF+D", gap_every=4,
    )
    assert open(a, "rb").read() == open(b, "rb").read()


def _mixed_corpus(dirpath, n_files=6, n_signals=4, rate=64, nb_rec=120):
    """Every 3rd file EDF+D with gaps; distinct start hours so channels
    merge across files into non-overlapping chunk sequences."""
    total = 0
    for i in range(n_files):
        kw = {}
        if i % 3 == 2:
            kw = {"variant": "EDF+D", "gap_every": nb_rec // 4}
        total += write_edf_fast(
            f"{dirpath}/f{i:03d}.edf",
            n_signals=n_signals,
            rate=rate,
            nb_rec=nb_rec,
            seed=0,  # same freqs -> same labels genuinely merge
            start_date=f"{1 + i // 24:02d}.01.11",
            start_time=f"{i % 24:02d}.00.00",
            **kw,
        )
    return total


def test_pipeline_over_mixed_corpus(spark, tmp_path):
    """decode → chunk merge → channel metadata over a mixed directory:
    exact sample totals, channels merged across files by (name, rate),
    and the EDF+D files' gaps surfacing as extra contiguous chunks."""
    from pyspark.sql import functions as F

    from processor_edf_spark.pipeline import process_edf_directory

    n_files, n_signals, rate, nb_rec = 6, 4, 64, 120
    total = _mixed_corpus(str(tmp_path), n_files, n_signals, rate, nb_rec)
    samples, channels, _ = process_edf_directory(spark, str(tmp_path))

    assert samples.count() == total
    rows = channels.select(
        "name", "num_values", F.size("contiguousChunks").alias("nchunks")
    ).collect()
    # same labels at the same rate merge across all 6 files
    assert len(rows) == n_signals
    per_file_chunks = {0: 1, 1: 1, 2: 4, 3: 1, 4: 1, 5: 4}
    want_chunks = sum(per_file_chunks.values())
    for r in rows:
        assert r["num_values"] == rate * nb_rec * n_files
        assert r["nchunks"] == want_chunks


def test_many_file_decode_stays_single_pass(tmp_path):
    """Sequentially decoding a whole directory through the kernel must
    hold peak traced memory near ONE file's working set — no
    accumulation across files, no whole-file raster materialization
    (the per-file multi-batch paging bound composed at directory
    scale)."""
    import tracemalloc

    from processor_edf_spark.sources import edf as edf_mod
    from tests.edf_fixtures import decode_whole_file

    n_files, n_signals, rate, nb_rec = 8, 8, 256, 400
    total = _mixed_corpus(str(tmp_path), n_files, n_signals, rate, nb_rec)
    file_bytes = n_signals * rate * nb_rec * 2  # ~1.6 MB payload each

    rows = 0
    batch_bound = 100_000
    orig = edf_mod._BATCH_ROWS
    edf_mod._BATCH_ROWS = batch_bound
    try:
        tracemalloc.start()
        import glob

        for path in sorted(glob.glob(f"{tmp_path}/*.edf")):
            with open(path, "rb") as f:
                content = f.read()
            for pdf in decode_whole_file(path, content):
                assert len(pdf) <= batch_bound
                rows += len(pdf)
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
    finally:
        edf_mod._BATCH_ROWS = orig

    assert rows == total
    # materializing even one file's float64 output would be
    # n_signals*rate*nb_rec*8 ≈ 6.5 MB per column set; holding all 8
    # files would be > 100 MB.  Bound: one file + batch working set.
    assert peak < 12 * file_bytes, f"peak {peak/1e6:.1f} MB"


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(
    n_signals=st.integers(1, 5),
    rate=st.integers(2, 64),
    nb_rec=st.integers(1, 20),
    seed=st.integers(0, 200),
    gap_every=st.integers(0, 6),
)
def test_fast_writer_byte_equal_property(tmp_path_factory, n_signals,
                                         rate, nb_rec, seed, gap_every):
    """Property: write_edf_fast is byte-equal to the loop-built writer
    for ANY (signals, rate, records, seed, gap layout) — the foundation
    the multi-GB sweep corpora stand on."""
    tmp = tmp_path_factory.mktemp("prop")
    sigs = [
        {
            "label": f"ch{i:02d}",
            "rate": rate,
            "gen": sine(1.0 + 0.37 * i + 0.011 * (seed % 97)),
        }
        for i in range(n_signals)
    ]
    a, b = str(tmp / "a.edf"), str(tmp / "b.edf")
    if gap_every:
        offs = [float(r) + 10.0 * (r // gap_every) for r in range(nb_rec)]
        write_edf(a, sigs, nb_data_rec=nb_rec, variant="EDF+D",
                  record_offsets_sec=offs)
        write_edf_fast(b, n_signals=n_signals, rate=rate, nb_rec=nb_rec,
                       seed=seed, variant="EDF+D", gap_every=gap_every)
    else:
        write_edf(a, sigs, nb_data_rec=nb_rec)
        write_edf_fast(b, n_signals=n_signals, rate=rate, nb_rec=nb_rec,
                       seed=seed)
    assert open(a, "rb").read() == open(b, "rb").read()
