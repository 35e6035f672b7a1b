"""Synthesized EDF fixtures.

The reference's own EDF+D fixture is missing from its repo
(/root/reference/.MISSING_LARGE_BLOBS), so the gap path is tested with a
synthesized file per FIXTURES.md §1.3: reserved='EDF+D', a TAL annotations
signal whose first segment per record encodes the record start offset in
seconds, and deliberate inter-record gaps > 2× the sampling period.
"""

from __future__ import annotations

import numpy as np


def _f(s: str, w: int) -> bytes:
    b = str(s).encode("ascii")
    assert len(b) <= w, (s, w)
    return b.ljust(w)


def write_edf(
    path: str,
    signals: list[dict],
    nb_data_rec: int,
    duration: float = 1.0,
    start_date: str = "04.04.11",
    start_time: str = "12.57.02",
    variant: str = "EDF+C",
    record_offsets_sec: list[float] | None = None,
    annotation_nr_samples: int = 57,
    annotations_per_record: dict[int, list[tuple]] | None = None,
) -> str:
    """Write a minimal valid EDF/EDF+C/EDF+D file.

    ``signals``: [{label, unit, rate(int samples/record at duration=1),
                   gen(t_seconds)->physical values}, ...]
    ``record_offsets_sec``: per-record TAL start offsets (EDF+D).
    """
    has_ann = (
        variant == "EDF+D"
        or record_offsets_sec is not None
        or annotations_per_record is not None
    )
    ns = len(signals) + (1 if has_ann else 0)
    header_bytes = 256 + 256 * ns

    hdr = b"".join(
        [
            _f("0", 8),
            _f("synthetic patient", 80),
            _f("synthetic record", 80),
            _f(start_date, 8),
            _f(start_time, 8),
            _f(str(header_bytes), 8),
            _f(variant, 44),
            _f(str(nb_data_rec), 8),
            _f(str(duration), 8),
            _f(str(ns), 4),
        ]
    )

    labels = [s["label"] for s in signals] + (["EDF Annotations"] if has_ann else [])
    units = [s.get("unit", "uV") for s in signals] + ([""] if has_ann else [])
    nrs = [int(s["rate"] * duration) for s in signals] + (
        [annotation_nr_samples] if has_ann else []
    )
    phy_min, phy_max = -1000.0, 1000.0
    dig_min, dig_max = -32768, 32767

    sig_hdr = b"".join(
        [
            b"".join(_f(x, 16) for x in labels),
            b"".join(_f("", 80) for _ in range(ns)),
            b"".join(_f(u, 8) for u in units),
            b"".join(_f(str(int(phy_min)), 8) for _ in range(ns)),
            b"".join(_f(str(int(phy_max)), 8) for _ in range(ns)),
            b"".join(_f(str(dig_min), 8) for _ in range(ns)),
            b"".join(_f(str(dig_max), 8) for _ in range(ns)),
            b"".join(_f("", 80) for _ in range(ns)),
            b"".join(_f(str(n), 8) for n in nrs),
            b"".join(_f("", 32) for _ in range(ns)),
        ]
    )

    gain = (phy_max - phy_min) / (dig_max - dig_min)
    records = []
    for r in range(nb_data_rec):
        rec_offset = (
            record_offsets_sec[r] if record_offsets_sec is not None else r * duration
        )
        for s, nr in zip(signals, nrs):
            t = rec_offset + np.arange(nr) * (duration / max(nr, 1))  # nr may be 0
            phys = np.asarray(s["gen"](t), dtype=np.float64)
            dig = np.clip(np.round(phys / gain), dig_min, dig_max).astype("<i2")
            records.append(dig.tobytes())
        if has_ann:
            tal = f"+{rec_offset:g}".encode() + b"\x14\x14\x00"
            # additional event TALs: "+onset(\x15duration)?\x14text\x14\x00"
            for onset, dur, text in (annotations_per_record or {}).get(r, []):
                t = f"+{onset:g}".encode()
                if dur is not None:
                    t += b"\x15" + f"{dur:g}".encode()
                t += b"\x14" + text.encode() + b"\x14\x00"
                tal += t
            assert len(tal) <= 2 * annotation_nr_samples, "TALs overflow signal"
            records.append(tal.ljust(2 * annotation_nr_samples, b"\x00"))

    with open(path, "wb") as f:
        f.write(hdr + sig_hdr + b"".join(records))
    return path


def sine(freq: float, amp: float = 400.0):
    return lambda t: amp * np.sin(2 * np.pi * freq * t)


def write_edf_fast(
    path: str,
    n_signals: int = 16,
    rate: int = 256,
    nb_rec: int = 1800,
    variant: str = "EDF+C",
    gap_every: int = 0,
    gap_sec: float = 10.0,
    seed: int = 0,
    annotation_nr_samples: int = 57,
    start_date: str = "04.04.11",
    start_time: str = "12.57.02",
) -> int:
    """Vectorized bulk EDF writer for the multi-GB scale corpora: same
    byte layout as :func:`write_edf` (verified equal by
    tests/test_edf_scale_corpus.py) but built with whole-matrix numpy
    ops instead of per-record/per-signal loops, so generating hundreds
    of ~15 MB files takes seconds, not hours.  Returns total samples.

    ``gap_every`` > 0 (EDF+D only) inserts a ``gap_sec`` recording hole
    before every ``gap_every``-th record, so each file sessionizes into
    ``nb_rec // gap_every`` (+1) chunks."""
    has_ann = variant == "EDF+D"
    if gap_every and not has_ann:
        raise ValueError("gaps need EDF+D (per-record TAL offsets)")
    ns = n_signals + (1 if has_ann else 0)
    header_bytes = 256 + 256 * ns
    duration = 1.0

    hdr = b"".join(
        [
            _f("0", 8),
            _f("synthetic patient", 80),
            _f("synthetic record", 80),
            _f(start_date, 8),
            _f(start_time, 8),
            _f(str(header_bytes), 8),
            _f(variant, 44),
            _f(str(nb_rec), 8),
            _f(str(duration), 8),
            _f(str(ns), 4),
        ]
    )
    labels = [f"ch{i:02d}" for i in range(n_signals)] + (
        ["EDF Annotations"] if has_ann else []
    )
    units = ["uV"] * n_signals + ([""] if has_ann else [])
    nrs = [rate] * n_signals + ([annotation_nr_samples] if has_ann else [])
    phy_min, phy_max = -1000.0, 1000.0
    dig_min, dig_max = -32768, 32767
    sig_hdr = b"".join(
        [
            b"".join(_f(x, 16) for x in labels),
            b"".join(_f("", 80) for _ in range(ns)),
            b"".join(_f(u, 8) for u in units),
            b"".join(_f(str(int(phy_min)), 8) for _ in range(ns)),
            b"".join(_f(str(int(phy_max)), 8) for _ in range(ns)),
            b"".join(_f(str(dig_min), 8) for _ in range(ns)),
            b"".join(_f(str(dig_max), 8) for _ in range(ns)),
            b"".join(_f("", 80) for _ in range(ns)),
            b"".join(_f(str(n), 8) for n in nrs),
            b"".join(_f("", 32) for _ in range(ns)),
        ]
    )

    # record start offsets (seconds): contiguous, plus cumulative gaps
    offs = np.arange(nb_rec, dtype=np.float64)
    if gap_every:
        offs += gap_sec * (np.arange(nb_rec) // gap_every)

    gain = (phy_max - phy_min) / (dig_max - dig_min)
    # (nb_rec, rate) sample instants, shared by every signal
    t = offs[:, None] + np.arange(rate)[None, :] * (duration / rate)
    blocks = []
    for s in range(n_signals):
        freq = 1.0 + 0.37 * s + 0.011 * (seed % 97)
        phys = 400.0 * np.sin(2 * np.pi * freq * t)
        blocks.append(
            np.clip(np.round(phys / gain), dig_min, dig_max).astype("<i2")
        )
    # (nb_rec, n_signals*rate): record-major concatenation of signals
    data = np.concatenate(blocks, axis=1)

    with open(path, "wb") as f:
        f.write(hdr + sig_hdr)
        if not has_ann:
            f.write(data.tobytes())
        else:
            tal_w = 2 * annotation_nr_samples
            for r in range(nb_rec):
                tal = f"+{offs[r]:g}".encode() + b"\x14\x14\x00"
                f.write(data[r].tobytes())
                f.write(tal.ljust(tal_w, b"\x00"))
    return n_signals * rate * nb_rec


def decode_whole_file(path: str, content: bytes):
    """The source's decode kernel over all of one file's records as a
    single block — for the kernel's batch-paging and memory tests."""
    from processor_edf_spark.sources import edf as edf_mod

    h = edf_mod.parse_edf_header(content)
    rec = np.frombuffer(content, dtype="<i2", offset=h["header_bytes"])
    return edf_mod._decode_block(
        h, rec.reshape(h["nb_data_rec"], -1), 0, path.rsplit("/", 1)[-1]
    )
