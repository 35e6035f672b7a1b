"""Seeded EDF inputs for the benchmark, and a plain-numpy reader that
checks the program's outputs against them.

The writer and the reader live here, apart from the program and from its
tests, so that neither can move the benchmark.  Everything is a pure
function of the seed passed in.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np

USEC = 1_000_000
ANN_LABEL = "EDF Annotations"
ANN_NR = 60  # int16 slots of the annotation signal per record (120 bytes)


def _f(value, width: int) -> bytes:
    b = str(value).encode("ascii")
    if len(b) > width:
        raise ValueError(f"{value!r} does not fit {width} bytes")
    return b.ljust(width)


def write_edf(
    path: str,
    start: datetime,
    signals: list[dict],
    nb_rec: int,
    record_offsets: list[int] | None = None,
    texts: dict[int, list[tuple[int, int | None, str]]] | None = None,
    header_overrides: dict[str, str] | None = None,
) -> None:
    """Write one EDF+C file, or EDF+D when ``record_offsets`` is given.

    ``signals``: dicts with label, unit, nr (samples per 1 s record),
    phy_min, phy_max, dig_min, dig_max and ``digital``, an int16 array of
    shape (nb_rec, nr).  ``record_offsets`` are whole seconds from the
    start; ``texts`` maps a record to (onset_s, duration_s, text) events.
    ``header_overrides`` replaces raw global header fields by name, for
    the structurally corrupt files."""
    plus_d = record_offsets is not None
    ns = len(signals) + (1 if plus_d else 0)
    fields = {
        "version": "0",
        "patient": "X X X X",
        "recording": "Startdate X X X X",
        "start_date": start.strftime("%d.%m.%y"),
        "start_time": start.strftime("%H.%M.%S"),
        "nb_bytes": str(256 + 256 * ns),
        "reserved": "EDF+D" if plus_d else "EDF+C",
        "nb_rec": str(nb_rec),
        "duration": "1",
        "ns": str(ns),
    }
    fields.update(header_overrides or {})
    widths = [8, 80, 80, 8, 8, 8, 44, 8, 8, 4]
    head = b"".join(_f(v, w) for v, w in zip(fields.values(), widths))

    sig = list(signals)
    if plus_d:
        sig.append(
            {"label": ANN_LABEL, "unit": "", "nr": ANN_NR, "phy_min": -1,
             "phy_max": 1, "dig_min": -32768, "dig_max": 32767}
        )
    cols = [
        ("label", 16), ("transducer", 80), ("unit", 8), ("phy_min", 8),
        ("phy_max", 8), ("dig_min", 8), ("dig_max", 8), ("prefilter", 80),
        ("nr", 8), ("reserved", 32),
    ]
    for key, width in cols:
        head += b"".join(_f(s.get(key, ""), width) for s in sig)

    blocks = [np.asarray(s["digital"], dtype="<i2") for s in signals]
    if plus_d:
        tal = np.zeros((nb_rec, 2 * ANN_NR), dtype=np.uint8)
        for r, off in enumerate(record_offsets):
            b = f"+{off}".encode() + b"\x14\x14\x00"
            for onset, dur, text in (texts or {}).get(r, []):
                b += f"+{onset}".encode()
                if dur is not None:
                    b += b"\x15" + f"{dur}".encode()
                b += b"\x14" + text.encode() + b"\x14\x00"
            if len(b) > 2 * ANN_NR:
                raise ValueError("annotations overflow the TAL signal")
            tal[r, : len(b)] = np.frombuffer(b, dtype=np.uint8)
        blocks.append(tal.view("<i2"))
    with open(path, "wb") as f:
        f.write(head)
        f.write(np.concatenate(blocks, axis=1).tobytes())


def read_edf(path: str) -> dict:
    """Decode a well-formed file with numpy alone: per data signal the
    calibrated values and their µs timestamps, plus the annotation texts.

    Physical = pmin + (digital - dmin)·(pmax - pmin)/(dmax - dmin), the
    EDF specification's formula.  Timestamps: contiguous files use
    start + round(i·1e6/rate); EDF+D records start at their TAL offset."""
    with open(path, "rb") as fh:
        raw = fh.read()
    ns = int(raw[252:256])
    nb_rec = int(raw[236:244])
    dur = float(raw[244:252])
    d, mo, y = (int(x) for x in raw[168:176].decode().split("."))
    hh, mm, ss = (int(x) for x in raw[176:184].decode().split("."))
    start = datetime(2000 + y if y < 85 else 1900 + y, mo, d, hh, mm, ss,
                     tzinfo=timezone.utc)
    start_us = int(start.timestamp()) * USEC

    def col(offset: int, width: int) -> list[str]:
        base = 256 + offset * ns
        return [raw[base + i * width: base + (i + 1) * width].decode().strip()
                for i in range(ns)]

    labels = col(0, 16)
    pmin, pmax = [float(x) for x in col(104, 8)], [float(x) for x in col(112, 8)]
    dmin, dmax = [float(x) for x in col(120, 8)], [float(x) for x in col(128, 8)]
    nr = [int(x) for x in col(216, 8)]
    rec = np.frombuffer(raw, dtype="<i2", offset=256 + 256 * ns).reshape(nb_rec, sum(nr))
    first = np.cumsum([0] + nr[:-1])

    offsets = None
    texts = []
    if ANN_LABEL in labels:
        a = labels.index(ANN_LABEL)
        offsets = np.empty(nb_rec, dtype=np.int64)
        for r in range(nb_rec):
            tals = rec[r, first[a]: first[a] + nr[a]].tobytes().rstrip(b"\x00").split(b"\x00")
            offsets[r] = round(float(tals[0].split(b"\x14")[0]) * USEC)
            for t in tals[1:]:
                if not t:
                    continue
                head, *words = t.split(b"\x14")
                onset, _, dur_s = head.partition(b"\x15")
                for w in words:
                    if w:
                        texts.append((r, float(onset), float(dur_s) if dur_s else None,
                                      w.decode()))

    out = {}
    for i, label in enumerate(labels):
        if label == ANN_LABEL:
            continue
        n = nr[i]
        rate = n / dur
        digital = rec[:, first[i]: first[i] + n].astype(np.float64)
        values = pmin[i] + (digital - dmin[i]) * ((pmax[i] - pmin[i]) / (dmax[i] - dmin[i]))
        if offsets is None:
            t = start_us + np.round(np.arange(nb_rec * n) * USEC / rate).astype(np.int64)
        else:
            within = np.round(np.arange(n) * (dur * USEC / n)).astype(np.int64)
            t = (start_us + offsets[:, None] + within[None, :]).ravel()
        out[label] = {"t": t, "v": values.ravel(), "rate": rate, "span": pmax[i] - pmin[i]}
    return {"start_us": start_us, "signals": out, "texts": texts}


def _digital(rng: np.random.Generator, nb_rec: int, nr: int, freq: float) -> np.ndarray:
    """A sine with noise in 16-bit counts, so the encoders see signal-like
    entropy rather than constants."""
    t = np.arange(nb_rec * nr) / nr
    x = 9000 * np.sin(2 * np.pi * freq * t) + rng.normal(0, 400, t.size)
    return np.clip(np.round(x), -32768, 32767).astype("<i2").reshape(nb_rec, nr)


def _calibration(rng: np.random.Generator) -> dict:
    span = float(rng.choice([200, 500, 1000, 3200]))
    return {"phy_min": -span, "phy_max": span, "dig_min": -32768, "dig_max": 32767}


def _start(rng: np.random.Generator) -> datetime:
    day = datetime(2012, 1, 1, tzinfo=timezone.utc) + timedelta(days=int(rng.integers(0, 3000)))
    return day + timedelta(seconds=int(rng.integers(0, 12 * 3600)))


APPEND_LABELS = ["EEG Fp1", "EEG Fp2", "EEG C3", "ECG"]
APPEND_RATE = 32


def make_append(out_dir: str, seed: int, n_files: int, records: int) -> dict:
    """Short EDF+D recordings with gaps inside and between them, a few
    event annotations, a few structurally corrupt files, and the channel
    registry they are appended to.  Returns what the checks need: the
    corrupt file names and the registry rows."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    start = _start(rng)
    cal = [_calibration(rng) for _ in APPEND_LABELS]
    freqs = rng.uniform(0.5, 8, len(APPEND_LABELS))
    for k in range(n_files):
        offsets, t = [], 0
        for _ in range(records):
            offsets.append(t)
            t += 1 + (int(rng.integers(2, 20)) if rng.random() < 0.08 else 0)
        texts = {}
        for r in rng.choice(records, size=3, replace=False):
            texts[int(r)] = [(offsets[r], int(rng.integers(1, 9)) if rng.random() < 0.5 else None,
                              str(rng.choice(["arousal", "apnea", "spindle", "artifact"])))]
        signals = [
            {"label": lb, "unit": "uV", "nr": APPEND_RATE,
             "digital": _digital(rng, records, APPEND_RATE, f), **c}
            for lb, c, f in zip(APPEND_LABELS, cal, freqs)
        ]
        write_edf(os.path.join(out_dir, f"seg_{k:04d}.edf"), start, signals,
                  records, record_offsets=offsets, texts=texts)
        start += timedelta(seconds=t + int(rng.integers(5, 120)))

    # Structurally corrupt files, each caught by the header probe.
    good = signals
    corrupt = {
        "bad_date.edf": {"start_date": "31.02.13"},
        "no_signals.edf": {"ns": "0"},
        "zero_duration.edf": {"duration": "0"},
    }
    for name, over in corrupt.items():
        write_edf(os.path.join(out_dir, name), start, good, records,
                  record_offsets=list(range(records)), header_overrides=over)
    with open(os.path.join(out_dir, "truncated.edf"), "wb") as f:
        f.write(b"0       " + b"X" * 100)
    corrupt_names = sorted([*corrupt, "truncated.edf"])

    # Registry: name case/whitespace variants, rates in and out of the
    # ±2% band, a second in-band candidate (the lower id must win) and
    # unrelated channels.
    def near(lo, hi):
        return float(APPEND_RATE * rng.uniform(lo, hi))

    registry = [
        ("N-0007", "  eeg fp1 ", near(0.985, 1.015)),
        ("N-0009", "EEG FP1", near(0.985, 1.015)),
        ("N-0003", "EEG fp2  ", near(0.985, 1.015)),
        ("N-0004", "eeg c3", near(1.05, 1.3)),  # outside the band
        ("N-0005", "EEG O1", near(0.99, 1.01)),
        ("N-0006", "EOG", near(0.99, 1.01)),
    ]
    if rng.random() < 0.5:  # ECG is matched on some seeds, created on others
        registry.append(("N-0002", " ECG", near(0.985, 1.015)))
    else:
        registry.append(("N-0002", "ECG", near(0.7, 0.9)))
    return {"corrupt": corrupt_names, "registry": registry}


def make_fault(out_dir: str) -> None:
    """One otherwise valid file whose second signal has phy_min == phy_max
    (a zero calibration gain).  Independent of the seed."""
    rng = np.random.default_rng(0)
    os.makedirs(out_dir, exist_ok=True)
    cal = {"phy_min": -100, "phy_max": 100, "dig_min": -32768, "dig_max": 32767}
    flat = {"phy_min": 5, "phy_max": 5, "dig_min": -32768, "dig_max": 32767}
    signals = [
        {"label": "EEG Cz", "unit": "uV", "nr": 32, "digital": _digital(rng, 30, 32, 2.0), **cal},
        {"label": "Flat", "unit": "uV", "nr": 32, "digital": _digital(rng, 30, 32, 1.0), **flat},
    ]
    write_edf(os.path.join(out_dir, "flat_signal.edf"),
              datetime(2014, 5, 6, 7, 8, 9, tzinfo=timezone.utc), signals, 30)
