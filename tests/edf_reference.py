"""Pure-numpy EDF reader: the independent reference the source's parity
tests compare against.  It imports nothing from ``processor_edf_spark``
and follows the EDF specification directly:

- header fields at their fixed widths; ``nb_data_rec`` = -1 ("unknown")
  and truncated files read every complete record;
- physical = pmin + (digital − dmin)·(pmax − pmin)/(dmax − dmin);
- contiguous timestamps start + round(i·1e6/rate) over the whole file;
- EDF+D timestamps start + round(o_r·1e6) + round(j·duration·1e6/n) from
  each record's first TAL offset o_r.
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pandas as pd

USEC = 1_000_000
ANN = "EDF Annotations"


def read_header(raw: bytes) -> dict:
    ns = int(raw[252:256])

    def col(offset: int, width: int) -> list[str]:
        base = 256 + offset * ns
        return [raw[base + i * width : base + (i + 1) * width].decode("ascii").strip()
                for i in range(ns)]

    d, mo, y = (int(x) for x in raw[168:176].decode().split("."))
    hh, mi, ss = (int(x) for x in raw[176:184].decode().split("."))
    start = datetime(2000 + y if y < 85 else 1900 + y, mo, d, hh, mi, ss, tzinfo=timezone.utc)
    nr = [int(x) for x in col(216, 8)]
    header_bytes = 256 + 256 * ns
    complete = (len(raw) - header_bytes) // (2 * sum(nr))
    declared = int(raw[236:244])
    return {
        "ns": ns, "labels": col(0, 16), "units": col(96, 8), "nr": nr,
        "pmin": [float(x) for x in col(104, 8)], "pmax": [float(x) for x in col(112, 8)],
        "dmin": [float(x) for x in col(120, 8)], "dmax": [float(x) for x in col(128, 8)],
        "start_usec": int(start.timestamp()) * USEC, "duration": float(raw[244:252]),
        "nb_rec": complete if declared == -1 else min(declared, complete),
        "discontiguous": raw[192:236].strip() == b"EDF+D", "header_bytes": header_bytes,
    }


def read_edf(path: str) -> dict:
    """Header, long-format samples (file, channel, t_usec, value) and raw
    TAL rows (file, record, offset_sec, raw) of one file."""
    with open(path, "rb") as f:
        raw = f.read()
    h = read_header(raw)
    name, n = path.rsplit("/", 1)[-1], h["nb_rec"]
    rec = np.frombuffer(raw, "<i2", count=n * sum(h["nr"]), offset=h["header_bytes"])
    rec = rec.reshape(n, sum(h["nr"]))
    first = np.cumsum([0] + h["nr"][:-1])
    offsets, tals = None, []
    if ANN in h["labels"]:
        a = h["labels"].index(ANN)
        segs = [rec[r, first[a] : first[a] + h["nr"][a]].tobytes() for r in range(n)]
        tals = [(name, r, float(s.split(b"\x14")[0]), s) for r, s in enumerate(segs)]
        if h["discontiguous"]:
            offsets = np.round(np.array([t[2] for t in tals]) * USEC).astype(np.int64)
    frames = []
    for i, label in enumerate(h["labels"]):
        k = h["nr"][i]
        if label == ANN or k <= 0:
            continue
        d = rec[:, first[i] : first[i] + k].astype(np.float64)
        gain = (h["pmax"][i] - h["pmin"][i]) / (h["dmax"][i] - h["dmin"][i])
        v = h["pmin"][i] + (d - h["dmin"][i]) * gain
        if offsets is None:
            t = np.round(np.arange(n * k) * (USEC / (k / h["duration"]))).astype(np.int64)
        else:
            within = np.round(np.arange(k) * (h["duration"] * USEC / k)).astype(np.int64)
            t = (offsets[:, None] + within[None, :]).ravel()
        frames.append(pd.DataFrame({"file": name, "channel": label,
                                    "t_usec": h["start_usec"] + t, "value": v.ravel()}))
    samples = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
        columns=["file", "channel", "t_usec", "value"])
    annotations = pd.DataFrame(tals, columns=["file", "record", "offset_sec", "raw"])
    return {"header": h, "samples": samples, "annotations": annotations}
