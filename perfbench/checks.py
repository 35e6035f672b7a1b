"""Output checks, computed apart from the program.

Each check compares what the last pass wrote with what the generated
inputs imply, via the plain-numpy reader in ``edfgen`` and the stored
DuckDB oracle hashes, and returns a list of mismatches (empty = correct).
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pyarrow.parquet as pq

from edfgen import read_edf
from oracle_hashes import QUERY_NAMES, value_hash

HERE = os.path.dirname(os.path.abspath(__file__))
_TOL = 1e-9  # of the channel's physical span; calibration order may differ


def _json_rows(path: str) -> list[dict]:
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    return rows


def _chunks(t: np.ndarray, rate: float) -> list[tuple[int, int]]:
    """(index, start) of the gap-free runs: a gap is a step > 2/rate."""
    starts = np.concatenate([[0], np.flatnonzero(np.diff(t) > 2e6 / rate) + 1])
    return [(int(a), int(t[a])) for a in starts]


def _by_channel(files: list[dict]) -> dict[str, dict]:
    """Each channel's samples across files, in time order."""
    out: dict[str, dict] = {}
    for rec in sorted(files, key=lambda r: r["start_us"]):
        for label, s in rec["signals"].items():
            c = out.setdefault(label, {"t": [], "v": [], "rate": s["rate"], "span": s["span"]})
            c["t"].append(s["t"])
            c["v"].append(s["v"])
    return {k: {**c, "t": np.concatenate(c["t"]), "v": np.concatenate(c["v"])}
            for k, c in out.items()}


def _check_channel_json(name, d, exp, errors):
    runs = _chunks(exp["t"], exp["rate"])
    if (d["start"], d["end"]) != (int(exp["t"][0]), int(exp["t"][-1])):
        errors.append(f"{name}: bounds {d['start']}..{d['end']}")
    got = [(c["index"], c["start"]) for c in d["contiguousChunks"]]
    if got != runs:
        errors.append(f"{name}: chunks {got[:3]}... != {runs[:3]}...")
    if abs(d["rate"] - exp["rate"]) > 1e-9:
        errors.append(f"{name}: rate {d['rate']}")


def _expected_ids(registry: list[tuple], name: str, rate: float) -> str | None:
    """The registry match rule: lower(trim(name)) equal and |1 - rate/r| < 2%,
    lowest id first."""
    hits = sorted(rid for rid, rname, r in registry
                  if rname.strip().lower() == name.strip().lower() and abs(1 - rate / r) < 0.02)
    return hits[0] if hits else None


def check_append(inputs: str, out: str, quarantined: list, meta: dict) -> list[str]:
    errors = []
    corrupt = set(meta["corrupt"])
    files = [read_edf(p) for p in sorted(glob.glob(os.path.join(inputs, "edf", "*.edf")))
             if os.path.basename(p) not in corrupt]
    if sorted(f for f, _ in quarantined) != sorted(corrupt):
        errors.append(f"quarantined {sorted(quarantined)} != {sorted(corrupt)}")
    if not all(reason for _, reason in quarantined):
        errors.append("a quarantined file has no reason")

    merged = _by_channel(files)
    ref = os.path.join(out, "reference")
    dicts = {}
    for p in glob.glob(os.path.join(ref, "channel*.json")):
        with open(p) as fh:
            dicts[p[: -len(".json")]] = json.load(fh)
    if sorted(d["name"] for d in dicts.values()) != sorted(merged):
        errors.append(f"channels {sorted(d['name'] for d in dicts.values())} != {sorted(merged)}")
    registry_ids = {rid for rid, _, _ in meta["registry"]}
    for stem, d in dicts.items():
        exp = merged.get(d["name"])
        if exp is None:
            continue
        got = np.fromfile(stem + ".ts.bin", dtype="<f8")
        if len(got) != len(exp["v"]) or np.max(np.abs(got - exp["v"])) > _TOL * exp["span"]:
            errors.append(f"{d['name']}: .ts.bin differs ({len(got)} vs {len(exp['v'])} samples)")
        _check_channel_json(d["name"], d, exp, errors)
        want = _expected_ids(meta["registry"], d["name"], exp["rate"])
        if want is not None and d.get("id") != want:
            errors.append(f"{d['name']}: id {d.get('id')} != registry {want}")
        if want is None and (d.get("id") in registry_ids or "#" not in str(d.get("id"))):
            errors.append(f"{d['name']}: id {d.get('id')} should be a new channel")

    exp_texts = sorted((t[1], t[2] or -1.0, t[3]) for f in files for t in f["texts"])
    got_texts = sorted((r["onset_sec"], r.get("duration_sec") or -1.0, r["text"])
                       for r in _json_rows(os.path.join(out, "annotations")))
    if got_texts != exp_texts:
        errors.append(f"annotations {got_texts[:3]} != {exp_texts[:3]}")
    return errors


def check_queries(out: str) -> list[str]:
    with open(os.path.join(HERE, "oracle_hashes.json")) as fh:
        want = json.load(fh)
    errors = []
    for q in QUERY_NAMES:
        rows = pq.read_table(os.path.join(out, q)).to_pylist()
        got = value_hash(rows)
        if got != want[q]:
            errors.append(f"{q}: {got[:40]} != oracle {want[q][:40]}")
    return errors
