"""EDF / EDF+C / EDF+D source: record-aligned byte ranges from the file
listing.

European Data Format: a 256-byte fixed-width ASCII global header, then
``256 * nb_signal`` bytes of per-signal headers, then ``nb_data_rec``
interleaved data records of 16-bit little-endian two's-complement samples.

Reference parity (all citations into /root/reference/):
- global header layout      processor/edf_processor/edf.py:34-45
- signal header layout      processor/edf_processor/edf.py:46-55
- sample decode+calibration processor/edf_processor/edf.py:8-18,56-76
- TAL annotation parse      processor/edf_processor/edf.py:65-70
- EDF+D record timestamps   processor/edf_processor/edf.py:105-109
- start datetime Y2K pivot  processor/edf_processor/edf.py:99-103

Spark-first design (NOT a port):
- Every stage starts from the ``(path, length)`` file listing; no stage
  ever materializes a file as one binary row, so there is no per-file
  size cap and executor memory is bounded by ``SLICE_BYTES``.  The
  reference is hard-limited to one file per process (main.py:15-16).
- The status probe and the signal-header scan read only the
  256+256·ns header bytes of each file.
- Quarantine rides the scans: with ``quarantine=True`` each scan task
  runs ``probe_header`` on the header it has just read and emits nothing
  for a rejected file, so no plan re-runs the probe or joins against
  ``file_status`` (which stays the report, over the same check).
- The sample, chunk-run and annotation scans explode each file into
  slice ids from its ``length`` alone (a small file is one slice), spread
  the slice rows round-robin over the session's parallelism, and each
  task reads the header plus one record-aligned byte range per slice
  (``ranges_from_header``).  Timestamps do not depend on the split: the
  contiguous formula uses the global sample index ``rec0·n_i + j``, and
  EDF+D records each carry their own absolute TAL offset.
- The channel metadata reads the chunk-run scan alone: every run row
  carries its signal's index and unit, so the run at ``index = 0`` of a
  (file, signal) is that channel's header row, and only a signal the
  decoder emits samples for has one.  Chunk runs read record bytes only
  for EDF+D files (the TAL offsets); for EDF and EDF+C they follow from
  the header and the slice's record range, so the scan reads header
  bytes alone.
- The decode itself is a ``mapInPandas`` UDTF.  Inside, decoding is one
  ``np.frombuffer('<i2')`` + a reshape per slice (fully vectorized)
  instead of the reference's per-sample Python loop with O(n²)
  ``np.append`` (edf.py:73-76).
- Batches are yielded per signal/record-window so executor memory stays
  bounded.  Column pruning is pushed into the decoder via
  ``wanted_signals`` — the UDTF analog of parquet column pruning
  (SURVEY.md §4).

Known reference bugs intentionally NOT replicated:
- ``data_signal`` is indexed by raw signal index even though annotation
  signals were skipped when building it (edf.py:59-76) — misaligns when an
  annotation signal is not last.  We key by signal index correctly.
- The contiguous-path time step is ``(n-1)/n × (1/rate)`` due to paging
  math (timeseries/base.py:357-369); we synthesize the ideal ``i/rate``
  spacing (within the tests' ±1% tolerance).
- A zero calibration gain (``phy_min == phy_max``) divides by zero in the
  reference; here the probe rejects it so the file is quarantined.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone
from typing import Callable, Iterable, Iterator
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from processor_edf_spark.schemas import (
    ANNOTATIONS_SCHEMA,
    SAMPLES_SCHEMA,
    SIGNAL_HEADERS_SCHEMA,
)

USEC = 1_000_000
ANNOTATION_LABEL = "EDF Annotations"

# Samples per Arrow batch emitted by the decode UDTF.  Bounds executor
# memory: 2M rows ≈ 50 MB of Arrow buffers per in-flight batch.
_BATCH_ROWS = 2_000_000

# Bytes of a file one decode task owns: parquet-like 128 MiB splits.
SLICE_BYTES = 128 * 1024 * 1024


# ---------------------------------------------------------------------------
# Pure-Python/numpy decode kernel (runs inside executors via mapInPandas)
# ---------------------------------------------------------------------------


def _ascii(b: bytes) -> str:
    return b.strip().decode("utf-8", "ignore")


def _fixed_fields(buf: bytes, width: int, n: int) -> list[bytes]:
    """Split ``buf`` into ``n`` fixed-width fields (EDF header convention,
    reference edf.py:46 uses ``re.findall(b'.{1,W}')``)."""
    return re.findall(b".{1,%d}" % width, buf[: width * n])


def parse_edf_header(raw: bytes) -> dict:
    """Parse the 256-byte global header + per-signal header arrays.

    Field layout per reference edf.py:34-55 (EDF spec fixed widths).
    """
    h = {
        "version": _ascii(raw[0:8]),
        "patient_id": _ascii(raw[8:88]),
        "record_id": _ascii(raw[88:168]),
        "start_date": _ascii(raw[168:176]),
        "start_time": _ascii(raw[176:184]),
        "nb_bytes": int(raw[184:192]),
        "reserved": _ascii(raw[192:236]),
        "nb_data_rec": int(raw[236:244]),
        "duration": float(raw[244:252]),
        "nb_signal": int(raw[252:256]),
    }
    ns = h["nb_signal"]
    p = 256
    sig = raw[p : p + 256 * ns]
    off = 0

    def take(width: int, conv):
        nonlocal off
        fields = _fixed_fields(sig[off : off + width * ns], width, ns)
        off += width * ns
        return [conv(f) for f in fields]

    h["labels"] = take(16, _ascii)
    h["transducer"] = take(80, _ascii)
    h["phy_dim"] = take(8, _ascii)
    h["phy_min"] = take(8, float)
    h["phy_max"] = take(8, float)
    h["dig_min"] = take(8, float)
    h["dig_max"] = take(8, float)
    h["prefiltering"] = take(80, _ascii)
    h["nr_samples"] = take(8, int)
    h["reserved_signal"] = take(32, _ascii)
    h["header_bytes"] = 256 + 256 * ns
    h["is_discontiguous"] = h["reserved"] == "EDF+D"
    return h


def edf_start_usec(start_date: str, start_time: str) -> int:
    """EDF 'dd.mm.yy'+'hh.mm.ss' → µs since epoch, Y2K pivot yy<85 → 2000s
    (reference edf.py:99-103; epoch conversion utils.py:55-66, naive UTC)."""
    day, month, year = map(int, start_date.split("."))
    hour, minute, second = map(int, start_time.split("."))
    year = year + 2000 if year < 85 else year + 1900
    dt = datetime(year, month, day, hour, minute, second, tzinfo=timezone.utc)
    return int(dt.timestamp() * USEC)


def record_count(h: dict, length: int) -> int:
    """Complete data records a file of ``length`` bytes holds: the
    header's ``nb_data_rec`` capped by the file length (truncated files
    decode their complete records), and every complete record when
    ``nb_data_rec`` is -1, which the EDF spec allows to mean "unknown".
    The one rule the slice arithmetic, the status probe and the header
    rows share."""
    rec_bytes = 2 * int(sum(h["nr_samples"]))
    if rec_bytes <= 0:
        return 0
    avail = max(0, (length - h["header_bytes"]) // rec_bytes)
    if h["nb_data_rec"] == -1:
        return avail
    return max(0, min(h["nb_data_rec"], avail))


def ranges_from_header(
    h: dict, length: int, slice_bytes: int = SLICE_BYTES
) -> list[tuple[int, int, int, int]]:
    """Pure slice arithmetic: parsed header + file length →
    ``(rec0, n_rec, start_byte, n_bytes)`` for each slice id
    ``0 … ceil(length / slice_bytes) - 1`` (at least one).

    Slice k owns the records whose offset in the data area lies in
    ``[k·slice_bytes, (k+1)·slice_bytes)``, so the slice count follows
    from the length alone while the ranges stay record-aligned, gap-free
    and non-overlapping; a slice may own no record (``n_rec = 0``).
    Pinned by tests/test_edf_ranges.py and value-checked end to end by
    the ``edf_range_decode`` driver row."""
    rec_bytes = 2 * int(sum(h["nr_samples"]))
    n_rec = record_count(h, length)
    n_slices = max(1, -(-length // slice_bytes))

    def first_record(k: int) -> int:
        return min(n_rec, -(-k * slice_bytes // rec_bytes)) if n_rec else 0

    out = []
    for k in range(n_slices):
        lo, hi = first_record(k), first_record(k + 1)
        out.append(
            (lo, hi - lo, h["header_bytes"] + lo * rec_bytes, (hi - lo) * rec_bytes)
        )
    return out


def _signal_offsets(nr_samples: list[int]) -> list[int]:
    offs, acc = [], 0
    for n in nr_samples:
        offs.append(acc)
        acc += n
    return offs


def _data_signals(h: dict) -> list[int]:
    """Indices of the signals the decoder emits: every non-annotation
    signal with samples (the annotation filter is reference P1).

    Raises ``ValueError`` naming the label when two of them share one:
    their samples would land under one ``(file, channel)`` key.  The
    status probe runs this same check, so such a file is quarantined
    instead of decoding into one mixed channel."""
    signals = [
        i
        for i, label in enumerate(h["labels"])
        if label != ANNOTATION_LABEL and h["nr_samples"][i] > 0
    ]
    seen = set()
    for i in signals:
        if h["labels"][i] in seen:
            raise ValueError(f"duplicate signal label {h['labels'][i]!r}")
        seen.add(h["labels"][i])
    return signals


def _tal_segments(h: dict, rec: np.ndarray) -> list[tuple[bytes, float | None]] | None:
    """Each record's annotation-signal bytes with the record's start
    offset in seconds: the bytes before the first ``\\x14\\x14`` parsed as
    a float (reference edf.py:65-70), ``None`` when they do not parse.
    ``None`` for a file without an annotation signal.  Each data record
    carries its own TAL, so a record-aligned range is
    timestamp-self-contained."""
    try:
        ann_idx = h["labels"].index(ANNOTATION_LABEL)
    except ValueError:
        return None
    a0, n_a = _signal_offsets(h["nr_samples"])[ann_idx], h["nr_samples"][ann_idx]
    out = []
    for r in range(rec.shape[0]):
        segment = rec[r, a0 : a0 + n_a].tobytes()
        try:
            offset = float(segment.split(b"\x14\x14")[0])
        except ValueError:
            offset = None
        out.append((segment, offset))
    return out


def _timed_records(h: dict, rec: np.ndarray) -> tuple[np.ndarray, np.ndarray | None]:
    """The block's records that have a start time, with their EDF+D start
    offsets in µs from each record's TAL head (``None`` for a file whose
    timestamps follow from the header alone).  An EDF+D record whose TAL
    head does not parse has no start time, so its samples are dropped
    here, for the sample decode and the chunk runs alike; its annotation
    row keeps ``offset_sec`` null."""
    segments = _tal_segments(h, rec) if h["is_discontiguous"] else None
    if segments is None:
        return rec, None
    offsets = [o for _, o in segments]
    if None in offsets:
        rec = rec[[o is not None for o in offsets]]
        offsets = [o for o in offsets if o is not None]
    return rec, np.round(np.array(offsets, dtype=np.float64) * USEC).astype(np.int64)


def _calibration(h: dict, i: int) -> tuple[float, float]:
    """Linear calibration constants for signal i: physical = gain·digital +
    bias.  Algebraically identical to the reference's per-sample
    ``bit_value * (offset + digital)`` (edf.py:14-18) with the constants
    hoisted out of the loop.

    Raises ``ValueError`` naming the signal when the constants are
    unusable (a zero gain, or an empty or inverted digital range) — the
    status probe runs this same check, so such a file is quarantined
    instead of failing the decode."""
    phy_min, phy_max = h["phy_min"][i], h["phy_max"][i]
    dig_min, dig_max = h["dig_min"][i], h["dig_max"][i]
    name = f"signal {i} {h['labels'][i]!r}"
    if phy_max == phy_min:
        raise ValueError(f"{name}: phy_max == phy_min ({phy_max:g}), zero calibration gain")
    if dig_max <= dig_min:
        raise ValueError(f"{name}: dig_max {dig_max:g} <= dig_min {dig_min:g}")
    gain = (phy_max - phy_min) / (dig_max - dig_min)
    bias = gain * ((phy_max / gain) - dig_max)
    return gain, bias


def _signal_timestamps(
    h: dict,
    i: int,
    start_usec: int,
    nb_rec: int,
    rec_offsets_usec: np.ndarray | None,
    rec0: int = 0,
) -> np.ndarray:
    """Timestamps for signal i as an (nb_rec, n_i) int64 matrix — W3
    (contiguous, ideal spacing) or W4 (EDF+D per-record TAL offsets).

    - contiguous (EDF/EDF+C): t_i = start + round(i·1e6/rate) over the
      GLOBAL sample index ``rec0·n_i … (rec0+nb_rec)·n_i`` (reference W3,
      timeseries/base.py:357-372 — ideal spacing, see module docstring)
    - discontiguous (EDF+D): per record r with TAL offset o_r:
      t_j = start + round(o_r·1e6 + j·1e6·duration/nr_samples)
      (reference W4, edf.py:105-109, endpoint exclusive); needs no
      ``rec0`` since each record's TAL carries its absolute offset."""
    n_i = h["nr_samples"][i]
    if rec_offsets_usec is not None:
        within = np.round(np.arange(n_i) * (h["duration"] * USEC / n_i)).astype(
            np.int64
        )
        return (start_usec + rec_offsets_usec[:nb_rec])[:, None] + within[None, :]
    rate = n_i / h["duration"]
    idx = np.arange(
        rec0 * n_i, (rec0 + nb_rec) * n_i, dtype=np.int64
    ).reshape(nb_rec, n_i)
    return start_usec + np.round(idx * (USEC / rate)).astype(np.int64)


def _decode_block(
    h: dict,
    rec: np.ndarray,
    rec0: int,
    file_name: str,
    wanted_signals: set[str] | None = None,
) -> Iterator[pd.DataFrame]:
    """Decode one record-aligned block (``rec`` = int16 matrix of records
    ``rec0 … rec0+len(rec)``) into long-format sample batches with
    SAMPLES_SCHEMA columns."""
    rec, rec_offsets_usec = _timed_records(h, rec)
    nb_rec = rec.shape[0]
    if nb_rec == 0:
        return
    start_usec = edf_start_usec(h["start_date"], h["start_time"])
    offs = _signal_offsets(h["nr_samples"])

    for i in _data_signals(h):
        label = h["labels"][i]
        if wanted_signals is not None and label not in wanted_signals:
            continue  # column pruning pushed into the scan
        n_i = h["nr_samples"][i]
        gain, bias = _calibration(h, i)
        digital = rec[:, offs[i] : offs[i] + n_i]  # (nb_rec, n_i) int16 view
        t_all = _signal_timestamps(
            h, i, start_usec, nb_rec, rec_offsets_usec, rec0
        )
        values = gain * digital.astype(np.float64) + bias

        rows_per_batch = max(1, _BATCH_ROWS // n_i)
        # Constant string columns go out dictionary-encoded (categorical
        # → Arrow DictionaryArray): one string + an int8 code vector
        # instead of n_rows Python objects — 4× end-to-end decode
        # throughput at the Arrow/JVM boundary.  The dtypes are built
        # ONCE per signal: CategoricalDtype construction + category
        # validation was ~half the whole decode kernel when rebuilt per
        # batch.
        file_dt = pd.CategoricalDtype([file_name])
        chan_dt = pd.CategoricalDtype([label])
        for r0 in range(0, nb_rec, rows_per_batch):
            r1 = min(nb_rec, r0 + rows_per_batch)
            n_rows = (r1 - r0) * n_i
            codes = np.zeros(n_rows, dtype=np.int8)
            yield pd.DataFrame(
                {
                    "file": pd.Categorical.from_codes(codes, dtype=file_dt),
                    "channel": pd.Categorical.from_codes(codes, dtype=chan_dt),
                    "t_usec": t_all[r0:r1].ravel(),
                    "value": values[r0:r1].ravel(),
                }
            )


def chunk_run_rows_from_matrix(
    file_name: str, h: dict, rec: np.ndarray, rec0: int
) -> pd.DataFrame:
    """Per-signal contiguous runs (W1 pushed into the scan) over one
    record-aligned block: one row per gap-free run —
    ``(file, channel, signal_idx, phy_dim, index, start, end, n_samples,
    rate)``.  The signal's first run (``index = 0``, in slice 0) is the
    channel metadata's per-signal row.

    Gap detection needs only the block's own timestamp axis — one
    ``np.diff`` per signal — so the scan emits O(chunks) rows instead of
    shuffling O(samples) rows through a per-channel window.  This is the
    aggregate-pushdown analog of the reference's in-process
    ``discontinuous_chunks`` (timeseries/base.py:322-342).  ``index`` is
    the run start's GLOBAL position in the channel's sample array
    (``rec0·n_i + local``, where ``local`` counts only the block's timed
    records, see ``_timed_records``); runs of adjacent slices merge
    downstream in ``merge_chunk_runs`` exactly like runs of adjacent
    files do (the boundary gap of two contiguous slices is one sampling
    period, under the 2/rate threshold)."""
    cols = {"file": [], "channel": [], "signal_idx": [], "phy_dim": [], "index": [],
            "start": [], "end": [], "n_samples": [], "rate": []}
    rec, rec_offsets_usec = _timed_records(h, rec)
    nb_rec = rec.shape[0]
    if nb_rec == 0:
        return pd.DataFrame(cols)
    start_usec = edf_start_usec(h["start_date"], h["start_time"])
    for i in _data_signals(h):
        n_i = h["nr_samples"][i]
        rate = n_i / h["duration"]
        flat = _signal_timestamps(
            h, i, start_usec, nb_rec, rec_offsets_usec, rec0
        ).ravel()
        gap = 2.0 * USEC / rate  # reference base.py:330
        bidx = np.where(np.diff(flat) > gap)[0] + 1
        starts = np.concatenate([[0], bidx])
        ends = np.concatenate([bidx, [len(flat)]])
        for s, e in zip(starts, ends):
            cols["file"].append(file_name)
            cols["channel"].append(h["labels"][i])
            cols["signal_idx"].append(i)
            cols["phy_dim"].append(h["phy_dim"][i])
            cols["index"].append(int(rec0 * n_i + s))
            cols["start"].append(int(flat[s]))
            cols["end"].append(int(flat[e - 1]))
            cols["n_samples"].append(int(e - s))
            cols["rate"].append(rate)
    return pd.DataFrame(cols)


def signal_header_rows(path: str, h: dict, length: int) -> pd.DataFrame:
    """One metadata row per signal (reference S2+S3) from a parsed header;
    ``nb_data_rec``/``n_total_samples`` count the records the file of
    ``length`` bytes holds (``record_count``)."""
    start_usec = edf_start_usec(h["start_date"], h["start_time"])
    file_name = path.rsplit("/", 1)[-1]
    n = h["nb_signal"]
    nb_rec = record_count(h, length)
    return pd.DataFrame(
        {
            "file": [file_name] * n,
            "signal_idx": np.arange(n, dtype=np.int32),
            "label": h["labels"],
            "transducer": h["transducer"],
            "phy_dim": h["phy_dim"],
            "phy_min": h["phy_min"],
            "phy_max": h["phy_max"],
            "dig_min": h["dig_min"],
            "dig_max": h["dig_max"],
            "prefiltering": h["prefiltering"],
            "nr_samples": np.array(h["nr_samples"], dtype=np.int32),
            "rate": [ns / h["duration"] for ns in h["nr_samples"]],
            "n_total_samples": np.array(
                [ns * nb_rec for ns in h["nr_samples"]], dtype=np.int64
            ),
            "is_annotation": [lbl == ANNOTATION_LABEL for lbl in h["labels"]],
            "file_start_usec": np.int64(start_usec),
            "nb_data_rec": np.int32(nb_rec),
            "record_duration_sec": h["duration"],
            "is_discontiguous": h["is_discontiguous"],
        }
    )


def annotation_rows_from_matrix(
    file_name: str, h: dict, rec: np.ndarray, rec0: int
) -> pd.DataFrame:
    """Raw TAL segments per record (reference S5, edf.py:65-70) for one
    record-aligned block; ``record`` carries the GLOBAL record index
    (``rec0 + local``), so the rows do not depend on the split."""
    cols = {"file": [], "record": [], "offset_sec": [], "raw": []}
    for r, (segment, offset) in enumerate(_tal_segments(h, rec) or []):
        cols["file"].append(file_name)
        cols["record"].append(rec0 + r)
        cols["offset_sec"].append(offset)
        cols["raw"].append(segment)
    return pd.DataFrame(cols)


# ---------------------------------------------------------------------------
# Byte-range reads (inside executors)
# ---------------------------------------------------------------------------


def _read_at(path: str, offset: int, n_bytes: int) -> bytes:
    """Read ``n_bytes`` at ``offset`` from a file URI without touching the
    rest of the file.  file:// short-circuits to a plain seek+read; every
    other scheme goes through pyarrow.fs (hdfs://, s3://, gs:// … —
    whatever Arrow filesystems the deployment provides)."""
    parsed = urlparse(path)
    if parsed.scheme in ("", "file"):
        local = unquote(parsed.path) if parsed.scheme else path
        with open(local, "rb") as f:
            f.seek(offset)
            return f.read(n_bytes)
    return _read_at_arrow(path, offset, n_bytes)


def _read_at_arrow(path: str, offset: int, n_bytes: int) -> bytes:
    """The pyarrow.fs range read — split out so the local tests can
    drive this exact code path through a file:// URI even though
    ``_read_at`` short-circuits that scheme in production."""
    from pyarrow import fs as pafs

    filesystem, rel = pafs.FileSystem.from_uri(path)
    with filesystem.open_input_file(rel) as f:
        return f.read_at(n_bytes, offset)


def _read_header(path: str) -> dict:
    """Parse a file's header from its 256+256·ns header bytes alone."""
    ns = max(0, int(_read_at(path, 252, 4)))
    return parse_edf_header(_read_at(path, 0, 256 + 256 * ns))


# ---------------------------------------------------------------------------
# Spark-facing API
# ---------------------------------------------------------------------------


def scan_edf_files(spark: SparkSession, path: str) -> DataFrame:
    """Distributed EDF file listing ``(path, length)`` (reference S1,
    main.py:7-16 — minus the one-file limit).  The extension predicate is
    pushed to the listing, and the binaryFile format prunes its content
    column, so listing reads no file data."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.[eE][dD][fF]")
        .load(path)
        .select("path", "length")
    )


FILE_STATUS_SCHEMA = (
    "path string, file string, ok boolean, error string, "
    "nb_signal int, nb_data_rec int, n_bytes long"
)


def probe_header(h: dict, length: int) -> int:
    """The structural probe of one parsed header against its file's
    LENGTH: header validation, unique labels and a usable calibration
    for every decoded signal, and the complete-record count
    (``record_count``), which it returns.  Raises ``ValueError`` with the
    reason.  Pure: ``status_probe`` and the quarantining scans run it on
    the header they already read."""
    if h["nb_signal"] <= 0:
        raise ValueError("no signals")
    if h["duration"] <= 0:
        raise ValueError(f"non-positive record duration {h['duration']}")
    if h["nb_data_rec"] < -1:
        raise ValueError(f"negative record count {h['nb_data_rec']}")
    edf_start_usec(h["start_date"], h["start_time"])  # validates dates
    if int(sum(h["nr_samples"])) <= 0:
        raise ValueError("empty data records")
    for i in _data_signals(h):
        _calibration(h, i)
    return record_count(h, length)


def _scan_header(path: str, length: int, quarantine: bool) -> dict | None:
    """The header a scan task decodes with.  With ``quarantine`` on, a file
    ``status_probe`` rejects yields ``None`` (the same read and the same
    checks, so the quarantined set is ``file_status``'s ``ok = false``
    set); with it off, a malformed file raises here as it always did."""
    if not quarantine:
        return _read_header(path)
    try:
        h = _read_header(path)
        probe_header(h, length)
        return h
    except Exception:  # noqa: BLE001 — reported by file_status
        return None


def status_probe(path: str, n_bytes: int) -> tuple:
    """One file's status row from its header bytes and its LENGTH alone
    (``probe_header``).  Any failure — an unreadable file included — is a
    status row, never an exception."""
    name = path.rsplit("/", 1)[-1]
    try:
        h = _read_header(path)
        n_rec = probe_header(h, n_bytes)
        return (path, name, True, None, h["nb_signal"], n_rec, n_bytes)
    except Exception as e:  # noqa: BLE001 — any parse failure quarantines
        return (path, name, False, f"{type(e).__name__}: {e}", None, None, n_bytes)


def file_status(files: DataFrame) -> DataFrame:
    """Per-file decode status (SURVEY.md §2.10): validate header structure
    and data-area consistency WITHOUT decoding samples.

    The reference swallows decode errors and publishes partial output
    (processor.py:66-69); the Spark design is the opposite — fail fast per
    FILE, never per job: corrupt files surface here as ``ok=false`` rows
    (PERMISSIVE-style status column) and the scans quarantine them
    (``quarantine=True``: each scan task runs the same ``probe_header`` on
    the header it reads anyway), while every healthy file still processes.
    At 100 TB a single bad file must never kill the run.  This is the
    report; no pipeline plan joins against it.
    """

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                status_probe(str(p), int(n))
                for p, n in zip(pdf["path"], pdf["length"])
            ]
            yield pd.DataFrame(
                rows,
                columns=["path", "file", "ok", "error", "nb_signal", "nb_data_rec", "n_bytes"],
            )

    return files.select("path", "length").mapInPandas(
        gen, schema=FILE_STATUS_SCHEMA
    )


def parse_signal_headers(files: DataFrame, *, quarantine: bool = False) -> DataFrame:
    """File listing → signal-header dimension table (S2/S3), from the
    header bytes of each file; ``quarantine`` drops the files the probe
    rejects (``_scan_header``)."""

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p, n in zip(pdf["path"], pdf["length"]):
                h = _scan_header(str(p), int(n), quarantine)
                if h is not None:
                    yield signal_header_rows(str(p), h, int(n))

    return files.select("path", "length").mapInPandas(
        gen, schema=SIGNAL_HEADERS_SCHEMA
    )


def _map_slices(
    files: DataFrame,
    emit: Callable[[str, dict, np.ndarray, int], Iterable[pd.DataFrame]],
    schema,
    *,
    quarantine: bool = False,
    read_records: Callable[[dict], bool] = lambda h: True,
) -> DataFrame:
    """The shape every record scan shares: explode each file into slice
    ids from its length (``SLICE_BYTES`` as set when the plan is built),
    spread the slice rows round-robin over the session's parallelism, and
    per slice read the header and the slice's record range, then emit
    ``emit(file_name, header, records, rec0)`` frames for every slice
    that owns records.  With ``quarantine`` on, every slice of a file
    whose header fails the probe emits nothing — the check runs on the
    header the task has already read, so quarantine costs no I/O and no
    extra Python stage.

    When ``read_records(header)`` is false the slice's bytes are not
    read and ``emit`` gets an ``(n_rec, 0)`` matrix: for emitters that
    need only the record range.

    The explicit round-robin width keeps AQE from coalescing the few KB of
    slice rows into one partition, which would serialize the decode they
    expand into."""
    slice_bytes = SLICE_BYTES
    n_slices = F.greatest(F.lit(1), F.ceil(F.col("length") / F.lit(slice_bytes)))
    slices = files.select(
        "path",
        "length",
        F.explode(F.sequence(F.lit(0), n_slices.cast("int") - 1)).alias("slice"),
    )
    width = files.sparkSession.sparkContext.defaultParallelism

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p, n, k in zip(pdf["path"], pdf["length"], pdf["slice"]):
                p, n, k = str(p), int(n), int(k)
                h = _scan_header(p, n, quarantine)
                if h is None:
                    continue
                rec0, n_rec, start, n_bytes = ranges_from_header(h, n, slice_bytes)[k]
                if n_rec == 0:
                    continue
                if read_records(h):
                    raw = _read_at(p, start, n_bytes)
                    rec = np.frombuffer(raw, dtype="<i2").reshape(n_rec, -1)
                else:
                    rec = np.empty((n_rec, 0), dtype="<i2")
                yield from emit(p.rsplit("/", 1)[-1], h, rec, rec0)

    return slices.repartition(width).mapInPandas(gen, schema=schema)


def decode_samples(
    files: DataFrame,
    wanted_signals: set[str] | None = None,
    *,
    quarantine: bool = False,
) -> DataFrame:
    """File listing → long-format samples (S4 + W3/W4 + P1/P3/P4).

    The plan is a map over slice rows: the only shuffle moves the slice
    ids themselves, never samples."""
    return _map_slices(
        files,
        lambda f, h, rec, rec0: _decode_block(h, rec, rec0, f, wanted_signals),
        SAMPLES_SCHEMA,
        quarantine=quarantine,
    )


CHUNK_RUNS_SCHEMA = (
    "file string, channel string, signal_idx int, phy_dim string, index long, "
    "start long, end long, n_samples long, rate double"
)


def _needs_records(h: dict) -> bool:
    """Chunk runs read record bytes only for EDF+D files, whose timestamps
    come from each record's TAL; contiguous timestamps follow from the
    header and the record range alone (``_signal_timestamps``)."""
    return h["is_discontiguous"]


def decode_chunk_runs(files: DataFrame, *, quarantine: bool = False) -> DataFrame:
    """File listing → per-(file, signal, slice) contiguous-run table (W1 at
    the source; O(chunks) rows, no sample movement)."""
    return _map_slices(
        files,
        lambda *block: [chunk_run_rows_from_matrix(*block)],
        CHUNK_RUNS_SCHEMA,
        quarantine=quarantine,
        read_records=_needs_records,
    )


def decode_annotations(files: DataFrame, *, quarantine: bool = False) -> DataFrame:
    """File listing → annotations table (S5)."""
    return _map_slices(
        files,
        lambda *block: [annotation_rows_from_matrix(*block)],
        ANNOTATIONS_SCHEMA,
        quarantine=quarantine,
    )


def parse_tal_annotations(annotations: DataFrame) -> DataFrame:
    """Full EDF+ TAL parse — the reference collects raw TAL segments but
    never publishes them (edf.py:117-118; extension point per SURVEY.md
    §2.8).  Parses every Timestamped Annotation List in the raw bytes:
    ``+onset[\\x15duration]\\x14text1\\x14text2…\\x14\\x00`` → one row per
    (TAL, text): file, record, onset_sec, duration_sec, text.

    Entirely declarative: split/explode/regexp column expressions (TAL
    payloads are ASCII), so it's codegen'd and runs wherever the
    annotations DataFrame lives — no extra Python pass over the bytes.
    Record-start TALs (empty text) are excluded; they surface via
    ``offset_sec`` on the annotations table instead.
    """
    tals = annotations.select(
        "file",
        "record",
        F.posexplode(F.split(F.col("raw").cast("string"), "\x00")).alias(
            "tal_idx", "tal"
        ),
    ).filter(F.col("tal") != "")
    onset = F.regexp_extract("tal", r"^([+-][0-9.]+)", 1).cast("double")
    duration = F.regexp_extract("tal", "\x15([0-9.]+)", 1)
    texts = F.split(F.regexp_replace("tal", "^[^\x14]*\x14", ""), "\x14")
    return (
        tals.select(
            "file",
            "record",
            "tal_idx",
            onset.alias("onset_sec"),
            F.when(duration != "", duration.cast("double")).alias("duration_sec"),
            F.explode(texts).alias("text"),
        )
        .filter(F.col("text") != "")
    )
