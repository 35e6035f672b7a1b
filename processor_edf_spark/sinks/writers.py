"""Sinks (S8-S10, SURVEY.md §2.1).

Canonical sink is Parquet partitioned by file — columnar, splittable,
row-group min/max stats on ``t_usec`` give the same data-skipping the
reference's contiguousChunks index provides.  The bit-compatible
``channel*.ts.bin`` + ``channel*.json`` writer reproduces the reference's
output contract byte-for-byte where a consumer still needs it.

Reference parity:
- S8 binary channel sink   timeseries/base.py:265-294 (raw little-endian
  float64 appends, filename scheme base.py:41-43)
- S10 JSON metadata sink   base_processor/base.py:111-125 (publish_outputs:
  ``channel.json`` for a single channel, ``channel-%05d.json`` with the
  index for multiple; same suffix logic for .ts.bin)
- S9 spike sink            timeseries/base.py:223-263 — layout reproduced,
  not its py2-only bugs (``long``/bytes-join, SURVEY.md §7.3)
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_samples_parquet(samples: DataFrame, out_dir: str) -> None:
    """Canonical sample sink.  Sorting within partitions by (channel, t)
    maximizes parquet delta/RLE encoding and gives row-group time-range
    stats — the scale replacement for .ts.bin appends."""
    (
        samples.repartition("file", "channel")
        .sortWithinPartitions("channel", "t_usec")
        .write.mode("overwrite")
        .partitionBy("file")
        .parquet(out_dir)
    )


def write_channels_json(channels: DataFrame, out_dir: str) -> None:
    """Canonical metadata sink (newline-delimited JSON)."""
    channels.coalesce(1).write.mode("overwrite").json(out_dir)


def write_annotations_json(annotations: DataFrame, out_dir: str) -> None:
    """Annotations sink — publishes the channel the reference collects
    but never writes (edf_processor/edf.py:117-118 stores raw TAL
    segments and drops them; SURVEY.md §2.8 names the publish step as
    the extension point).  Takes the RAW annotations frame from
    ``process_edf_directory`` and writes one newline-delimited JSON row
    per (file, record, TAL, text): onset_sec, duration_sec, text —
    beside the ``channel*.json`` metadata sink.

    Record-start TALs (empty text) are metadata, not annotations: they
    already surface as ``offset_sec`` on the annotations frame, so the
    sink writes only real texts (the parser excludes empties).  Sorted
    for stable diffable output; annotation volume is
    O(events-in-recording), not O(samples), so one output file matches
    the channel sink's contract."""
    _annotation_json_rows(annotations).write.mode("overwrite").json(out_dir)


def _annotation_json_rows(annotations: DataFrame) -> DataFrame:
    """The parsed TAL rows ``write_annotations_json`` writes: one shuffle
    to a single partition AFTER the parse, so the annotation decode and
    the parse keep the scan's parallelism (a ``coalesce(1)`` would pull
    them into the one writer task)."""
    from processor_edf_spark.sources.edf import parse_tal_annotations

    return (
        parse_tal_annotations(annotations)
        .repartition(1)
        .sortWithinPartitions("file", "record", "tal_idx", "text")
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 32,
    path: str | None = None,
) -> None:
    """Bucketed-table sink: pre-shuffle the data ONCE at write time so every
    later equi-join / aggregation on ``key`` runs shuffle-free — the
    co-located-join technique for fact tables that are joined repeatedly
    (samples by channel, events by user).  At 100 TB the one-time bucketed
    write amortizes across every downstream join that would otherwise
    re-shuffle the full table; two tables bucketed the same way (same key,
    same count) sort-merge-join with ZERO Exchange on either side
    (pinned by tests/test_plan_shapes.py::test_bucketed_join_no_shuffle).

    ``buckets`` should be sized so each bucket file lands near the scan
    split size (~128 MiB): buckets ≈ table_bytes / 128 MiB, rounded to a
    power of two so half/double-bucket joins still co-locate."""
    w = df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def write_partitioned_daily(
    df: DataFrame,
    out_dir: str,
    ts_col: str = "ts",
    partition_col: str = "dt",
    files_per_day: int = 4,
) -> None:
    """Hive-style date-partitioned sink: one ``dt=YYYY-MM-DD`` directory
    per day, so every time-ranged read prunes whole partitions at PLAN
    time (``PartitionFilters`` in the scan — zero I/O for excluded
    days; pinned by tests/test_plan_shapes.py).  This is the coarse
    layout lever ABOVE the row-group-stat skipping the canonical sink
    already gets from its (channel, t) sort, and below z-ordering:
    date-partition for the dominant time predicate, z-order inside a
    partition when a second selective column matters.

    Small-files discipline with skew headroom: rows are repartitioned
    by (partition column, bounded salt) before the write, so each day
    directory gets AT MOST ``files_per_day`` files (never one shard per
    upstream task × day — the classic million-small-files failure at
    100 TB) while a hot day still spans ``files_per_day`` writer tasks
    instead of funneling through one straggler.  A plain
    repartition(dt) would pin each whole day to a single task, and AQE
    only coalesces small partitions — it cannot split an oversized
    repartition-by-key partition outside joins.  Size ``files_per_day``
    ≈ hot-day bytes / 128 MiB."""
    from pyspark.sql import functions as F

    keyed = df.withColumn(
        partition_col, F.date_format(F.col(ts_col), "yyyy-MM-dd")
    )
    salt = F.pmod(F.xxhash64(F.col(ts_col)), F.lit(files_per_day))
    (
        keyed.repartition(F.col(partition_col), salt)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(out_dir)
    )


# ---------------------------------------------------------------------------
# Bit-compatible reference output (optional, S8/S10 byte parity)
# ---------------------------------------------------------------------------


def _suffix(index: int) -> str:
    # reference base.py:41-43: no suffix for index 0
    return f"-{index:05d}" if index > 0 else ""


def _channel_key(name: str) -> str:
    """The registry's J1 match key ``lower(trim(name))``
    (``operators.channels.norm_name``; Spark's ``trim`` strips spaces)."""
    return name.strip(" ").lower()


def write_reference_compatible(
    samples: DataFrame, channel_dicts: list[dict], out_dir: str
) -> None:
    """Write ``channel{-%05d}.ts.bin`` (raw float64, chronological) and
    ``channel{-%05d}.json`` exactly as the reference does.

    Samples go to the files of the dict whose name has the same J1 key
    ``lower(trim(label))`` as their label — the key the registry merged
    them by — so case variants of one channel share its one ``.ts.bin``.
    A label whose key matches no dict, or more than one (same-name
    channels whose rates lie outside the ±2% band: the samples carry no
    rate to tell them apart), raises ``ValueError`` naming the labels
    instead of writing files no ``.json`` describes.

    The ``(channel, t_usec, value)`` columns are collected ONCE as Arrow
    (no Spark shuffle), ordered by a stable ``np.lexsort`` on (channel,
    t), and each channel's run is one buffer write, with no per-row
    Python.  Driver memory bound: the whole table is held at once — 16
    bytes per value (``t_usec`` and ``value``) plus the label column (4
    offset bytes + the label's bytes per row) — and the ordering adds
    8-byte temporaries per value, so this sink exists only for
    output-contract parity on reference-scale inputs; at 100 TB use the
    parquet sink.  The ``.json`` files are written even when there are
    no samples.
    """
    os.makedirs(out_dir, exist_ok=True)
    by_key: dict[str, list[int]] = {}
    for i, d in enumerate(channel_dicts):
        by_key.setdefault(_channel_key(d["name"]), []).append(i)

    table = samples.select("channel", "t_usec", "value").toArrow()
    labels = table.column("channel").combine_chunks().dictionary_encode()
    dict_of_label = np.empty(len(labels.dictionary), dtype=np.int64)
    for j, label in enumerate(labels.dictionary.to_pylist()):
        hits = by_key.get(_channel_key(label), [])
        if len(hits) != 1:
            raise ValueError(
                f"samples labelled {label!r} match {len(hits)} channel dicts "
                f"{[channel_dicts[i]['name'] for i in hits]}, not exactly one"
            )
        dict_of_label[j] = hits[0]
    chan = dict_of_label[labels.indices.to_numpy(zero_copy_only=False)]
    order = np.lexsort((table.column("t_usec").to_numpy(), chan))
    chan = chan[order]
    values = table.column("value").to_numpy()[order].astype("<f8", copy=False)
    starts = np.flatnonzero(np.diff(chan, prepend=-1))
    ends = np.append(starts[1:], len(chan))
    for s, e in zip(starts, ends):
        path = os.path.join(out_dir, f"channel{_suffix(int(chan[s]))}.ts.bin")
        with open(path, "wb") as f:
            f.write(values[s:e].tobytes())

    for i, d in enumerate(channel_dicts):
        with open(os.path.join(out_dir, f"channel{_suffix(i)}.json"), "w") as f:
            json.dump(d, f)


def write_spike_binary(
    path: str, spikes: list[tuple[int, int, np.ndarray]], nsamples: int
) -> None:
    """S9 spike binary layout (reference timeseries/base.py:223-253):

        waveform_offset(i64) num_spikes(i64) num_samples(i64)
        [timestamp(i64) unit(u8)]*  waveforms(float64 matrix)

    Implemented with the intended semantics — the reference's version is
    unrunnable on py3 (``long`` NameError base.py:244, str/bytes join
    base.py:235-238).
    """
    spike_bytes = b"".join(
        np.int64(ts).tobytes() + bytes([unit]) for ts, unit, _ in spikes
    )
    wf = np.vstack([w for _, _, w in spikes]).astype(np.float64)
    with open(path, "ab") as f:
        f.write(np.int64(len(spike_bytes)).tobytes())
        f.write(np.int64(len(spikes)).tobytes())
        f.write(np.int64(nsamples).tobytes())
        f.write(spike_bytes)
        f.write(wf.tobytes())


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    max_records_per_file: int = 100_000,
    shard_key: str | None = None,
    order_cols: tuple[str, ...] = (),
) -> None:
    """Training-data export sink: size-bounded parquet shards with
    deterministic per-shard ordering — what a tokenizer/loader fleet
    consumes after dedup+filter.

    - ``maxRecordsPerFile`` bounds every shard so loader memory and
      work-stealing granularity are predictable regardless of upstream
      partition sizes (a skewed filter output otherwise yields 10 GB
      shards next to 10 KB ones).
    - ``shard_key`` (e.g. a hash bucket or lang) routes rows to shards by
      repartition on the key — reproducible shard membership, so a
      resumed export rewrites identical shards instead of reshuffling
      rows arbitrarily.
    - ``order_cols`` sorts WITHIN partitions only (no global sort): a
      deterministic row order inside each shard for stable fingerprints
      and better parquet RLE, at zero extra shuffle.

    At 100 TB this is one shuffle (the optional repartition) + a
    streaming write; nothing collects, nothing global-sorts."""
    w = df
    if shard_key is not None:
        w = w.repartition(shard_key)
    if order_cols:
        w = w.sortWithinPartitions(*order_cols)
    (
        w.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(out_dir)
    )


def write_jsonl_shards(
    df: DataFrame,
    out_dir: str,
    max_records_per_file: int = 100_000,
    shard_key: str | None = None,
    order_cols: tuple[str, ...] = (),
    compression: str = "gzip",
) -> None:
    """JSONL export sink — the interchange format most LLM training
    stacks ingest (one JSON object per line, gzip shards): the same
    size-bound / shard-routing / within-shard-ordering contract as
    :func:`write_training_shards`, with line-JSON instead of parquet.

    Columns become JSON fields verbatim; nested structs/arrays serialize
    as nested JSON.  Parquet remains the canonical sink (typed, footer
    stats, 5-10× smaller) — this is the hand-off format for external
    consumers that speak only JSONL.  Same scale shape: one optional
    shuffle + a streaming write, nothing collects."""
    w = df
    if shard_key is not None:
        w = w.repartition(shard_key)
    if order_cols:
        w = w.sortWithinPartitions(*order_cols)
    (
        w.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .option("compression", compression)
        .json(out_dir)
    )


def write_zordered(
    df: DataFrame,
    out_dir: str,
    col_x: str,
    col_y: str,
    n_files: int | None = None,
    keep_z: bool = True,
) -> None:
    """Z-ordered parquet layout over two integer-expressible columns: the
    multi-column data-skipping sink (the write-side of the
    ``zorder_layout`` driver query).

    Rows are keyed by the Morton interleave of the two columns' low 16
    bits (operators/layout.py), ``repartitionByRange`` on that key (the
    range partitioner samples the key distribution, so each output file
    covers a CONTIGUOUS z-range), and sorted within partitions.  Because
    a contiguous z-range is a bounded rectangle in (x, y) space, every
    file's parquet footer min/max on BOTH source columns stays narrow —
    a predicate on EITHER column prunes files, where a single-column sort
    only ever prunes its own column.

    ``keep_z`` persists the ``_z`` key column so z-range predicates can
    prune directly against its footer stats too.  One shuffle (the range
    partition) + a streaming write; nothing collects.

    Caveat at scale: 16 bits/dimension (65k cells per side) is the
    pruning granularity, not a row limit — values are taken mod 2^16, so
    columns with a wider active range should be bucketed (e.g. ``ts
    DIV 3600e6``) before interleaving, or the wrap aliases distant values
    into the same cell and widens every rectangle.
    """
    from processor_edf_spark.operators.layout import field16_sql, morton_sql

    z = morton_sql(field16_sql(col_x), field16_sql(col_y))
    keyed = df.withColumn("_z", F.expr(z))
    n = n_files or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    laid = keyed.repartitionByRange(n, "_z").sortWithinPartitions("_z")
    if not keep_z:
        laid = laid.drop("_z")
    laid.write.mode("overwrite").parquet(out_dir)
