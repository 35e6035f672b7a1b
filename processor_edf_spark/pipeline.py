"""End-to-end EDF dataflow: files → samples + channel metadata.

The Spark lifecycle (SURVEY.md §3.4):

    (path, length) listing
      → record-aligned slice decode (mapInPandas) → long-format samples
      → [header probe + quarantine, annotation filter, calibration —
         inside the decoder]
      → chunk-run slice scan: per-slice contiguous runs (W1 in the scan;
        record bytes read only for EDF+D), each row carrying its signal's
        index and unit; checkpointed once per call
      → channel registry (band-join dedup, J1-J3) over each data signal's
        first run (index 0), checkpointed
      → cross-file run merge + ONE per-channel aggregate: bounds, count,
        chunk list (A1/A2), broadcast-joined to the registry
      → channels metadata + parquet/JSON sinks

Replaces the reference's eager single-file pipeline
(processor/edf_processor/processor.py:10-69 + base_processor/base.py:40-53):
one declarative plan; every stage reads header bytes or record-aligned
byte ranges of the listed files (sources/edf.py), and the only shuffles
are the spread of slice ids, the registry's and the per-channel
aggregation — which operate on run rows, not raw samples.

Error handling: the reference swallows decode errors and publishes partial
output (processor.py:66-69).  Here a malformed file fails its own task and
is reported; ``quarantine=True`` drops the files the header probe rejects
instead (SURVEY.md §2.10).  The probe runs inside each scan task on the
header it reads anyway, so every returned plan has one Python scan per
source and no join against the status table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from processor_edf_spark.operators.channels import (
    get_or_create_channels,
    match_existing_channels,
)
from processor_edf_spark.operators.sessionize import merge_chunk_runs
from processor_edf_spark.sources.edf import (
    decode_annotations,
    decode_chunk_runs,
    decode_samples,
    scan_edf_files,
)


def process_edf_directory(
    spark: SparkSession,
    input_dir: str,
    existing_channels: DataFrame | None = None,
    quarantine: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Run the full EDF pipeline over a directory (any number of files —
    the reference's one-file limit, main.py:15-16, does not apply).

    Returns ``(samples, channels, annotations)`` DataFrames.
    ``existing_channels`` (id, name, rate, type, …) switches on append-mode
    matching (J1), the batch equivalent of reference mode='append'
    (timeseries/base.py:129-135).
    ``quarantine=True`` drops files that fail the structural probe
    (``probe_header``) instead of failing the job — the per-file status
    design of SURVEY.md §2.10 (the reference swallows errors and emits
    partial output; we isolate them).  Each scan runs the probe on the
    header it has already read, so the samples and annotations plans are
    one Python scan each and no plan joins against a probe.  Use
    ``file_status(scan_edf_files(spark, input_dir))`` to report the
    quarantined set (the same check, so the same files).

    The channel metadata reads ONE slice scan, ``decode_chunk_runs``
    (record bytes read only for EDF+D files: contiguous runs follow from
    the header and the record range).  It is checkpointed lazily for
    this call only — a later call on a grown directory scans again — and
    so is the channel registry built from it.  Building the registry's
    checkpoint runs, before this function returns, the slice spread, the
    chunk-run scan itself and the registry's shuffle stages; the returned
    channels plan has no Python node.
    """
    files = scan_edf_files(spark, input_dir)
    samples = decode_samples(files, quarantine=quarantine)
    annotations = decode_annotations(files, quarantine=quarantine)
    # A lazy local checkpoint is reuse that lasts this call: ``.cache()``
    # is matched by plan, and a file listing compares equal by its root
    # path, so a later call on a grown directory would get this call's
    # rows back.
    chunk_runs = decode_chunk_runs(files, quarantine=quarantine).localCheckpoint(eager=False)
    channels = build_channel_metadata(chunk_runs, existing_channels)
    return samples, channels, annotations


def build_channel_metadata(
    chunk_runs: DataFrame,
    existing_channels: DataFrame | None = None,
) -> DataFrame:
    """Channel metadata records mirroring timeseries-channel.schema.json.

    Plan shape — NO sample rows move anywhere: gap detection happened
    inside the decode scan (``chunk_run_rows_from_matrix``, one np.diff
    per signal), so this plan only joins/aggregates O(chunks) run rows;
    the registry joins are broadcasts.  One per-channel aggregate over
    the merged chunk runs gives the bounds (A1), the count (A2) — every
    sample belongs to exactly one run — and the chunk list.

    ``chunk_runs`` is the ``decode_chunk_runs`` table.  Each (file,
    signal)'s run at ``index = 0`` is its channel's row (name, unit,
    rate): slice 0 always owns a file's first record, so every signal the
    decoder emits samples for has exactly one such run, and a signal or
    file with no samples has none.  The table is read more than once, so
    pass a frame that is cheap to re-read (``process_edf_directory``
    passes its checkpointed scan).  Building the registry's checkpoint
    runs its shuffle stages, and with them the scan, before this function
    returns.
    """
    signal_dim = chunk_runs.filter(F.col("index") == 0).select(
        "file",
        "signal_idx",
        F.col("channel").alias("name"),
        F.col("phy_dim").alias("unit"),
        "rate",
        F.lit("CONTINUOUS").alias("type"),
    )
    registry = get_or_create_channels(signal_dim, existing_channels).localCheckpoint(
        eager=False
    )

    # Merge path: several files can carry the SAME channel (reference
    # append semantics, base.py:129-221 — samples accumulate, bounds
    # extend).  Map every incoming (file, label) to its canonical channel
    # id via the same J1 band match used for dedup, then aggregate bounds
    # and chunks BY CHANNEL ID over the union of all matched files.
    mapping = F.broadcast(
        match_existing_channels(
            signal_dim.select("file", "name", "rate", "type"),
            registry.select("id", "name", "rate", "type"),
        ).select(
            F.col("file").alias("m_file"),
            F.col("name").alias("m_channel"),
            F.col("existing_id").alias("m_id"),
            F.col("existing_rate").alias("m_rate"),
        )
    )
    runs = chunk_runs.join(
        mapping,
        (F.col("file") == F.col("m_file")) & (F.col("channel") == F.col("m_channel")),
    )

    # Cross-file merge of the decoder's per-file runs (two-level plan:
    # map side = np.diff in the scan, reduce side = O(chunks) window),
    # then one aggregate per channel.
    per_channel = (
        merge_chunk_runs(runs, id_col="m_id", rate_col="m_rate")
        .groupBy("m_id")
        .agg(
            F.min("start").alias("start"),
            F.max("end").alias("end"),
            F.sum("n_samples").alias("num_values"),
            F.sort_array(F.collect_list(F.struct("index", "start", "end"))).alias(
                "contiguousChunks"
            ),
        )
    )

    return (
        registry.join(F.broadcast(per_channel), F.col("id") == F.col("m_id"))
        .select(
            "id",
            "file",
            "index",
            "name",
            "start",
            "end",
            "unit",
            "rate",
            "type",
            F.lit("default").alias("group"),
            F.lit(0).cast("long").alias("lastAnnotation"),
            "num_values",
            "contiguousChunks",
            F.array().cast(
                "array<struct<key:string,value:string>>"
            ).alias("properties"),
        )
    )


def build_unit_channel_metadata(spikes: DataFrame, rate: float = 30_000.0) -> DataFrame:
    """Channel metadata for sparse UNIT (spike) channels — the reference
    defines spikes and a spike sink but the EDF path never produces them
    (timeseries/base.py:98-119,223-263); this completes the dataflow for
    callers that do.  Bounds come from first/last spike timestamp exactly
    as ``write_spike_data`` maintains them (base.py:255-261); each spike
    train is one contiguous chunk starting at index 0 (sparse data has no
    gap semantics)."""
    bounds = spikes.groupBy("file", "channel").agg(
        F.min("t_usec").alias("start"),
        F.max("t_usec").alias("end"),
        F.count(F.lit(1)).alias("num_values"),
    )
    w = Window.partitionBy("file").orderBy("channel")
    return bounds.select(
        F.concat_ws("#", "file", "channel").alias("id"),
        "file",
        (F.row_number().over(w) - 1).alias("index"),
        F.col("channel").alias("name"),
        "start",
        "end",
        F.lit("uV").alias("unit"),
        F.lit(rate).alias("rate"),
        F.lit("UNIT").alias("type"),
        F.lit("default").alias("group"),
        F.lit(0).cast("long").alias("lastAnnotation"),
        "num_values",
        F.array(
            F.struct(
                F.lit(0).cast("long").alias("index"),
                F.col("start").alias("start"),
                F.col("end").alias("end"),
            )
        ).alias("contiguousChunks"),
        F.array().cast("array<struct<key:string,value:string>>").alias("properties"),
    )


def validate_channels(channels: DataFrame) -> DataFrame:
    """Output-contract validation (S10): the reference validates every
    channel dict against timeseries-channel.schema.json before publishing
    (timeseries/base.py:14-15,64 + resources/timeseries-channel.schema.json)
    and asserts chunk order (base.py:87-95).  Distributed, validation is a
    column: ``violations`` lists every failed constraint (empty = publish),
    so callers choose quarantine vs fail — never silent partial output.
    """
    checks = {
        # required fields (schema :69)
        "missing_name": F.col("name").isNull() | (F.trim("name") == ""),
        "missing_unit": F.col("unit").isNull(),
        "missing_start": F.col("start").isNull(),
        "missing_end": F.col("end").isNull(),
        # type enum (schema :31-34, base.py:45)
        "bad_type": ~F.col("type").isin("CONTINUOUS", "UNIT"),
        "bad_rate": F.col("rate").isNull() | (F.col("rate") <= 0),
        "end_before_start": F.col("end") < F.col("start"),
        # chunks: sorted, non-overlapping, first at index 0 covering start
        "chunks_empty": F.size("contiguousChunks") == 0,
        "chunks_unsorted_or_overlap": F.exists(
            F.zip_with(
                F.slice("contiguousChunks", 1, F.greatest(F.size("contiguousChunks") - 1, F.lit(0))),
                F.slice("contiguousChunks", 2, F.greatest(F.size("contiguousChunks") - 1, F.lit(0))),
                lambda a, b: b["start"] <= a["end"],
            ),
            lambda x: x,
        ),
        "first_chunk_not_at_start": (F.element_at("contiguousChunks", 1)["index"] != 0)
        | (F.element_at("contiguousChunks", 1)["start"] != F.col("start")),
    }
    violations = F.filter(
        F.array(
            *[F.when(cond, F.lit(name)).otherwise(F.lit(None)) for name, cond in checks.items()]
        ),
        lambda x: x.isNotNull(),
    )
    return channels.withColumn("violations", violations).withColumn(
        "valid", F.size("violations") == 0
    )


def channel_dicts(channels: DataFrame) -> list[dict]:
    """Channel rows as JSON-ready dicts (the reference's as_dict output,
    timeseries/base.py:47-65).  Driver-side materialization — only for the
    metadata dimension, never samples.  Cardinality assumption: channel
    count is bounded by files × signals-per-file (tens per file by the
    EDF spec's 256-byte-per-signal header budget), so even a million-file
    run collects millions of short rows at most — if channels ever
    stopped being a dimension table, this sink (which mirrors the
    reference's per-channel output contract) would need to become a
    distributed write instead.  The O(channels) rows are sorted here, not
    with ``orderBy``, which would run a range-sampling job and a shuffle."""
    out = []
    rows = sorted(channels.collect(), key=lambda r: (r["file"], r["index"]))
    for row in rows:
        d = {
            "name": row["name"],
            "start": int(row["start"]),
            "end": int(row["end"]),
            "unit": row["unit"],
            "rate": float(row["rate"]),
            "type": row["type"],
            "group": row["group"],
            "lastAnnotation": int(row["lastAnnotation"]),
            "contiguousChunks": [
                {"index": int(c["index"]), "start": int(c["start"])}
                for c in (row["contiguousChunks"] or [])
            ],
            "properties": list(row["properties"] or []),
        }
        if row["id"] is not None:
            d["id"] = row["id"]
        out.append(d)
    return out
