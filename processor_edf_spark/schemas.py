"""Canonical engine schemas.

The reference's logical model (SURVEY.md §1) is a long-format time series
plus a channel-metadata dimension:

- samples:     one row per decoded sample (the reference holds these as
               per-signal ``np.ndarray`` of float64 — here they are a
               distributed DataFrame, columnar on disk via Parquet).
- channels:    one row per TimeSeriesChannel, mirroring the reference's
               output JSON Schema
               (reference: processor/base_processor/timeseries/resources/
               timeseries-channel.schema.json:7-69).
- annotations: parsed EDF+ TAL segments
               (reference: processor/edf_processor/edf.py:65-70,117-118).
- spikes:      sparse UNIT events (reference: timeseries/base.py:98-119) —
               defined for parity; the EDF path never produces them.
- signal_headers: per-signal EDF header fields
               (reference: processor/edf_processor/edf.py:46-55).

Canonical time type is int64 µs-since-epoch (``t_usec``), matching the
reference's ``usecs_since_epoch`` convention (timeseries/utils.py:64-66).
A TimestampType view is always derivable via ``F.timestamp_micros``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Long-format samples — the fact table.  At 100 TB this is partitioned by
# file (ingest unit) and clustered by (channel, t_usec) within files so
# parquet row-group min/max stats give free time-range data skipping (the
# reference's contiguousChunks index is exactly this min/max time index).
# ---------------------------------------------------------------------------
SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("channel", T.StringType(), False),
        T.StructField("t_usec", T.LongType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)

# Per-signal header dimension (one row per signal per file) — small; always
# broadcastable in joins against samples.
SIGNAL_HEADERS_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("signal_idx", T.IntegerType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("transducer", T.StringType(), True),
        T.StructField("phy_dim", T.StringType(), True),  # physical unit, e.g. uV
        T.StructField("phy_min", T.DoubleType(), False),
        T.StructField("phy_max", T.DoubleType(), False),
        T.StructField("dig_min", T.DoubleType(), False),
        T.StructField("dig_max", T.DoubleType(), False),
        T.StructField("prefiltering", T.StringType(), True),
        T.StructField("nr_samples", T.IntegerType(), False),  # samples per record
        T.StructField("rate", T.DoubleType(), False),  # nr_samples / record duration
        T.StructField("n_total_samples", T.LongType(), False),
        T.StructField("is_annotation", T.BooleanType(), False),
        T.StructField("file_start_usec", T.LongType(), False),
        T.StructField("nb_data_rec", T.IntegerType(), False),
        T.StructField("record_duration_sec", T.DoubleType(), False),
        T.StructField("is_discontiguous", T.BooleanType(), False),  # EDF+D
    ]
)

# Contiguous chunk: gap-free run inside a channel
# (reference: timeseries/base.py:297-320).
CONTIGUOUS_CHUNK_TYPE = T.StructType(
    [
        T.StructField("index", T.LongType(), False),  # start index into sample array
        T.StructField("start", T.LongType(), False),  # µs epoch
        T.StructField("end", T.LongType(), False),  # µs epoch
    ]
)

# Channel metadata — mirrors timeseries-channel.schema.json.
CHANNELS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("file", T.StringType(), False),
        T.StructField("index", T.IntegerType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("unit", T.StringType(), False),
        T.StructField("rate", T.DoubleType(), False),
        T.StructField("type", T.StringType(), False),  # CONTINUOUS | UNIT
        T.StructField("group", T.StringType(), True),
        T.StructField("lastAnnotation", T.LongType(), True),
        T.StructField("num_values", T.LongType(), False),
        T.StructField("contiguousChunks", T.ArrayType(CONTIGUOUS_CHUNK_TYPE), True),
        T.StructField(
            "properties",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType(), False),
                        T.StructField("value", T.StringType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

CHANNEL_TYPES = ("CONTINUOUS", "UNIT")

# Annotations: EDF+ TAL segments (reference edf.py:65-70).
ANNOTATIONS_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("record", T.IntegerType(), False),
        T.StructField("offset_sec", T.DoubleType(), True),  # EDF+D record start offset
        T.StructField("raw", T.BinaryType(), True),
    ]
)

# Sparse UNIT spikes (reference timeseries/base.py:98-119).
SPIKES_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("channel", T.StringType(), False),
        T.StructField("t_usec", T.LongType(), False),
        T.StructField("unit", T.IntegerType(), False),
        T.StructField("waveform", T.ArrayType(T.DoubleType()), True),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
