"""Gap detection / sessionization — the reference's analytical core
(W1/W2/A6 in SURVEY.md §2.5).

Reference semantics (timeseries/base.py:322-342 ``discontinuous_chunks``):
a chunk boundary occurs where ``diff(timestamps) > 2 × (1e6 / rate)``;
each contiguous run becomes a TimeSeriesContiguousChunk
``(index, start, end)`` where ``index`` is the run's start position in the
channel's sample array.

Spark-first expression: lag + conditional sum over a window partitioned by
the series key — one shuffle on the key, then linear within partitions;
scales to any number of channels (AQE splits skewed ones).  The streaming
equivalent is ``F.session_window`` (see streaming/sessions.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

USEC = 1_000_000


def gap_threshold_usec(rate: Column) -> Column:
    """2 × sampling period, µs (reference timeseries/base.py:330)."""
    return (F.lit(2.0) * F.lit(USEC) / rate).cast("double")


def with_chunk_id(
    df: DataFrame,
    keys: Sequence[str],
    time_col: str = "t_usec",
    gap_usec: Column | float | None = None,
    rate_col: str | None = None,
) -> DataFrame:
    """Assign a per-key ``chunk_id`` that increments at every gap.

    ``gap_usec`` may be a literal/Column threshold; if omitted it is derived
    from ``rate_col`` via the reference's 2/rate rule.
    """
    if gap_usec is None:
        if rate_col is None:
            raise ValueError("provide gap_usec or rate_col")
        gap = gap_threshold_usec(F.col(rate_col))
    elif isinstance(gap_usec, Column):
        gap = gap_usec
    else:
        gap = F.lit(float(gap_usec))

    w = Window.partitionBy(*keys).orderBy(time_col)
    prev = F.lag(time_col).over(w)
    is_boundary = F.when(
        prev.isNull() | ((F.col(time_col) - prev) > gap), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        "chunk_id",
        F.sum(is_boundary).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1,
    )


def contiguous_chunks(
    df: DataFrame,
    keys: Sequence[str],
    time_col: str = "t_usec",
    gap_usec: Column | float | None = None,
    rate_col: str | None = None,
) -> DataFrame:
    """Per contiguous run: start index into the channel's sample array,
    first/last timestamp, and sample count (W1 + A6).

    Output: keys…, chunk_id, index, start, end, n_samples.
    """
    chunked = with_chunk_id(df, keys, time_col, gap_usec, rate_col)
    w = Window.partitionBy(*keys).orderBy(time_col)
    chunked = chunked.withColumn("_pos", F.row_number().over(w) - 1)
    return (
        chunked.groupBy(*keys, "chunk_id")
        .agg(
            F.min("_pos").alias("index"),
            F.min(time_col).alias("start"),
            F.max(time_col).alias("end"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .orderBy(*keys, "chunk_id")
    )


def hierarchical_chunks(
    df: DataFrame,
    id_col: str,
    unit_col: str,
    rate_col: str,
    time_col: str = "t_usec",
) -> DataFrame:
    """Two-level gap detection for channels whose samples span many files.

    A single window partitioned by channel id alone sorts the channel's
    ENTIRE sample history in one task — the partition-skew anti-pattern
    (one EEG channel at 100 TB is billions of rows).  Instead:

    1. detect contiguous runs per (id, unit) — ``unit_col`` is the ingest
       unit (file); thousands of bounded-size windows run in parallel;
    2. merge the resulting O(chunks) chunk rows across units per id —
       adjacent runs whose boundary gap ≤ threshold coalesce — a window
       over chunk rows, not samples;
    3. global ``index`` = running sum of merged-chunk sample counts.

    Assumes units of one channel occupy non-interleaved time ranges (the
    reference's non-overlap invariant, base.py:87-95; overlaps are a
    quarantine case — the ``overlap_validation`` query checks it).

    Output: id_col, chunk_id, index, start, end, n_samples.
    """
    chunked = with_chunk_id(df, [id_col, unit_col], time_col, rate_col=rate_col)
    per_unit = chunked.groupBy(id_col, unit_col, "chunk_id").agg(
        F.min(time_col).alias("start"),
        F.max(time_col).alias("end"),
        F.count(F.lit(1)).alias("n_samples"),
        F.first(rate_col).alias("_rate"),
    )
    return merge_chunk_runs(per_unit, id_col=id_col, rate_col="_rate")


def merge_chunk_runs(
    runs: DataFrame, id_col: str, rate_col: str
) -> DataFrame:
    """Merge per-unit contiguous runs across units of the same channel:
    adjacent runs whose boundary gap ≤ 2/rate coalesce; global ``index``
    is the running sum of merged sample counts.  Operates on O(chunks)
    rows — this is the reduce side of the two-level plan (the map side is
    either ``with_chunk_id`` per unit or the decoder's pushed-down
    ``chunk_run_rows``).

    ``runs`` columns: id_col, start, end, n_samples, rate_col.
    """
    w = Window.partitionBy(id_col).orderBy("start")
    gap = gap_threshold_usec(F.col(rate_col))
    prev_end = F.lag("end").over(w)
    boundary = F.when(
        prev_end.isNull() | ((F.col("start") - prev_end) > gap), F.lit(1)
    ).otherwise(F.lit(0))
    regrouped = (
        runs.withColumn(
            "merged_id",
            F.sum(boundary).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1,
        )
        .groupBy(id_col, "merged_id")
        .agg(
            F.min("start").alias("start"),
            F.max("end").alias("end"),
            F.sum("n_samples").alias("n_samples"),
        )
    )
    wi = Window.partitionBy(id_col).orderBy("start")
    index = F.coalesce(
        F.sum("n_samples").over(wi.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("long")
    return regrouped.select(
        id_col,
        F.col("merged_id").alias("chunk_id"),
        index.alias("index"),
        "start",
        "end",
        "n_samples",
    )
