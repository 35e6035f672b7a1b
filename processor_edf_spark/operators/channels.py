"""Channel registry: fuzzy dedup/match of incoming signals against existing
channels (J1-J3 in SURVEY.md §2.3).

Reference semantics (timeseries/base.py:146-221):
- J1 ``_get_platform_channel``: match on lower(trim(name)) equality AND
  type equality AND rate within ±2% — ``abs(1 - rate/existing_rate) < 0.02``
  — first match wins (base.py:188-198).
- J2 ``_get_channel_object``: same intended predicate against channels
  created earlier in the run.  (The reference has an operator-precedence
  bug at base.py:216 — ``abs(1 - (ratio < 0.02))`` — we implement the
  intended semantics per SURVEY.md §7.3.)
- J3 ``get_or_create_channel``: platform lookup, then intra-batch lookup,
  else create with the next index (base.py:146-176).

Spark-first expression: the band predicate conjoined with two equalities is
an equi-join on (name_norm, type) with a residual range filter — Catalyst
plans a broadcast hash join when the registry side is small (it always is:
channel dims are thousands of rows vs billions of samples).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RATE_BAND = 0.02  # ±2% (reference base.py:193)


def norm_name(col):
    """lower(trim(name)) — the reference's match key normalization
    (base.py:191, P6)."""
    return F.lower(F.trim(col))


def match_existing_channels(incoming: DataFrame, existing: DataFrame) -> DataFrame:
    """J1: left-join incoming signals to the platform channel registry.

    ``incoming``: name, rate, type (+ anything else).
    ``existing``: id, name, rate, type (+ metadata).
    Output: incoming columns + matched ``existing_id`` / ``existing_rate``
    (null when no match).  First match wins, deterministically: ties broken
    by smallest existing id.
    """
    inc = incoming.alias("i")
    ex = (
        existing.select(
            F.col("id").alias("existing_id"),
            norm_name(F.col("name")).alias("e_name"),
            F.upper(F.trim(F.col("type"))).alias("e_type"),
            F.col("rate").alias("existing_rate"),
        )
    ).alias("e")

    cond = (
        (norm_name(F.col("i.name")) == F.col("e.e_name"))
        & (F.upper(F.trim(F.col("i.type"))) == F.col("e.e_type"))
        & (F.abs(F.lit(1.0) - F.col("i.rate") / F.col("e.existing_rate")) < RATE_BAND)
    )
    # Registry is a dimension table — force broadcast so the samples-side
    # never shuffles for this lookup.
    joined = inc.join(F.broadcast(ex), cond, "left")

    # "first match wins": deterministic = lowest existing_id per incoming row.
    w = Window.partitionBy(*[F.col(f"i.{c}") for c in incoming.columns]).orderBy(
        F.col("existing_id").asc_nulls_last()
    )
    return (
        joined.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "e_name", "e_type")
    )


def dedup_incoming_channels(incoming: DataFrame) -> DataFrame:
    """J2 (intended semantics): consolidate near-duplicate signals within a
    batch — same (lower(trim(name)), type) and rates within the ±2% band
    collapse to one channel row (the first occurrence's rate/unit win).

    The band is implemented exactly: a candidate joins an earlier canonical
    row only if ``abs(1 - canonical_rate/rate) < band``.  Within one
    (name,type) group rates are near-identical in practice; for full
    generality we take the group's first-seen row as canonical and keep
    outliers (rate outside the band vs canonical) as separate channels.
    "First" is the lowest ``signal_idx``, ties going to the first
    ``file`` by name, so the canonical row does not depend on the order
    rows arrive in.
    """
    key = [norm_name(F.col("name")).alias("_name_key"), F.upper(F.trim(F.col("type"))).alias("_type_key")]
    df = incoming.select("*", *key)
    w = Window.partitionBy("_name_key", "_type_key").orderBy("signal_idx", "file")
    df = df.withColumn("_canonical_rate", F.first("rate").over(w))
    in_band = F.abs(F.lit(1.0) - F.col("_canonical_rate") / F.col("rate")) < RATE_BAND
    df = df.withColumn("_dup_rank", F.row_number().over(w))
    return (
        df.filter((F.col("_dup_rank") == 1) | ~in_band)
        .drop("_name_key", "_type_key", "_canonical_rate", "_dup_rank")
    )


def get_or_create_channels(
    incoming: DataFrame, existing: DataFrame | None = None
) -> DataFrame:
    """J3: the full get-or-create — platform match (append mode), intra-batch
    dedup, then id assignment for novel channels.

    ``incoming``: one row per signal — ``file, signal_idx, name, unit,
    rate, type`` (``build_channel_metadata``'s per-signal rows).
    Output: one row per distinct channel with ``id`` (existing platform id
    or a deterministic new id ``file#index``) and ``is_new`` flag.
    """
    deduped = dedup_incoming_channels(incoming)
    if existing is not None:
        # The first-match window (partitioned by every incoming column)
        # and the index window below (by file) both cluster on ``file``:
        # hashing by it once lets them share one shuffle.
        matched = match_existing_channels(deduped.repartition("file"), existing)
    else:
        matched = deduped.withColumn("existing_id", F.lit(None).cast("string")).withColumn(
            "existing_rate", F.lit(None).cast("double")
        )

    w = Window.partitionBy("file").orderBy("signal_idx")
    return (
        matched.withColumn("index", F.row_number().over(w) - 1)
        .withColumn("is_new", F.col("existing_id").isNull())
        .withColumn(
            "id",
            F.coalesce(
                F.col("existing_id"),
                F.concat_ws("#", F.col("file"), F.col("index").cast("string")),
            ),
        )
    )
