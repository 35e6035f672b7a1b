"""End-to-end batch corpus pipeline — the document-side analog of the
EDF `run_job` flow (`sources/params.py`): one composition that takes a
raw document frame through the standard pre-training sequence

    normalize → rule gate → exact dedup → near-dup dedup (MinHash-LSH
    groups, linear path) → PII scrub → quality columns → split
    assignment

and returns (clean_docs, report), where ``report`` is the per-stage
accounting frame every corpus job publishes: rows in, rows dropped,
rows surviving at each stage — the numbers that make a 100 TB run
auditable.  Every stage is an operator this repo already verifies
individually (normalize_text / gopher_quality_flags / dedup_exact /
dedup_lsh_components have driver-checked oracle queries; redact_pii has
fixture tests), so the composition adds plumbing, not new semantics.

Scale shape: normalize/gate/scrub/quality ride the scan (no shuffle);
exact dedup is one sha shuffle; near-dup is the LINEAR
lsh_components path (bucket-star edges + pointer-jumping components),
never pair enumeration; split assignment is a hash projection.  The
only materialization is one localCheckpoint of the gated frame, reused
by both dedup stages and the survivors join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from processor_edf_spark.operators.lsh_dedup import lsh_dedup_survivors
from processor_edf_spark.operators.redaction import redact_pii
from processor_edf_spark.operators.textfns import hash64, normalized_text
from processor_edf_spark.plans.corpus_extra import gopher_flag_cols
from processor_edf_spark.materialize import materialize


def run_corpus_job(
    spark,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    classifier: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (clean_docs, report).

    ``clean_docs``: (doc_id, text, norm_text, n_words, quality flags …,
    split) — one row per surviving document, text PII-scrubbed.
    ``report``: (stage, rows_in, rows_out, dropped) in pipeline order.

    ``classifier`` (r14, optional): kwargs for
    ``operators.embed.quality_classifier_scores`` (weights / bias /
    threshold / dim / ngram) — when given, a fastText-style
    classifier gate runs AFTER the rule gate (on the normalized text,
    like the rules) and adds a ``classifier_gate`` report row; None
    keeps the r12 pipeline and report exactly.

    The ``report`` frame is LAZY (r14): nothing is counted until the
    caller runs an action on it, and EVERY action recomputes the
    report's aggregation over the pipeline's materialized stage frames
    (values are deterministic, so repeats agree).  A caller that reads
    the report more than once should ``materialize(report)``
    (processor_edf_spark.materialize) after the first use; callers
    that never read it pay nothing."""
    from processor_edf_spark.plans.text_dedup import minhash_buckets_frame

    # 1. normalize + rule gate (shuffle-free projections).  The gate
    # runs on the NORMALIZED text so case/whitespace mangling can't
    # change a document's verdict (the stopword rule is lowercase);
    # the oracle-checked gopher_quality_flags query pins the same flag
    # definitions over raw text as the audit view.
    flags = gopher_flag_cols(normalized_text(F.col(text_col)))
    gated_all = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        normalized_text(F.col(text_col)).alias("norm_text"),
        flags["n_words"].alias("n_words"),
        (
            flags["flag_word_count"]
            & flags["flag_mean_word_len"]
            & flags["flag_alpha_ratio"]
            & flags["flag_stopwords"]
        ).alias("passes"),
    )
    gated = gated_all.filter(F.col("passes")).drop("passes")
    gated = materialize(gated)  # reused 4× below

    # 1b (optional). classifier gate: linear probe over the hashing-
    # trick embedding of the NORMALIZED text; shuffle-free like the
    # rule gate.  Checkpointed for the same three-consumer reason.
    clf_keep = None
    if classifier is not None:
        from processor_edf_spark.operators.embed import (
            quality_classifier_scores,
        )

        clf_keep = materialize(
            quality_classifier_scores(
                gated.select("doc_id", F.col("norm_text").alias("text")),
                **classifier,
            )
            .filter(F.col("keep"))
            .select("doc_id")
        )
        clf = gated.join(clf_keep, "doc_id")
    else:
        clf = gated

    # 2. exact dedup on the NORMALIZED text (lowest doc_id survives).
    # Checkpointed: the keep-set feeds three consumers (the near-dup
    # bucket frame, the clean output's join, and the accounting agg) —
    # without the checkpoint each would re-run the md5 shuffle.
    exact_keep = materialize(
        clf.groupBy(F.md5(F.col("norm_text").cast("binary")).alias("sha"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    exact = gated.join(exact_keep, "doc_id")

    # 3. near-dup dedup: MinHash band buckets → linear bucket-star
    # components → min-id survivor per duplicate group.  Survivor
    # membership comes from the bucket frame, which only contains docs
    # with ≥1 shingle (≥3 tokens) — guaranteed here because the rule
    # gate already floors n_words at GOPHER_MIN_WORDS; a caller reusing
    # this stage WITHOUT the gate must union shingle-less docs back in.
    bucketed = minhash_buckets_frame(
        spark, exact.select("doc_id", F.col("norm_text").alias("text"))
    )
    survivors = lsh_dedup_survivors(bucketed, id_col="doc_id")
    near = exact.join(survivors.select("doc_id"), "doc_id")

    # Per-stage accounting in one aggregation pass over the checkpointed
    # gated frame instead of one count() per stage: membership in the
    # exact stage is a flag from the very join that stage runs.  The
    # near stage is the survivor count itself: survivors hold one
    # distinct doc_id per component and are drawn from the exact keeps
    # by construction.  Counting them on their own, rather than joining
    # them back to gated, saves that join and its shuffle; it also
    # leaves the report's final plan without a join whose strategy AQE
    # picks at run time, so repeated calls reuse its generated classes.
    audited = gated.join(
        exact_keep.withColumn("_ex", F.lit(1)), "doc_id", "left"
    )
    aggs = [
        F.count(F.lit(1)).alias("n1"),
        F.count("_ex").alias("n2"),
    ]
    if clf_keep is not None:
        audited = audited.join(
            clf_keep.withColumn("_cl", F.lit(1)), "doc_id", "left"
        )
        aggs.append(F.count("_cl").alias("n1c"))
    counts = audited.agg(*aggs).crossJoin(
        survivors.agg(F.count(F.lit(1)).alias("n3"))
    )

    # 4. PII scrub + split assignment (projections, no shuffle) — the
    # EXACT split_assignment query construction, so pipeline membership
    # matches the oracle-checked query doc-for-doc
    from processor_edf_spark.plans.text_dedup import (
        SPLIT_BUCKETS,
        SPLIT_TRAIN,
        SPLIT_VAL,
    )

    scrubbed = redact_pii(near, text_col="text")
    bucket = hash64(F.col("doc_id").cast("string"), "split") % SPLIT_BUCKETS
    clean = scrubbed.withColumn(
        "split",
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test"),
    )
    # redact_pii is a regexp-replace chain and the split a projection —
    # both row-preserving by construction, so scrub_and_split reuses n3
    # exactly (a future stage that FILTERS here must move back to
    # counting its own output).
    #
    # The report is a LAZY frame: the raw-input count crossJoins the
    # one-row stage aggregate and stack() pivots the five (six with the
    # classifier) stages out of it — the whole report computes in ONE
    # job at whatever action the caller runs, instead of the two
    # sequential driver actions (docs.count() + the stage collect) the
    # eager build cost, and callers that never read the report pay
    # nothing for it.
    n0_df = docs.agg(F.count(F.lit(1)).cast("long").alias("n0"))
    stage_rows = [
        ("'input'", "n0", "n0"),
        ("'rule_gate'", "n0", "n1"),
    ]
    if clf_keep is not None:
        stage_rows.append(("'classifier_gate'", "n1", "n1c"))
        exact_in = "n1c"
    else:
        exact_in = "n1"
    stage_rows += [
        ("'exact_dedup'", exact_in, "n2"),
        ("'near_dedup_lsh'", "n2", "n3"),
        ("'scrub_and_split'", "n3", "n3"),
    ]
    stack_args = ", ".join(
        f"{s}, CAST({ri} AS LONG), CAST({ro} AS LONG)"
        for s, ri, ro in stage_rows
    )
    report = (
        counts.crossJoin(n0_df)
        .select(
            F.expr(
                f"stack({len(stage_rows)}, {stack_args}) "
                "AS (stage, rows_in, rows_out)"
            )
        )
        .select(
            "stage",
            "rows_in",
            "rows_out",
            (F.col("rows_in") - F.col("rows_out")).alias("dropped"),
        )
    )
    return clean, report


def apply_mix_rates(
    docs: DataFrame,
    rates: DataFrame,
    strata: tuple[str, ...] = ("source", "lang"),
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Execute a mix plan: deterministically thin each stratum to its
    ``sample_rate`` (the ``source_mix_rates`` query output, or any frame
    keyed by ``strata`` with a ``sample_rate`` column).

    A document is kept iff hash64(id, salt) % 1e6 < rate·1e6 — the same
    portable-hash Bernoulli the sample_hash_bucket query pins, so
    membership is reproducible run-over-run, engine-over-engine, and
    auditable from the id alone.  The rates side is stratum-cardinality
    (broadcast); the filter rides the scan.

    The join is a LEFT join with a coalesce to rate 1.0: a stratum that
    exists in ``docs`` but not in ``rates`` (e.g. a source/lang that
    appeared after the rates snapshot was computed) is KEPT in full, not
    silently dropped — thinning only ever applies where the plan says
    so."""
    rate_cols = list(strata) + ["sample_rate"]
    keyed = docs.join(
        F.broadcast(rates.select(*rate_cols)), list(strata), "left"
    ).withColumn("sample_rate", F.coalesce(F.col("sample_rate"), F.lit(1.0)))
    u = F.pmod(
        hash64(F.col(id_col).cast("string"), salt), F.lit(1_000_000)
    )
    return keyed.filter(
        u < (F.col("sample_rate") * 1_000_000)
    ).drop("sample_rate")


def prepare_training_shards(
    spark,
    clean_docs: DataFrame,
    out_dir: str,
    chunk_tokens: int = 64,
    chunk_step: int = 48,
    pack_budget: int = 2048,
    max_records_per_file: int = 100_000,
) -> DataFrame:
    """The last mile after :func:`run_corpus_job`: overlapping-window
    chunk every surviving document, first-fit pack chunks into
    ``pack_budget``-token sequences, and export size-bounded parquet
    shards partitioned by split — the artifact a trainer's loader fleet
    consumes directly.  Returns the packed chunk frame that was written.

    One explode (chunking, rides the scan) + one mapInPandas pass
    (packing, per-partition FFD) + one partitioned streaming write; the
    only shuffle is the optional shard-key repartition inside
    write_training_shards.  Chunk ids are (doc_id, chunk_idx) — stable,
    so a re-export writes identical shards."""
    from processor_edf_spark.operators.packing import pack_sequences
    from processor_edf_spark.operators.textfns import tokens as tok_col
    from processor_edf_spark.sinks.writers import write_training_shards

    t = tok_col(F.col("text"))
    n = F.size(t)
    idx = F.filter(
        F.sequence(
            F.lit(0),
            F.greatest(F.ceil(n / chunk_step).cast("int") - 1, F.lit(0)),
        ),
        lambda i: i * chunk_step < n,
    )
    chunks = (
        clean_docs.select(
            "doc_id", "split", t.alias("t"), F.explode(idx).alias("chunk_idx")
        )
        .select(
            "doc_id",
            "split",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.slice(
                F.col("t"), F.col("chunk_idx") * chunk_step + 1, chunk_tokens
            ).alias("chunk_tokens"),
        )
        .withColumn("n_tokens", F.size("chunk_tokens").cast("long"))
        # chunk_id = doc_id·1e6 + chunk_idx is collision-free ONLY for
        # non-negative doc_ids and <1M chunks/doc (~48M tokens at
        # step 48); outside that envelope the arithmetic would silently
        # collide and corrupt the pack_sequences join — raise instead.
        .withColumn(
            "chunk_id",
            F.when(
                (F.col("chunk_idx") < 1_000_000) & (F.col("doc_id") >= 0),
                F.col("doc_id") * 1_000_000 + F.col("chunk_idx"),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "prepare_training_shards: chunk_id envelope "
                            "violated (need doc_id >= 0 and chunk_idx < "
                            "1e6); got doc_id="
                        ),
                        F.col("doc_id").cast("string"),
                        F.lit(" chunk_idx="),
                        F.col("chunk_idx").cast("string"),
                    )
                ).cast("long")
            ),
        )
    )
    packed = pack_sequences(
        chunks, budget=pack_budget, id_col="chunk_id", len_col="n_tokens"
    )
    out = chunks.join(packed.select("chunk_id", "seq_id", "seq_offset"), "chunk_id")
    write_training_shards(
        out,
        out_dir,
        max_records_per_file=max_records_per_file,
        shard_key="split",
        order_cols=("seq_id", "seq_offset"),
    )
    return out
