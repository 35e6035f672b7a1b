"""Similarity search over the `embeddings` table (array<float>, 64-dim).

- cosine_pairs: brute-force near-dup pairs above a cosine threshold.
- ann_topk_bruteforce: exact top-k neighbors — the correctness baseline.
- ann_ivf_label: IVF-style two-stage search — probe the nearest coarse
  centroid, then search only that cluster.  The scale path: at N vectors
  and C clusters, work drops from O(N) to O(N/C) per query (plus C
  centroid probes); clusters here are the `label` partitions (stand-in
  for k-means cells, which would be trained the same way: elementwise
  avg per cluster).

Float discipline for the DuckDB oracle: embeddings cast to double on both
sides, cosines rounded to 4 decimals BEFORE ordering/thresholding, ties
broken by vec_id — deterministic across engines (sum-order differences are
~1e-13, far below the rounding grain).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from processor_edf_spark.plans.registry import load, register, spread
from processor_edf_spark.materialize import materialize

COSINE_PAIR_THRESHOLD = 0.45
TOPK = 5
IVF_TOPK = 3
N_QUERIES = 10  # vec_id < 10 are the query vectors


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate — JVM-side, no UDF.  Fine for
    per-row work (bucketing, centroid probes); for millions of candidate
    pairs use ``dot_pd`` (Arrow-batched, ~20× faster — higher-order
    functions are interpreted per element, outside codegen)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


@pandas_udf(DoubleType())
def dot_pd(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized pairwise dot product over Arrow batches.

    Summation is an explicit left-to-right column loop — bit-identical to
    the ``F.aggregate`` fold (((0+p₀)+p₁)+…) and to DuckDB's
    list_inner_product, so swapping it into a plan cannot move a
    ROUND(x, 4) boundary.  (np.sum/einsum use pairwise summation — faster
    but a different float result.)"""
    A = np.vstack(a.to_numpy())
    B = np.vstack(b.to_numpy())
    acc = np.zeros(len(A), dtype=np.float64)
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * B[:, i]
    return pd.Series(acc)


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_pd(a, b, norm_a, norm_b) -> Column:
    """Pair-path cosine: batched dot / precomputed per-row norms.
    Identical float ops in identical order to ``cosine`` — norms hoisted
    out of the O(n²) pair loop into the O(n) row pass."""
    return dot_pd(a, b) / (norm_a * norm_b)


def _norms_ltr(M: np.ndarray) -> np.ndarray:
    """Row norms with explicit left-to-right accumulation (bit-identical
    to the Column-expression ``norm``)."""
    acc = np.zeros(len(M), dtype=np.float64)
    for i in range(M.shape[1]):
        acc = acc + M[:, i] * M[:, i]
    return np.sqrt(acc)


def _block_cosines(A: np.ndarray, B: np.ndarray, na: np.ndarray, nb: np.ndarray) -> np.ndarray:
    """All-pairs cosine block: Σᵢ outer(A·ᵢ, B·ᵢ) accumulated dim-by-dim —
    per element this is the same ((p₀+p₁)+p₂)… fold as the expression/
    DuckDB paths (np.dot/einsum would be faster but sum pairwise, a
    DIFFERENT float — parity over peak FLOPs here)."""
    C = np.zeros((len(A), len(B)), dtype=np.float64)
    for i in range(A.shape[1]):
        C += A[:, i][:, None] * B[None, :, i]
    return C / (na[:, None] * nb[None, :])


_COS_SQL = (
    "list_inner_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_inner_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_inner_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)

N_BLOCKS = 8  # distributed all-pairs grid width (tasks = NB·(NB+1)/2)
_SCORE_TILE_BYTES = 128 << 20  # per-task cap on the dense pair-score matrix
# Pre-filter margin for the numpy scoring kernels: the exact threshold is
# re-applied in Spark AFTER ROUND(cos, 4), so the kernel must keep every
# pair that could still round up to the threshold — anything within half
# the rounding quantum (5e-5) below it.  A full quantum of slack costs a
# few extra candidate rows and can never drop a pair the oracle keeps
# (e.g. raw 0.44996 rounds to 0.4500 ≥ 0.45 but fails a 1e-9 margin).
_ROUND_MARGIN = 1e-4


@register(
    "cosine_pairs",
    f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 4) AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 4)
          >= {COSINE_PAIR_THRESHOLD}
    """,
)
def cosine_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact brute force — the quadratic
    baseline (cosine_lsh_pairs is the sub-quadratic scale path).

    Distributed blocked self-join — the textbook exact all-pairs layout,
    with NO driver collect and NO full-matrix broadcast: rows hash into NB
    blocks; the A side replicates each row to block-pairs (b, j≥b), the B
    side to (i≤b, b); a cogroup on the (i, j) grid cell hands each task
    exactly two blocks of N/NB · d input floats each, scored in A-side row
    tiles sized so the dense tile×|B| pair matrix stays ≤ _SCORE_TILE_BYTES
    (128 MB) no matter how big the blocks are.  Memory per task is
    therefore O(N/NB · d) block input + a constant ~128 MB scoring buffer:
    at 1M×64 with NB=8 that is ~64 MB a side + 128 MB, vs ~116 GB for the
    untiled 125k×125k matrix.  Shuffle is N·NB rows a side,
    compute the unavoidable O(N²·d) — spread over NB²/2 independent tasks
    instead of funneled through the driver.  Only (id, id, cos) survivors
    leave Python; final ROUND/threshold stays in Spark so decimal rounding
    is BigDecimal-exact on both engines."""
    (embeddings,) = load(spark, sf_dir, "embeddings")
    thr = COSINE_PAIR_THRESHOLD
    nb = N_BLOCKS
    emb = embeddings.select(
        "vec_id",
        _as_double("embedding").alias("e"),
        (F.crc32(F.col("vec_id").cast("string")) % nb).cast("int").alias("bkt"),
    )
    # A side appears in every grid cell (bkt, j) with j ≥ bkt; B side in
    # (i, bkt) with i ≤ bkt → each unordered block pair meets exactly once.
    a_side = emb.select(
        "vec_id", "e", F.col("bkt").alias("gi"),
        F.explode(F.sequence(F.col("bkt"), F.lit(nb - 1))).alias("gj"),
    )
    b_side = emb.select(
        "vec_id", "e", F.col("bkt").alias("gj"),
        F.explode(F.sequence(F.lit(0), F.col("bkt"))).alias("gi"),
    )

    def score(key, left, right):
        if not len(left) or not len(right):
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_raw": []})
        ida = left["vec_id"].to_numpy()
        A = np.vstack(left["e"].to_numpy())
        idb = right["vec_id"].to_numpy()
        B = np.vstack(right["e"].to_numpy())
        na, nb_ = _norms_ltr(A), _norms_ltr(B)
        # A-side row tiles bound the dense tile×|B| cosine matrix at
        # _SCORE_TILE_BYTES regardless of block size (the full |A|×|B|
        # matrix would be (N/NB)² doubles — 116 GB at 1M rows, NB=8).
        tile = max(1, _SCORE_TILE_BYTES // (max(len(B), 1) * 8))
        out = []
        for s in range(0, len(A), tile):
            t = slice(s, s + tile)
            cos = _block_cosines(A[t], B, na[t], nb_)
            # margin pre-filter only — the exact threshold is re-applied
            # after Spark-side rounding.  Diagonal cell sees each pair
            # twice → dedup with a<b; off-diagonal sees each unordered
            # pair exactly once (A from block i, B from block j) → keep
            # all, normalize order.
            if key[0] == key[1]:
                mask = ida[t][:, None] < idb[None, :]
            else:
                mask = ida[t][:, None] != idb[None, :]
            r, c = np.nonzero(mask & (cos >= thr - _ROUND_MARGIN))
            lo, hi = np.minimum(ida[t][r], idb[c]), np.maximum(ida[t][r], idb[c])
            out.append(pd.DataFrame({"vec_a": lo, "vec_b": hi, "cos_raw": cos[r, c]}))
        return pd.concat(out, ignore_index=True)

    scored = (
        a_side.groupby("gi", "gj")
        .cogroup(b_side.groupby("gi", "gj"))
        .applyInPandas(score, "vec_a long, vec_b long, cos_raw double")
    )
    return scored.select(
        "vec_a", "vec_b", F.round("cos_raw", 4).alias("cos_sim")
    ).filter(F.col("cos_sim") >= thr)


@register(
    "ann_topk_bruteforce",
    f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND({_COS_SQL.format(a='q.embedding', b='c.embedding')}, 4) AS cos_sim
        FROM embeddings q
        JOIN embeddings c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim,
           rnk AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    )
    WHERE rnk <= {TOPK}
    """,
)
def ann_topk_bruteforce(spark, sf_dir):
    """Exact top-k cosine neighbors for the query vectors — broadcast the
    query side (tiny), scan candidates once, per-query top-k via window.
    At scale: queries broadcast to every executor; candidate scan is
    embarrassingly parallel; only k rows per query shuffle for the final
    window."""
    (embeddings,) = load(spark, sf_dir, "embeddings")
    emb = embeddings.select("vec_id", _as_double("embedding").alias("e"))
    qpdf = emb.filter(F.col("vec_id") < N_QUERIES).toPandas()
    qids = qpdf["vec_id"].to_numpy()
    Q = np.vstack(qpdf["e"].to_numpy())
    bc = spark.sparkContext.broadcast((qids, Q))

    def gen(batches):
        qid, Qm = bc.value
        nq = _norms_ltr(Qm)
        for pdf in batches:
            if not len(pdf):
                continue
            cid = pdf["vec_id"].to_numpy()
            C = np.vstack(pdf["e"].to_numpy())
            cos = _block_cosines(C, Qm, _norms_ltr(C), nq)
            r, c = np.nonzero(cid[:, None] != qid[None, :])
            yield pd.DataFrame(
                {"query_id": qid[c], "neighbor_id": cid[r], "cos_raw": cos[r, c]}
            )

    scored = emb.mapInPandas(gen, "query_id long, neighbor_id long, cos_raw double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.select(
            "query_id", "neighbor_id", F.round("cos_raw", 4).alias("cos_sim")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


@register(
    "array_slice_projection",
    """
    SELECT vec_id,
           ROUND(list_aggregate(list_transform(list_slice(embedding, 1, 8),
                                               x -> x::DOUBLE), 'sum'), 4)
             AS head8_sum
    FROM embeddings
    """,
)
def array_slice_projection(spark, sf_dir):
    """P5 array-slice projection (reference ``read_signal(i, start, end)``
    → ``data[start:end]``, edf.py:120-121): ``F.slice`` on the array
    column, folded to a scalar — pure expression work, no shuffle."""
    (embeddings,) = load(spark, sf_dir, "embeddings")
    head = F.transform(F.slice("embedding", 1, 8), lambda x: x.cast("double"))
    return embeddings.select(
        "vec_id",
        F.round(
            F.aggregate(head, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("head8_sum"),
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH: the scale path for cosine_pairs.
# Banded OR-construction (like minhash_lsh_pairs): N_BANDS signatures of
# BITS_PER_BAND sign bits each; a pair is a candidate if ANY band matches.
# For bit-match probability p = 1 - θ/π, recall = 1 - (1 - p^r)^b — at the
# 0.45 threshold (θ≈63°, p≈0.65) the r1 single 8-bit band recalled
# p^8 ≈ 3%; 4 bands × 4 bits recalls 1-(1-0.179)^4 ≈ 55%, rising to >99.9%
# for true near-dups (cos ≥ 0.99).  Hyperplane weights are deterministic
# md5-derived pseudo-randoms computed at plan-build time and embedded as
# literals in BOTH engines' plans, so the bucketing (and therefore the
# result set) is bit-identical.
# ---------------------------------------------------------------------------

N_BANDS = 4
BITS_PER_BAND = 4
N_HYPERPLANES = N_BANDS * BITS_PER_BAND
EMB_DIM = 64


def _hyperplane(h: int) -> list[float]:
    import hashlib

    out = []
    for i in range(EMB_DIM):
        d = int(hashlib.md5(f"hp{h}:{i}".encode()).hexdigest()[:8], 16)
        out.append((d % 2001 - 1000) / 1000.0)
    return out


_PLANES = [_hyperplane(h) for h in range(N_HYPERPLANES)]


def _band_bucket_sql(e: str, band: int) -> str:
    bits = " + ".join(
        f"(CASE WHEN list_inner_product({e}::DOUBLE[], "
        f"[{', '.join(repr(w) for w in _PLANES[band * BITS_PER_BAND + j])}]::DOUBLE[]) >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(BITS_PER_BAND)
    )
    return f"({bits})"


_PLANES_ARR = np.array(_PLANES, dtype=np.float64)  # (N_HYPERPLANES, EMB_DIM)


@pandas_udf(ArrayType(IntegerType()))
def _band_buckets_pd(e: pd.Series) -> pd.Series:
    """All N_BANDS band buckets per row in ONE Arrow batch kernel — the
    r15 replacement for 16 per-row interpreted ``dot`` folds (zip_with +
    aggregate HOFs run outside codegen).  The hyperplane dot products
    accumulate with an explicit left-to-right dimension loop, the exact
    float fold of the Column ``dot`` and DuckDB's list_inner_product (the
    ``dot_pd`` discipline), so every sign bit — and therefore the
    bucketing and the result set — is unchanged bit-for-bit."""
    E = np.vstack(e.to_numpy())
    P = _PLANES_ARR
    acc = np.zeros((len(E), P.shape[0]), dtype=np.float64)
    for i in range(P.shape[1]):
        acc = acc + E[:, i][:, None] * P[None, :, i]
    bits = acc >= 0
    buckets = np.zeros((len(E), N_BANDS), dtype=np.int32)
    for b in range(N_BANDS):
        for j in range(BITS_PER_BAND):
            buckets[:, b] += (1 << j) * bits[:, b * BITS_PER_BAND + j]
    return pd.Series(list(buckets))


# Shared CTE block: banded signatures → DISTINCT candidate pairs → exact
# cosine on candidates only.  cosine_lsh_pairs selects from it directly;
# dedup_embedding_cosine anti-joins against it.
_LSH_PAIRS_CTES = f"""
    bands AS (
        {" UNION ALL ".join(
            f"SELECT vec_id, {b} AS band, {_band_bucket_sql('embedding', b)} AS bucket"
            f" FROM embeddings"
            for b in range(N_BANDS)
        )}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.vec_id < b.vec_id
    ),
    lsh_pairs AS (
        SELECT c.vec_a, c.vec_b,
               ROUND({_COS_SQL.format(a='ea.embedding', b='eb.embedding')}, 4) AS cos_sim
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.vec_a
        JOIN embeddings eb ON eb.vec_id = c.vec_b
        WHERE ROUND({_COS_SQL.format(a='ea.embedding', b='eb.embedding')}, 4)
              >= {COSINE_PAIR_THRESHOLD}
    )
"""


def _lsh_pair_frame(spark, sf_dir):
    """Banded-LSH near-dup pairs as a DataFrame: explode each vector into
    (band, bucket) rows, group by (band, bucket), and score every
    within-bucket pair with the same tiled numpy kernel cosine_pairs uses
    — only (id, id, cos) threshold survivors leave Python.  A pair
    colliding in k>1 bands is scored once per band; BLAS reduction order
    can vary with matrix shape, so the k scores are NOT guaranteed
    bit-identical — the OR-across-bands dedup therefore groups on the
    pair alone and keeps max(cos), never relying on float equality.

    This beats join-then-score candidate generation (equi-join on
    (band, bucket) + pair DISTINCT + embedding join-back + per-pair Arrow
    cosine) by ~2× at sf0.1: no candidate table is ever materialized and
    no per-pair embedding payload crosses a shuffle — the only wide
    shuffle is the N_BANDS× exploded embedding rows into their buckets.
    Scale note: per-group work is m² for bucket size m, so BITS_PER_BAND
    must grow ~log2(N) to hold m bounded — with the threshold this low
    (0.45 ≈ 60°, the flat part of the hyperplane S-curve) that recall/
    candidate trade is intrinsic to LSH, not to this layout."""
    (embeddings,) = load(spark, sf_dir, "embeddings")
    thr = COSINE_PAIR_THRESHOLD
    # spread: the 16 hyperplane-dot folds per row are interpreted (outside
    # codegen) and would serialize in the one-partition single-file scan;
    # no-op when the scan is already wide (registry.spread)
    emb = spread(spark, embeddings).select(
        "vec_id", _as_double("embedding").alias("e")
    )
    # one ArrowEvalPython node computes all four band buckets per row
    # (bit-identical to per-band Column ``dot`` folds — see _band_buckets_pd)
    sig = emb.select(
        "vec_id", "e", _band_buckets_pd(F.col("e")).alias("bks")
    ).select(
        "vec_id", "e", F.posexplode("bks").alias("band", "bucket")
    )

    def score_bucket(pdf):
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_raw": []})
        ids = pdf["vec_id"].to_numpy()
        M = np.vstack(pdf["e"].to_numpy())
        nm = _norms_ltr(M)
        tile = max(1, _SCORE_TILE_BYTES // (max(len(M), 1) * 8))
        out = []
        for s in range(0, len(M), tile):
            t = slice(s, s + tile)
            cos = _block_cosines(M[t], M, nm[t], nm)
            r, c = np.nonzero(
                (ids[t][:, None] < ids[None, :]) & (cos >= thr - _ROUND_MARGIN)
            )
            out.append(
                pd.DataFrame(
                    {"vec_a": ids[t][r], "vec_b": ids[c], "cos_raw": cos[r, c]}
                )
            )
        return pd.concat(out, ignore_index=True)

    scored = sig.groupby("band", "bucket").applyInPandas(
        score_bucket, "vec_a long, vec_b long, cos_raw double"
    )
    return (
        scored.groupBy("vec_a", "vec_b")
        .agg(F.round(F.max("cos_raw"), 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= thr)
    )


@register(
    "cosine_lsh_pairs",
    f"WITH {_LSH_PAIRS_CTES} SELECT vec_a, vec_b, cos_sim FROM lsh_pairs",
)
def cosine_lsh_pairs(spark, sf_dir):
    """Near-dup pairs via banded random-hyperplane LSH ({N_BANDS}=4 bands ×
    {BITS_PER_BAND}=4 sign bits, OR across bands), equi-join on
    (band, bucket), exact cosine only on colliding candidates.  Same shape
    as minhash_lsh_pairs: candidate generation is near-linear in true
    collisions, not quadratic in corpus size — the 100 TB replacement for
    cosine_pairs (whose full cross-join is the exact oracle).  Measured at
    sf0.01 against cosine_pairs' 14 true pairs: 12 recovered (86% recall;
    the 2 misses are mid-similarity pairs near the 0.45 threshold — pairs
    at near-dup similarity are recalled at >99.9% per the banding math in
    the module comment)."""
    return _lsh_pair_frame(spark, sf_dir)


_CENTROID_SQL = """
    centroids AS (
        SELECT label, list(v ORDER BY i) AS centroid
        FROM (
            SELECT label, i, ROUND(AVG(embedding[i]::DOUBLE), 6) AS v
            FROM embeddings
            CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
            GROUP BY label, i
        )
        GROUP BY label
    )
"""


@register(
    "ann_ivf_label",
    f"""
    WITH {_CENTROID_SQL},
    assign AS (
        SELECT query_id, label FROM (
            SELECT q.vec_id AS query_id, c.label,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND({_COS_SQL.format(a='q.embedding', b='c.centroid')}, 4) DESC,
                                c.label ASC) AS rnk
            FROM embeddings q CROSS JOIN centroids c
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rnk = 1
    )
    SELECT query_id, label, neighbor_id, rnk AS rank FROM (
        SELECT a.query_id, a.label, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY a.query_id
                   ORDER BY ROUND({_COS_SQL.format(a='q.embedding', b='e.embedding')}, 4) DESC,
                            e.vec_id ASC) AS rnk
        FROM assign a
        JOIN embeddings e ON e.label = a.label
        JOIN embeddings q ON q.vec_id = a.query_id
        WHERE e.vec_id <> a.query_id
    ) WHERE rnk <= {IVF_TOPK}
    """,
)
def ann_ivf_label(spark, sf_dir):
    """IVF-style ANN: (1) coarse centroids = elementwise mean per cluster,
    (2) assign each query to its nearest centroid, (3) exact search within
    that one cluster.  Probing 1 of C clusters cuts the candidate scan by
    C× — the standard scale path when brute force stops fitting.  Shared
    plan: ``_ivf_search`` (the multiprobe flavor is the same search with
    probes>1)."""
    return _ivf_search(spark, sf_dir, probes=1).select(
        "query_id", "label", "neighbor_id", "rank"
    )


def _ivf_search(spark, sf_dir, probes: int):
    """Shared IVF search: centroids → per-query nearest ``probes``
    centroids (broadcast, no shuffle) → exact top-k over the union of the
    probed clusters.  Returns (query_id, label, neighbor_id, cos_sim,
    rank); callers project their contract columns."""
    (embeddings,) = load(spark, sf_dir, "embeddings")
    emb = embeddings.select(
        "vec_id",
        "label",
        _as_double("embedding").alias("e"),
        norm(_as_double("embedding")).alias("nrm"),
    )

    # (1) centroids: posexplode → avg per (label, dim) → re-assemble ordered
    dims = emb.select("label", F.posexplode("e").alias("i", "x"))
    centroid = (
        dims.groupBy("label", "i")
        .agg(F.round(F.avg("x"), 6).alias("v"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "v"))), lambda s: s["v"]
            ).alias("centroid")
        )
    )

    # (2) nearest `probes` centroids per query (C is tiny → broadcast)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("eq"),
        F.col("nrm").alias("nq"),
    )
    w_assign = Window.partitionBy("query_id").orderBy(
        F.col("c_sim").desc(), F.col("label").asc()
    )
    assign = (
        q.crossJoin(F.broadcast(centroid))
        .select(
            "query_id",
            "label",
            "eq",
            "nq",
            F.round(cosine(F.col("eq"), F.col("centroid")), 4).alias("c_sim"),
        )
        .withColumn("rnk", F.row_number().over(w_assign))
        .filter(F.col("rnk") <= probes)
        .select("query_id", "label", "eq", "nq")
    )

    # (3) exact top-k inside the probed cluster(s) only; each vector lives
    # in exactly one cluster, so the probed union needs no dedup
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("e").alias("ec"),
        F.col("nrm").alias("nc"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.join(F.broadcast(assign), "label")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "label",
            "neighbor_id",
            F.round(
                cosine_pd(F.col("eq"), F.col("ec"), F.col("nq"), F.col("nc")), 4
            ).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= IVF_TOPK)
    )


IVF_PROBES = 3


@register(
    "ann_ivf_multiprobe",
    f"""
    WITH {_CENTROID_SQL},
    assign AS (
        SELECT query_id, label FROM (
            SELECT q.vec_id AS query_id, c.label,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND({_COS_SQL.format(a='q.embedding', b='c.centroid')}, 4) DESC,
                                c.label ASC) AS rnk
            FROM embeddings q CROSS JOIN centroids c
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rnk <= {IVF_PROBES}
    )
    SELECT query_id, neighbor_id, rnk AS rank FROM (
        SELECT a.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY a.query_id
                   ORDER BY ROUND({_COS_SQL.format(a='q.embedding', b='e.embedding')}, 4) DESC,
                            e.vec_id ASC) AS rnk
        FROM assign a
        JOIN embeddings e ON e.label = a.label
        JOIN embeddings q ON q.vec_id = a.query_id
        WHERE e.vec_id <> a.query_id
    ) WHERE rnk <= {IVF_TOPK}
    """,
)
def ann_ivf_multiprobe(spark, sf_dir):
    """Multi-probe IVF ANN: like ``ann_ivf_label`` but each query probes
    its IVF_PROBES (=3) nearest coarse centroids and ranks over the
    UNION of those clusters — the standard recall knob (nprobe in FAISS
    terms): recall rises toward exact as P→C while the candidate scan stays
    N·P/C.  Plan shape is identical to the single-probe flavor (broadcast
    centroids → broadcast the tiny probe assignment into the cluster-
    partitioned candidate scan → per-query top-k window); each vector lives
    in exactly one cluster, so the probed union needs no dedup."""
    return _ivf_search(spark, sf_dir, probes=IVF_PROBES).select(
        "query_id", "neighbor_id", "rank"
    )


@register(
    "quantize_embeddings_int8",
    """
    SELECT vec_id, i - 1 AS dim,
           CASE WHEN mx = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(ROUND(x / (mx / 127.0)) AS BIGINT) END AS q,
           ROUND(mx / 127.0, 6) AS scale
    FROM (
        SELECT vec_id,
               list_aggregate(list_transform(embedding, v -> abs(v::DOUBLE)), 'max') AS mx,
               unnest(list_transform(embedding, v -> v::DOUBLE)) AS x,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings
    )
    """,
)
def quantize_embeddings_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization — the storage/bandwidth op a
    training pipeline runs before shipping embeddings to an ANN index or
    a feature store: scale = max|x|/127, q = round(x/scale) ∈ [-127,127].
    Emitted long-format (vec_id, dim, q, scale) so every value is a scalar
    the oracle hashes exactly; 4× compression with dequant error ≤ scale/2
    per element.  Pure column expressions — array_max/transform + one
    posexplode, no shuffle at all (the plan is scan → project → generate;
    partition-local, embarrassingly parallel at any scale).  All-zero
    vectors quantize to q=0 with scale=0 on both engines."""
    (embeddings,) = load(spark, sf_dir, "embeddings")
    e = _as_double("embedding")
    mx = F.array_max(F.transform(e, lambda v: F.abs(v)))
    return (
        embeddings.select(
            "vec_id",
            F.col("embedding"),
            mx.alias("mx"),
            F.posexplode(e).alias("dim", "x"),
        )
        .select(
            "vec_id",
            "dim",
            F.when(F.col("mx") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.round(F.col("x") / (F.col("mx") / F.lit(127.0)), 0).cast("long")
            )
            .alias("q"),
            F.round(F.col("mx") / F.lit(127.0), 6).alias("scale"),
        )
    )


@register(
    "dedup_embedding_cosine",
    f"""
    WITH {_LSH_PAIRS_CTES}
    SELECT e.vec_id, e.label
    FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT vec_b FROM lsh_pairs)
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup DEDUP, explicitly LSH-BOUNDED (not exact):
    drop each vector for which the banded-LSH pair set contains a similar
    lower-id vector — keep-first-survivor over ``cosine_lsh_pairs``' pairs,
    NOT over all true pairs.  Duplicates the banding misses survive; with
    4 bands × 4 bits that is <0.1% of true near-dups at cos ≥ 0.99 (see
    the banding math in the module comment), the standard recall/cost
    trade every production LSH dedup makes.  The exact-quadratic policy is
    recoverable by swapping in ``cosine_pairs`` unchanged.  The oracle
    mirrors the identical deterministic bucketing, so both engines see the
    same pair set.  Nothing in this lineage collects to the driver or goes
    O(N²): the 100 TB-safe composition.  Dominated ids → LEFT ANTI join
    back to the table (shuffle anti-join; no broadcast hint — the
    dominated side is O(duplicates), unbounded at scale, so AQE picks the
    strategy from runtime stats)."""
    (embeddings,) = load(spark, sf_dir, "embeddings")
    dominated = (
        _lsh_pair_frame(spark, sf_dir)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return embeddings.join(dominated, "vec_id", "left_anti").select(
        "vec_id", "label"
    )


SEMDEDUP_THETA = 0.30
# Per-cluster pair scoring is |c|² — fine under SemDeDup's balanced-k-means
# assumption, quadratic in a hot cluster without it.  Clusters above this
# row count are sub-split by hash(vec_id) so no single task ever scores
# more than max_cluster² pairs; pairs straddling sub-buckets are then NOT
# compared (a documented recall trade on pathological clusters only —
# under the cap the semantics are exactly the uncapped ones).
SEMDEDUP_MAX_CLUSTER = 1 << 14


def _semdedup_survivors(embeddings, max_cluster: int = SEMDEDUP_MAX_CLUSTER):
    """Core of semdedup_label, parameterized for tests: survivors
    (vec_id, label) after dominated-vector removal, with oversized
    clusters hash-sub-split per :data:`SEMDEDUP_MAX_CLUSTER`.

    Pair scoring ships each vector ONCE per (label, sub) group into an
    applyInPandas kernel (the cosine_pairs block layout) instead of
    materializing |c|² pair rows each carrying BOTH embeddings through
    Arrow — the pair join moved O(|c|²·d) floats across the Python
    boundary to score O(|c|²) cosines; the group kernel moves O(|c|·d).
    Float parity is the module's standard: ``_block_cosines`` +
    ``_norms_ltr`` accumulate left-to-right exactly like the
    ``cosine_pd``/``norm`` fold they replace, the kernel pre-filters at
    a ``_ROUND_MARGIN`` slack only, and the exact ROUND(cos, 4) ≥ θ
    threshold is re-applied in Spark."""
    emb = embeddings.select(
        "vec_id", "label", _as_double("embedding").alias("e")
    )
    # one row per cluster — tiny next to the corpus; plain join, AQE
    # broadcasts it from runtime stats
    sizes = emb.groupBy("label").agg(F.count(F.lit(1)).alias("c_sz"))
    keyed = emb.join(sizes, "label").withColumn(
        "sub",
        F.pmod(
            F.hash("vec_id"),
            F.greatest(
                F.lit(1), F.ceil(F.col("c_sz") / max_cluster).cast("int")
            ),
        ),
    )

    def score(pdf):
        ids = pdf["vec_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"vec_id": [], "cos_raw": []})
        E = np.vstack(pdf["e"].to_numpy())
        nrm = _norms_ltr(E)
        tile = max(1, _SCORE_TILE_BYTES // (max(len(E), 1) * 8))
        out = []
        for s in range(0, len(E), tile):
            t = slice(s, s + tile)
            cos = _block_cosines(E[t], E, nrm[t], nrm)
            mask = ids[t][:, None] < ids[None, :]
            r, c = np.nonzero(
                mask & (cos >= SEMDEDUP_THETA - _ROUND_MARGIN)
            )
            out.append(
                pd.DataFrame({"vec_id": ids[c], "cos_raw": cos[r, c]})
            )
        return pd.concat(out, ignore_index=True)

    dominated = (
        keyed.groupBy("label", "sub")
        .applyInPandas(score, "vec_id long, cos_raw double")
        .filter(F.round("cos_raw", 4) >= SEMDEDUP_THETA)
        .select("vec_id")
        .distinct()
    )
    return emb.join(dominated, "vec_id", "left_anti").select("vec_id", "label")


@register(
    "semdedup_label",
    f"""
    WITH dup AS (
        SELECT DISTINCT b.vec_id AS dup_id
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ROUND({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 4)
              >= {SEMDEDUP_THETA}
    )
    SELECT e.vec_id, e.label
    FROM embeddings e
    LEFT JOIN dup ON dup.dup_id = e.vec_id
    WHERE dup.dup_id IS NULL
    """,
)
def semdedup_label(spark, sf_dir):
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    exact cosine dedup INSIDE pre-assigned clusters (here the label column,
    which also serves as the IVF coarse partition) — a vector is dropped if
    any lower-id vector in the SAME cluster has round(cos, 4) ≥
    {SEMDEDUP_THETA} (the keep-lowest-id "dominated" policy shared with
    ``dedup_embedding_cosine``; the transitive-closure flavor lives in
    ``operators/components.py``).

    The cluster bound is the scale story: the quadratic runs per cluster
    (O(Σ|c|²·d), not O(N²·d)) via a self-equi-join on label that both
    engines hash-partition, so each executor scores only co-clustered
    pairs — with C balanced clusters that is a C× cut, the standard
    recipe at 100 TB where even LSH candidate sets get large.  Clusters
    above {SEMDEDUP_MAX_CLUSTER} rows (balance assumption violated) are
    hash-sub-split so no task is ever quadratic in a hot cluster — see
    :func:`_semdedup_survivors`; below the cap (all driver scales) the
    split is the identity.  Measured at sf0.01 (θ={SEMDEDUP_THETA}):
    111 same-label pairs → 95 dominated → 405 survivors.  Pair scoring
    uses the Arrow-batched ``cosine_pd`` with hoisted norms —
    bit-identical to the oracle's list_inner_product fold."""
    (embeddings,) = load(spark, sf_dir, "embeddings")
    return _semdedup_survivors(embeddings)


_NORM_SQL = "sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))"


@register(
    "embedding_norm_stats",
    f"""
    SELECT label, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(ROUND(nrm, 4) AS DECIMAL(28,4))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_norm,
           MIN(ROUND(nrm, 4)) AS min_norm,
           MAX(ROUND(nrm, 4)) AS max_norm
    FROM (SELECT label, {_NORM_SQL} AS nrm FROM embeddings)
    GROUP BY label
    """,
)
def embedding_norm_stats(spark, sf_dir):
    """Per-cluster L2-norm statistics — the standard embedding-table health
    check before similarity work (un-normalized or collapsed clusters show
    up immediately as avg/min/max outliers).  One linear pass: the norm is
    a per-row JVM fold (no UDF), the aggregate is a partial groupBy on
    label.  avg uses the money_avg discipline (round-4 → exact decimal sum
    → one double division) so the cross-engine compare is exact."""
    (embeddings,) = load(spark, sf_dir, "embeddings")
    nrm = embeddings.select(
        "label", norm(_as_double("embedding")).alias("nrm")
    )
    return nrm.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.round(F.col("nrm"), 4).cast("decimal(28,4)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_norm"),
        F.min(F.round(F.col("nrm"), 4)).alias("min_norm"),
        F.max(F.round(F.col("nrm"), 4)).alias("max_norm"),
    )


KNN_K = 5


@register(
    "knn_graph_bruteforce",
    f"""
    WITH scored AS (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               ROUND({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 4) AS cos_sim
        FROM embeddings a
        JOIN embeddings b ON a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, cos_sim, rnk AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    )
    WHERE rnk <= {KNN_K}
    """,
)
def knn_graph_bruteforce(spark, sf_dir):
    """Exact k-NN graph: the top-{KNN_K} cosine neighbors of EVERY vector
    (not just a query set) — the building block for embedding-based
    curation (SemDeDup's cluster seeding, graph-based diversity sampling,
    kNN-LM indexing).  ann_topk_bruteforce broadcasts a tiny query side;
    here every vector is a query, so the layout is the cosine_pairs
    blocked self-join grid instead: rows hash into {N_BLOCKS} blocks,
    each unordered block pair meets in exactly one cogroup task, and each
    task emits per-row BLOCK-LOCAL top-k candidates (k per row per block,
    with a {_ROUND_MARGIN} raw-cosine margin so the later exact rounding
    can never promote a dropped candidate past a kept one — the
    cosine-boundary discipline of _ROUND_MARGIN).  The global per-vector
    top-k then ranks only {N_BLOCKS}·k(+margin ties) partials per vector
    — a per-key window over a few dozen rows, never the full candidate
    matrix.  Off-diagonal cells emit both directions (A rows vs B block
    and B rows vs A block) from the same tile, so the O(N²·d) compute is
    still done once per unordered pair.

    Scale: shuffle is N·{N_BLOCKS} replicated rows a side + N·{N_BLOCKS}·k
    partials; per-task memory is two blocks + the tiled score buffer
    (≤ _SCORE_TILE_BYTES).  The quadratic is intrinsic to an EXACT kNN
    graph — the sub-quadratic variant is this same partial-top-k shape
    sourced from LSH buckets (cosine_lsh_pairs) or IVF cells
    (ann_ivf_label) instead of the full grid."""
    (embeddings,) = load(spark, sf_dir, "embeddings")
    k = KNN_K
    nb = N_BLOCKS
    emb = embeddings.select(
        "vec_id",
        _as_double("embedding").alias("e"),
        (F.crc32(F.col("vec_id").cast("string")) % nb).cast("int").alias("bkt"),
    )
    a_side = emb.select(
        "vec_id", "e", F.col("bkt").alias("gi"),
        F.explode(F.sequence(F.col("bkt"), F.lit(nb - 1))).alias("gj"),
    )
    # b-side columns get fresh names (fresh attribute ids): a cogroup of
    # two branches of the SAME plan with a window downstream trips
    # Catalyst into pruning the right child to its grouping keys only
    # (observed on Spark 4.1: right arrives as just (gj, gi)); aliasing
    # breaks the attribute sharing and the pruning leaves the data
    # columns alone.
    b_side = emb.select(
        F.col("vec_id").alias("bv_id"),
        F.col("e").alias("be"),
        F.col("bkt").alias("gj"),
        F.explode(F.sequence(F.lit(0), F.col("bkt"))).alias("gi"),
    )

    def emit_rowwise_topk(ids_q, cos, ids_c, mask):
        """Block-local per-row top-k with the rounding margin: keep every
        candidate within _ROUND_MARGIN of the row's k-th largest raw
        cosine (candidates whose rounded value could tie into the top-k)."""
        neg = np.where(mask, cos, -np.inf)
        if neg.shape[1] > k:
            kth = np.partition(neg, neg.shape[1] - k, axis=1)[:, neg.shape[1] - k]
        else:
            kth = np.full(len(neg), -np.inf)
        keep = neg >= (kth[:, None] - _ROUND_MARGIN)
        r, c = np.nonzero(keep & mask & np.isfinite(neg))
        return pd.DataFrame(
            {"q_id": ids_q[r], "n_id": ids_c[c], "cos_raw": cos[r, c]}
        )

    def partial(key, left, right):
        if not len(left) or not len(right):
            return pd.DataFrame({"q_id": [], "n_id": [], "cos_raw": []})
        ida = left["vec_id"].to_numpy()
        A = np.vstack(left["e"].to_numpy())
        idb = right["bv_id"].to_numpy()
        B = np.vstack(right["be"].to_numpy())
        na, nb_ = _norms_ltr(A), _norms_ltr(B)
        tile = max(1, _SCORE_TILE_BYTES // (max(len(B), 1) * 8))
        out = []
        for s in range(0, len(A), tile):
            t = slice(s, s + tile)
            cos = _block_cosines(A[t], B, na[t], nb_)
            not_self = ida[t][:, None] != idb[None, :]
            out.append(emit_rowwise_topk(ida[t], cos, idb, not_self))
            if key[0] != key[1]:
                # same tile, transposed: B rows' candidates from block A
                out.append(emit_rowwise_topk(idb, cos.T, ida[t], not_self.T))
        return pd.concat(out, ignore_index=True)

    scored = (
        a_side.groupby("gi", "gj")
        .cogroup(b_side.groupby("gi", "gj"))
        .applyInPandas(partial, "q_id long, n_id long, cos_raw double")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.select(
            F.col("q_id").alias("vec_id"),
            F.col("n_id").alias("neighbor_id"),
            F.round("cos_raw", 4).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


@register(
    "knn_graph_lsh",
    f"""
    WITH {_LSH_PAIRS_CTES},
    sym AS (
        SELECT vec_a AS vec_id, vec_b AS neighbor_id, cos_sim FROM lsh_pairs
        UNION ALL
        SELECT vec_b AS vec_id, vec_a AS neighbor_id, cos_sim FROM lsh_pairs
    )
    SELECT vec_id, neighbor_id, cos_sim, rnk AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
        FROM sym
    )
    WHERE rnk <= {KNN_K}
    """,
)
def knn_graph_lsh(spark, sf_dir):
    """Approximate kNN graph — the 100 TB replacement for
    knn_graph_bruteforce: neighbor candidates come from the banded
    hyperplane LSH buckets (cosine_lsh_pairs' shape) instead of the full
    O(N²) grid, then the per-vector top-{KNN_K} ranks only LSH survivors.
    Same recall contract as cosine_lsh_pairs (>99.9% at near-dup
    similarity, thinning toward the {COSINE_PAIR_THRESHOLD} threshold),
    and the candidate set is deterministic (fixed hyperplanes), so the
    approximation itself is oracle-checkable — both engines rank the
    SAME candidate pairs.  Cost: the banded explode shuffle + per-bucket
    m² scoring + a per-key window over each vector's few collisions —
    near-linear in true collisions, vs the grid's intrinsic quadratic.
    The pair frame feeds BOTH directions of the symmetrization union —
    checkpointed so the bucket+score pipeline runs once, not twice."""
    pairs = materialize(_lsh_pair_frame(spark, sf_dir))
    sym = pairs.select(
        F.col("vec_a").alias("vec_id"),
        F.col("vec_b").alias("neighbor_id"),
        "cos_sim",
    ).unionAll(
        pairs.select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("neighbor_id"),
            "cos_sim",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
    )


@register(
    "embedding_dim_stats",
    """
    SELECT dim,
           ROUND(CAST(SUM(CAST(ROUND(v, 4) AS DECIMAL(28,4))) AS DOUBLE)
                 / COUNT(*), 4) AS mean_v,
           MIN(ROUND(v, 4)) AS min_v,
           MAX(ROUND(v, 4)) AS max_v
    FROM (
        SELECT CAST(i - 1 AS INT) AS dim, embedding[i]::DOUBLE AS v
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
    )
    GROUP BY dim
    """,
)
def embedding_dim_stats(spark, sf_dir):
    """Per-DIMENSION statistics over the embedding column — the
    column-health companion to embedding_norm_stats' per-vector audit: a
    dead dimension (zero variance), a saturated one, or a mean far off
    zero shows up here before it poisons similarity search or
    quantization ranges (quantize_embeddings_int8 buys its int8 range
    from exactly these min/max).

    posexplode → one partial-aggregated groupBy over d=64 keys: the
    shuffle carries d partial states per task regardless of N.  The mean
    uses the money_avg discipline (round-4 → exact decimal sum → one
    double division) so the cross-engine compare is exact."""
    (embeddings,) = load(spark, sf_dir, "embeddings")
    dims = spread(spark, embeddings).select(
        F.posexplode(_as_double("embedding")).alias("dim", "v")
    )
    return dims.groupBy("dim").agg(
        F.round(
            F.sum(F.round(F.col("v"), 4).cast("decimal(28,4)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_v"),
        F.min(F.round(F.col("v"), 4)).alias("min_v"),
        F.max(F.round(F.col("v"), 4)).alias("max_v"),
    )
