"""Approximate-nearest-neighbor search over embedding columns.

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  Query side is broadcast (queries << corpus), so the corpus never
  shuffles; per-partition TopK via window row_number.
- ``lsh_topk``: random-hyperplane LSH path for scale — sign-bucket the
  corpus once (deterministic md5-derived hyperplanes, so results are
  reproducible and oracle-checkable), join queries to their bucket, rank
  within bucket. At 100 TB the bucket join replaces the full cross
  product; recall is tunable by n_planes / multi-probe.

All vector math is JVM-side (functions/vectors.py).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import rnd

from ..functions.vectors import cosine, cosine_from_norms, norm

N_PLANES = 6


def bucket_corpus(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    dim: int = 64,
) -> DataFrame:
    """The shared LSH corpus-side index projection: (neighbor_id, _cv,
    _cnorm, _bkt). ``lsh_topk`` and ``multiprobe_lsh_topk`` consume the
    IDENTICAL frame, so callers should build it once, persist it, and
    pass it to both via ``bucketed_corpus=`` — at 100 TB this is the
    index you materialize once per snapshot, not per query. The norm is
    precomputed per ROW here so the per-candidate work in the bucket
    join is only the dot-product fold (``cosine_from_norms``)."""
    planes = hyperplane_signs(n_planes, dim)
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        norm(vec_col).alias("_cnorm"),
        _bucket_expr(F.col(vec_col), planes).alias("_bkt"),
    )


def hyperplane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix derived from md5 — identical
    constants are embedded in the SQL oracle."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane{p}:dim{d}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) >= 8 else -1)
        planes.append(row)
    return planes


def _bucket_expr(vec: Column, planes: list[list[int]]) -> Column:
    """LSH bucket id: concatenated sign bits of plane dot products.

    The plane matrix is embedded as ONE array<array<double>> literal and
    each dot product is a zip_with/aggregate fold — a compact expression
    tree (plan analysis + codegen stay cheap) instead of n_planes×dim
    inline ± terms. The fold is left-associated starting at 0.0, which is
    bit-identical to the oracle's left-associated ±term sum (0.0 + x == x
    and -1.0 * x == -x in IEEE 754).
    """
    planes_lit = F.lit([[float(s) for s in row] for row in planes])
    dots = F.transform(
        planes_lit,
        lambda row: F.aggregate(
            F.zip_with(row, vec, lambda s, x: s * x.cast("double")),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
    )
    return F.concat_ws(
        "", F.transform(dots, lambda d: F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = N_PLANES,
    dim: int = 64,
    pins_out: list | None = None,
    *,
    n_rows: int,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH sign-bucket the corpus
    once (persisted — compute-once across the self-join branches), join
    within buckets, keep pairs with cosine >= threshold.

    At 100 TB the bucket join replaces the |corpus|² cross product; the
    persisted (id, vec, norm, bucket) projection is the only state.
    Round-13: the within-bucket self-join + per-pair interpreted cosine
    fold becomes one ``groupBy(_bkt).applyInArrow`` pass — each pinned
    row crosses the quadratic stage once instead of once per bucket
    partner, and the pair math is vectorized numpy with the bit-exact
    sequential fold + rnd replica (functions/pairwise docstring;
    row-for-row equivalence pinned by tests/test_pairwise_kernel.py).
    The kernel engages only when the expected within-bucket pair count
    pays for the Python boundary (``n_rows``, the corpus size — at 2k
    vectors the kernel measured +0.13 s of pure boundary cost over the
    expression join, while the pair volume that makes it win grows
    quadratically with bucket occupancy); below the cutoff the original
    expression self-join runs. Both paths produce identical rows."""
    from pyspark.storagelevel import StorageLevel

    from ..functions.pairwise import bucket_cosine_pairs

    planes = hyperplane_signs(n_planes, dim)
    e = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm(vec_col).alias("_n"),
        _bucket_expr(F.col(vec_col), planes).alias("_bkt"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if pins_out is not None:
        pins_out.append((e, StorageLevel.MEMORY_AND_DISK))
    # expected total pairs ~ n^2 / 2^planes buckets / 2; kernel pays
    # past ~3M pairs (same economics as pairwise.semdedup_blocks)
    if n_rows * n_rows // (2 << n_planes) < 3_000_000:
        a = e.alias("a")
        b = e.alias("b")
        return (
            a.join(
                b,
                (F.col("a._bkt") == F.col("b._bkt"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .withColumn(
                "cosine_sim",
                rnd(
                    cosine_from_norms(
                        F.col("a._v"),
                        F.col("b._v"),
                        F.col("a._n"),
                        F.col("b._n"),
                    ),
                    6,
                ),
            )
            .filter(F.col("cosine_sim") >= threshold)
            .select(
                F.col("a._id").alias("id1"),
                F.col("b._id").alias("id2"),
                "cosine_sim",
            )
        )
    return bucket_cosine_pairs(e, "_bkt", threshold)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors per query (excluding self).

    Norms are materialized once per ROW on both sides, so the |q|×|c|
    scoring stage pays one dot fold per pair instead of dot + two norm
    folds (``cosine_from_norms`` — value-identical; each corpus row's
    norm was previously re-folded once per query)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm(vec_col).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        norm(vec_col).alias("_cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            rnd(
                cosine_from_norms(
                    "_qv", "_cv", F.col("_qn"), F.col("_cn")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim")
    )


def _probe_codes(code: Column, n_planes: int) -> Column:
    """array<string> of the query's own bucket code plus every code at
    Hamming distance 1 (each sign bit flipped once) — the classic
    multiprobe sequence. Pure string expressions; n_planes+1 codes."""
    probes = [code]
    for i in range(n_planes):
        flipped = F.when(
            F.substring(code, i + 1, 1) == "1", F.lit("0")
        ).otherwise(F.lit("1"))
        probes.append(
            F.concat(
                F.substring(code, 1, i), flipped, F.substring(code, i + 2, n_planes)
            )
        )
    return F.array(*probes)


def multiprobe_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = N_PLANES,
    dim: int = 64,
    bucketed_corpus: DataFrame | None = None,
) -> DataFrame:
    """Multiprobe LSH top-k (Lv et al. 2007): each query probes its own
    bucket AND every bucket at Hamming distance 1 in sign-code space —
    n_planes+1 buckets instead of 1 — trading a bounded candidate-set
    increase ((n_planes+1)/2^n_planes of the corpus in expectation) for
    a recall jump that single-bucket LSH cannot reach when true
    neighbors sit at moderate cosine (each plane then disagrees with
    probability well above 0; at cos~0.45, the per-plane collision
    prob is ~0.65 and single-bucket recall collapses to 0.65^n_planes
    — measured 0.05 on the synthetic corpus vs 0.20 for radius-1
    multiprobe, a 4x repair; see tests). Candidates are deduped on
    (query, neighbor) before ranking, so a neighbor reachable through
    several probes scores once."""
    planes = hyperplane_signs(n_planes, dim)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm(vec_col).alias("_qnorm"),
        F.explode(
            _probe_codes(_bucket_expr(F.col(vec_col), planes), n_planes)
        ).alias("_bkt"),
    )
    c = (
        bucketed_corpus
        if bucketed_corpus is not None
        else bucket_corpus(corpus, id_col, vec_col, n_planes, dim)
    )
    scored = (
        F.broadcast(q)
        .join(c, "_bkt")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn(
            "cosine_sim",
            rnd(
                cosine_from_norms(
                    "_qv", "_cv", F.col("_qnorm"), F.col("_cnorm")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = N_PLANES,
    dim: int = 64,
    bucketed_corpus: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket."""
    planes = hyperplane_signs(n_planes, dim)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm(vec_col).alias("_qnorm"),
        _bucket_expr(F.col(vec_col), planes).alias("_bkt"),
    )
    c = (
        bucketed_corpus
        if bucketed_corpus is not None
        else bucket_corpus(corpus, id_col, vec_col, n_planes, dim)
    )
    scored = (
        F.broadcast(q)
        .join(c, "_bkt")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            rnd(
                cosine_from_norms(
                    "_qv", "_cv", F.col("_qnorm"), F.col("_cnorm")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim")
    )
