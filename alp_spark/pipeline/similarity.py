"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k is the correctness baseline; the scale path is
sign-random-projection LSH bucketing, which turns the O(N·Q) scan into
a bucket-co-partitioned join. Dot products stay JVM-side via
``zip_with`` + ``aggregate`` (whole-stage codegen over the array), cast
to double in array order so the DuckDB oracle (list_dot_product over
DOUBLE[]) reproduces sums bit-for-bit.

Scale notes: the query side is broadcast through the one gate, sized by
``n_queries`` (top-k search is Q ≪ N); the
candidate scan is embarrassingly parallel over the embedding table's
partitions; per-partition top-k happens inside the window's partial
sort before the final k-row shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.blas2 import broadcast_if_fits


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in array order, double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    emb: DataFrame,
    k: int = 3,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k neighbours for the first ``n_queries`` ids.

    Returns (query_id, rank, neighbor_id, cos) — cos rounded to 1e-5,
    rank by unrounded cosine with neighbor-id tiebreak.
    """
    q = broadcast_if_fits(
        emb.where(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        ),
        n_queries,
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            F.round("_cos", 5).alias("cos"),
        )
    )


def cosine_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, id_a < id_b.

    ``candidates``: optional (id_a, id_b) pair table (e.g. from
    :func:`srp_candidate_pairs`) — exact cosine is computed for ONLY
    those pairs via two id-equi-joins (LSH-then-verify, the 100 TB
    path). ``block_col``: optional blocking key restricting comparisons
    to same-block pairs. Omit both for exact all-pairs at small scale.
    """
    if candidates is not None:
        # norms are per-vector, not per-pair: compute them ONCE in the
        # projections so the verify costs one dot per candidate pair
        # (the expression dot/(norm_a*norm_b) is float-identical to
        # cosine(), so SQL oracles keep the plain cosine formula)
        j = (
            candidates.join(
                emb.select(
                    F.col(id_col).alias("id_a"),
                    F.col(vec_col).alias("_va"),
                    _norm(F.col(vec_col)).alias("_na"),
                ),
                on="id_a",
            )
            .join(
                emb.select(
                    F.col(id_col).alias("id_b"),
                    F.col(vec_col).alias("_vb"),
                    _norm(F.col(vec_col)).alias("_nb"),
                ),
                on="id_b",
            )
        )
        return (
            j.select(
                "id_a",
                "id_b",
                (_dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))).alias("_cos"),
            )
            .where(F.col("_cos") >= threshold)
            .select("id_a", "id_b", F.round("_cos", 5).alias("cos"))
        )
    cols = [F.col(id_col), F.col(vec_col)] + (
        [F.col(block_col)] if block_col else []
    )
    base = emb.select(*cols)
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        *([F.col(block_col)] if block_col else []),
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        *([F.col(block_col)] if block_col else []),
    )
    on = [block_col] if block_col else None
    joined = a.join(b, on=on) if on else a.crossJoin(b)
    return (
        joined.where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("_cos"))
        .where(F.col("_cos") >= threshold)
        .select("id_a", "id_b", F.round("_cos", 5).alias("cos"))
    )


def srp_planes(dim: int, n_planes: int = 8, seed: int = 7) -> np.ndarray:
    """The deterministic SRP hyperplane sample — exposed so SQL oracles
    can bake the identical float64 literals into their plans."""
    return np.random.RandomState(seed).standard_normal((n_planes, dim))


def srp_bits(vec: Column, dim: int, n_planes: int, seed: int = 7) -> Column:
    """All ``n_planes`` SRP sign bits of an embedding as one bit string,
    via ONE Arrow-batched pandas UDF (the sanctioned UDF escape hatch:
    n_planes interpreted higher-order ``aggregate`` lambdas per row were
    the hot spot, and unrolled literal expressions blow up codegen past
    32 planes). The accumulation loops dimensions EXPLICITLY so each dot
    is the same left-to-right float64 sum as ``_dot`` / DuckDB's
    list_dot_product — sign bits stay bit-identical across engines."""
    from pyspark.sql.functions import pandas_udf

    planes = srp_planes(dim, n_planes, seed)

    @pandas_udf("string")
    def _bits(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(v.to_numpy()).astype(np.float64)
        cols = []
        for p in planes:
            acc = np.zeros(len(V))
            for d in range(V.shape[1]):  # sequential in d — order matters
                acc += V[:, d] * p[d]
            cols.append(np.where(acc > 0, "1", "0"))
        return pd.Series(["".join(t) for t in zip(*cols)])

    return _bits(vec)


def srp_bucket(
    vec: Column, dim: int, n_planes: int = 8, seed: int = 7
) -> Column:
    """Sign-random-projection LSH bucket of an embedding as a bit string.

    Hyperplanes are a deterministic ``np.random.RandomState(seed)``
    Gaussian sample baked into the plan as literals — every executor
    (and every rerun) sees identical planes.
    """
    return srp_bits(vec, dim, n_planes, seed)


def srp_candidate_pairs(
    emb: DataFrame,
    dim: int,
    n_bands: int = 4,
    band_bits: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate candidate pairs via banded SRP LSH (the cosine
    analog of MinHash banding): ``n_bands`` independent ``band_bits``-bit
    sign-projection keys per vector; a pair is a candidate when ANY band
    key collides. One explode + one equi-join on (band, key) — never a
    cross product; key space is balanced by construction (random
    hyperplanes), so the join does not skew. Recall/precision tune via
    (n_bands, band_bits): more bits per band prune harder, more bands
    recover recall — raise band_bits at larger corpus sizes.

    Returns distinct (id_a, id_b) with id_a < id_b.
    """
    # Materialize the bit string ONCE behind a named projection before
    # deriving per-band substrings: CollapseProject never inlines a
    # UserDefinedExpression (the Arrow UDF) into multiple consumers, so
    # this guarantees a single UDF evaluation per row instead of relying
    # on Catalyst deduplicating n_bands identical UDF expressions.
    with_bits = emb.select(
        F.col(id_col).alias("doc"),
        srp_bits(F.col(vec_col), dim, n_bands * band_bits, seed).alias("_bits"),
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring(F.col("_bits"), b * band_bits + 1, band_bits).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    keyed = with_bits.select("doc", F.explode(bands).alias("bk")).select(
        "doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    from .dedup import bucket_pairs

    return bucket_pairs(keyed, "doc", "id_a", "id_b")


def _centroid_structs(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of (dist, cluster) structs against literal centroids —
    squared L2 as the same sequential per-dimension fold kmeans uses, so
    cluster selection ties out bit-for-bit with kmeans assignments."""
    from ..algorithms.kmeans import _sq_dist

    v = F.transform(vec, lambda x: x.cast("double"))
    return F.array(
        *[
            F.struct(
                _sq_dist(v, c).alias("dist"),
                F.lit(j).alias("cluster"),
            )
            for j, c in enumerate(centroids)
        ]
    )


def ivf_assign(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (the IVF "inverted
    list" key): one scan with a literal-broadcast argmin — identical to
    the kmeans assignment pass (kmeans.hpp:309-314), ties to the
    smaller cluster index. Returns (id, cluster)."""
    best = F.array_min(_centroid_structs(F.col(vec_col), centroids))
    return emb.select(
        F.col(id_col).alias("id"), best["cluster"].alias("cluster")
    )


def ivf_topk(
    emb: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    n_queries: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignments: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into kmeans
    cells, probe the ``n_probe`` nearest cells per query, exact-cosine
    rerank inside the probed cells. The centroid-training twin of
    :func:`lsh_ann_topk` — IVF adapts its cells to the data
    distribution where SRP buckets are data-oblivious.

    ``centroids`` come from :func:`alp_spark.algorithms.kmeans` — at
    scale pass ``kpp_sample_cap≈10⁶`` there so the seeding scan runs on
    a deterministic sample instead of the single-partition O(n) window
    (the reference's own kpp is single-node, kmeans.hpp:158-161; Lloyd
    stays fully distributed). ``assignments`` optionally reuses the
    (id, cluster) table kmeans already computed; otherwise one
    assignment scan runs here.

    Scale shape: centroids are k·m literals baked into the plan (no
    shuffle to distribute them); assignment is one embarrassingly
    parallel scan; the probe is an equi-join on the cluster key, so
    work is candidate-proportional — never a cross product. At 100 TB
    use √N cells so each inverted list stays ~√N and the probe join
    fans out to n_probe·√N candidates per query. Cell sizes follow the
    data (unlike SRP's uniform keys): very lopsided clusterings can
    skew the join — AQE skew-join splits oversized cells, and raising
    k (more, smaller cells) is the structural fix.

    Returns (query_id, rank, neighbor_id, cos) like cosine_topk.
    """
    if assignments is None:
        assignments = ivf_assign(emb, centroids, id_col, vec_col)
    cells = assignments.select(
        F.col("id").alias("neighbor_id"), "cluster"
    ).join(
        emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")),
        on="neighbor_id",
    )
    # n_probe nearest cells per query: sort the (dist, cluster) struct
    # array (ascending dist, then cluster — the kmeans tiebreak) and
    # keep the first n_probe; queries are Q ≪ N, so broadcast.
    probes = F.slice(
        F.array_sort(_centroid_structs(F.col(vec_col), centroids)),
        1,
        n_probe,
    )
    q = broadcast_if_fits(
        emb.where(F.col(id_col) < n_queries)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            F.explode(probes).alias("_p"),
        )
        .select("query_id", "_qv", F.col("_p.cluster").alias("cluster")),
        n_queries * n_probe,
    )
    scored = (
        q.join(cells, on="cluster")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            F.round("_cos", 5).alias("cos"),
        )
    )


def lsh_ann_topk(
    emb: DataFrame,
    dim: int,
    k: int = 3,
    n_queries: int = 10,
    n_planes: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: SRP-bucketed candidate generation + exact
    rerank inside the bucket. One equi-join on the bucket key instead
    of a full cross product — the 100 TB-shaped plan (bucket keys are
    uniform by construction, so the join does not skew).
    """
    bucketed = emb.select(
        F.col(id_col), F.col(vec_col), srp_bucket(F.col(vec_col), dim, n_planes, seed).alias("_bkt")
    )
    q = broadcast_if_fits(
        bucketed.where(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"), "_bkt"
        ),
        n_queries,
    )
    c = bucketed.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "_bkt"
    )
    scored = (
        q.join(c, on="_bkt")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_cv")).alias("_cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            F.round("_cos", 5).alias("cos"),
        )
    )


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization for embedding storage: per-vector
    scale = max|v| / 127, codes = floor(v/scale + 0.5) clamped to
    [-127, 127] (explicit half-up floor — portable across engines,
    unlike round()'s half-even). The 4× storage cut is what makes a
    100 TB float32 embedding column a 25 TB int8 one; cosine on
    dequantized codes stays within ~1e-2 of exact. All-zero vectors
    get scale 0 and all-zero codes.

    Pure Column plan — two array folds + one transform per row, no
    shuffle. Returns (id, scale, qvec array<int>). Mirror SQL uses the
    same floor(x + 0.5) form.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = (amax / F.lit(127.0)).alias("scale")
    code = F.when(
        amax == 0.0, F.transform(v, lambda x: F.lit(0).cast("int"))
    ).otherwise(
        F.transform(
            v,
            lambda x: F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.floor(x / (amax / F.lit(127.0)) + F.lit(0.5)).cast("int"),
                ),
            ).cast("int"),
        )
    )
    return emb.select(F.col(id_col).alias("id"), scale, code.alias("qvec"))


def dequantize_embeddings(q: DataFrame) -> DataFrame:
    """(id, scale, qvec) → (id, vec array<double>): codes × scale."""
    return q.select(
        "id",
        F.transform(
            F.col("qvec"), lambda x: x.cast("double") * F.col("scale")
        ).alias("vec"),
    )
