"""Deduplication: exact, MinHash+LSH, and n-gram Jaccard.

Scale design
------------
- **exact**: one groupBy on md5(text) — map-side partial agg, one
  shuffle; the hash key (not the text) shuffles, so 100 TB of text
  moves 16 bytes/row.
- **MinHash**: signatures are computed per-row with array expressions
  (shingle → md5 → array_min) — NO explode, NO shuffle; a document's
  signature never leaves its partition until the band join.
- **LSH**: band keys explode to ``num_bands`` rows/doc; the self-join
  on (band, key) is the only shuffle and its key space is uniform
  (md5), so no skew. Candidate pairs then get exact Jaccard.

All hashing is md5-based so the DuckDB oracle reproduces results
byte-for-byte (lexicographic min over hex digests is engine-portable).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens_col


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by text hash.

    Returns (text_hash, keep_id, n_dupes): the canonical survivor
    (min doc_id) and group size per distinct text.
    """
    return (
        docs.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").cast("long").alias("n_dupes"),
        )
    )


def shingles_col(tokens: Column, k: int = 2) -> Column:
    """Word k-shingles of a token array (whole array when shorter).

    Mirror SQL: ``list_transform(generate_series(1, greatest(len(t)-k+1,
    1)), i -> array_to_string(list_slice(t, i, i+k-1), ' '))``.
    """
    idx = F.sequence(F.lit(1), F.greatest(F.size(tokens) - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens, i, k)))


#: Mersenne prime 2^31 - 1 — the modulus of the universal hash family
MINHASH_P = 2_147_483_647


def minhash_params(num_hashes: int, seed: int = 13) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) coefficients of the universal family
    sig_j = (a_j·r + b_j) mod p — exposed so SQL oracles can bake the
    identical integer literals."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return [
        (int(rng.randint(1, MINHASH_P)), int(rng.randint(0, MINHASH_P)))
        for _ in range(num_hashes)
    ]


def shingle_sets(docs: DataFrame, shingle_k: int = 2) -> DataFrame:
    """(doc_id, _sh) — each document's DISTINCT word-shingle array.

    The one tokenize+shingle pass both the MinHash signature build and
    the candidate Jaccard verify consume: computing it once (and letting
    the caller persist it) removes the redundant corpus-wide
    tokenization passes an LSH-then-verify pipeline otherwise pays —
    at 100 TB the map-side text work is the dominant scan cost, so
    running it once instead of three times is a direct guide-§2.3 cut
    (shuffle/scan fewer bytes; identical expressions, identical
    results). ``_sh`` carries the column metadata ``{"shingle_k": k}``,
    which the consumers check against their own ``shingle_k``."""
    return docs.select(
        "doc_id",
        F.array_distinct(
            shingles_col(tokens_col(F.col("text")), shingle_k)
        ).alias("_sh", metadata={"shingle_k": shingle_k}),
    )


def _check_shingles(shingles: DataFrame, shingle_k: int) -> None:
    """Reject a ``shingles`` frame built with another ``shingle_k``."""
    tag = shingles.schema["_sh"].metadata.get("shingle_k")
    if tag != shingle_k:
        raise ValueError(
            f"shingles were built with shingle_k={tag}, not {shingle_k}"
        )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 8,
    shingle_k: int = 2,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig0..sig{H-1}) MinHash signature per document.

    ONE md5 per shingle (the digest was the dominant cost of the
    signature build): r = the digest's first 56 bits mod p, and
    sig_j = min over shingles of (a_j·r + b_j) mod p — the classic
    universal family with seeded per-family coefficients, so the argmin
    decorrelates across families (a shared additive term would make
    adjacent bands collide together and wreck LSH selectivity). a_j·r <
    2^61 keeps everything inside exact int64 on both engines. The
    md5/substr/hex-parse subtree is shared across the H signature
    columns by codegen subexpression elimination. Entirely per-row
    array math: zero shuffles.

    Mirror SQL: ``(a_j * (('0x' || substr(md5(x), 1, 14))::BIGINT %
    2147483647) + b_j) % 2147483647`` — bit-exact across engines.

    ``shingles``: optional precomputed :func:`shingle_sets` frame —
    the signature min then folds over that (identical distinct-shingle
    array, so identical signatures) and the corpus tokenize+shingle
    pass is shared with the verify stage instead of recomputed.
    """
    if shingles is not None:
        _check_shingles(shingles, shingle_k)
        src, sh = shingles, F.col("_sh")
    else:
        src = docs
        sh = F.array_distinct(shingles_col(tokens_col(F.col("text")), shingle_k))
    rs = F.transform(
        sh,
        lambda s: F.conv(F.substring(F.md5(s), 1, 14), 16, 10).cast("long")
        % MINHASH_P,
    )
    params = minhash_params(num_hashes)

    def seeded_min(j: int):
        a, b = params[j]
        # unary lambda only: an (r, j=...) form would bind the array index
        return F.array_min(F.transform(rs, lambda r: (a * r + b) % MINHASH_P))

    cols = [seeded_min(j).alias(f"sig{j}") for j in range(num_hashes)]
    return src.select("doc_id", *cols)


def lsh_candidate_pairs(
    sigs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH on a signature table.

    Bands the signature into ``num_hashes/band_size`` groups keyed by
    the concatenated band signatures, then enumerates same-key pairs
    with ONE groupBy per (band, key) bucket (sorted collect_set +
    in-array pair expansion) — the signature expressions are evaluated
    once, instead of once per side of a self-join. The bucket pair
    expansion is inherently O(|bucket|²): ``max_bucket`` (when set)
    drops buckets above that size — at web scale a mega-bucket is a
    boilerplate dup-cluster whose pairs are better recovered from
    exact_dedup; callers wanting exact LSH semantics leave it None.
    Returns distinct (doc_a, doc_b) with doc_a < doc_b.
    """
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ":",
                    *[F.col(f"sig{b * band_size + r}") for r in range(band_size)],
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    keyed = sigs.select(
        "doc_id", F.explode(bands).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    return bucket_pairs(keyed, "doc_id", "doc_a", "doc_b", max_bucket=max_bucket)


def bucket_pairs(
    keyed: DataFrame,
    id_col: str,
    out_a: str,
    out_b: str,
    bucket_cols: Sequence[str] = ("band", "key"),
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct (a < b) id pairs sharing any bucket: ONE groupBy +
    sorted collect_set + in-array i<j expansion — the shared candidate
    enumeration of every banded-LSH family (MinHash, SRP). The bucket
    expressions are evaluated once, never per self-join side."""
    buckets = (
        keyed.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket)
    # all i<j pairs inside a bucket: ids is sorted, so (ids[i], ids[j>i])
    # is already ordered
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias(out_a), F.col("p.b").alias(out_b))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    shingle_k: int = 2,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for document pairs.

    With ``candidates`` (doc_a, doc_b) given, intersections are computed
    for ONLY those pairs — the candidate set prunes BEFORE the shingle
    join, so the shuffle volume is |candidates| x avg-shingles, not
    corpus-quadratic (the LSH-then-verify scale path). Without it, all
    pairs sharing at least one shingle are compared (hot shingles make
    this quadratic — safe only at small scale / after blocking).
    Returns (doc_a, doc_b, jaccard) with jaccard ≥ threshold, rounded
    to 1e-6 for engine portability. ``shingles`` (a :func:`shingle_sets`
    frame of the same ``shingle_k``) needs ``candidates``.
    """
    if shingles is not None:
        if candidates is None:
            raise ValueError("shingles needs candidates (the all-pairs path ignores it)")
        _check_shingles(shingles, shingle_k)
    if candidates is not None:
        # candidate-scoped verify WITHOUT the shingle explode: attach
        # each side's distinct-shingle SET (one array per doc) via two
        # id-equi-joins, then |A ∩ B| is a pure-Column array_intersect —
        # the explode + (doc_b, shingle) shuffle of a 2M-row wedge
        # intermediate becomes two candidate-proportional joins and no
        # aggregation at all (guide §2.3/§2.4; measured 2.9 s → below
        # 1 s at sf0.1). Counts are identical: both sides are distinct
        # arrays, so the old per-shingle join count IS |A ∩ B|.
        # ``shingles`` (when given) is the shared shingle_sets frame —
        # the tokenize+shingle pass then runs once for the whole
        # pipeline instead of once per join side.
        shsets = (
            shingles
            if shingles is not None
            else shingle_sets(docs, shingle_k)
        )
        return (
            candidates.join(
                shsets.select(
                    F.col("doc_id").alias("doc_a"), F.col("_sh").alias("_sa")
                ),
                on="doc_a",
            )
            .join(
                shsets.select(
                    F.col("doc_id").alias("doc_b"), F.col("_sh").alias("_sb")
                ),
                on="doc_b",
            )
            .select(
                "doc_a",
                "doc_b",
                F.size(F.array_intersect("_sa", "_sb")).alias("n_inter"),
                F.size("_sa").alias("n_a"),
                F.size("_sb").alias("n_b"),
            )
            # the old per-shingle INNER join only ever produced pairs
            # sharing ≥1 shingle — keep that contract for threshold=0
            .where(F.col("n_inter") > 0)
            .select(
                "doc_a",
                "doc_b",
                F.round(
                    F.col("n_inter").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                    6,
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )

    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_col(tokens_col(F.col("text")), shingle_k))
        ).alias("sh"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, on="sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), on="doc_a")
        .withColumnRenamed("n_sh", "n_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), on="doc_b")
        .withColumnRenamed("n_sh", "n_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def dedup_clusters(
    spark,
    docs: DataFrame,
    pairs: DataFrame,
) -> DataFrame:
    """Transitive near-duplicate clusters over verified dup pairs.

    Greedy pair-drop (``dedup_survivors``) is order-dependent across
    chains (A~B, B~C but not A~C); production dedup instead computes
    the TRANSITIVE CLOSURE of the pair graph and keeps one doc per
    component — the classic union-find-over-LSH-pairs step, here run
    distributed via FastSV (algorithms/fastsv.py, O(log n) rounds).
    The pair graph has |verified pairs| edges — candidate-proportional,
    NOT corpus-proportional, so the closure costs a vanishing fraction
    of the LSH pass that produced the pairs.

    Returns (doc_id, cluster_id) for EVERY doc in ``docs``; singleton
    docs are their own cluster; cluster_id = min doc_id of the cluster
    (the canonical survivor: doc_id == cluster_id).
    """
    from ..algorithms.fastsv import fastsv_components
    from ..containers import DST, SRC

    e = pairs.select(
        F.col("doc_a").alias(SRC), F.col("doc_b").alias(DST)
    )
    sym = e.unionByName(e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))
    res = fastsv_components(
        spark, sym, 0, vertices=docs.select("doc_id")
    )
    return res.labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
