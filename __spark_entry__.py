"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator family from SURVEY.md §2
as a (spark, sf_dir) → DataFrame callable over the driver's parquet
tables; ``oracle_sql()`` carries the DuckDB-equivalent SQL. Column names
and value rounding are kept identical on both sides so the driver's
order-insensitive value-hash matches.

Graph queries run over a deterministic 1000-vertex edge table derived
from ``lineitem``: edges = distinct (l_partkey % 1000 → l_suppkey %
1000), self-loops dropped — a skewed (hub-heavy dst) directed graph,
symmetrised where the algorithm requires undirected semantics.
Iterative algorithms are pinned to a fixed iteration count so the SQL
oracle can unroll them; convergence-driven variants (not expressible in
SQL) are exposed as rows-only entries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alp_spark import algebra as alg
from alp_spark.algorithms.connected_components import connected_components
from alp_spark.algorithms.label_propagation import label_propagation
from alp_spark.algorithms.mpv import knn, mpv
from alp_spark.algorithms.pregel_pagerank import pregel_pagerank
from alp_spark.algorithms.kcore import kcore_decomposition
from alp_spark.algorithms.mis import PRIO_MOD, PRIO_MULT
from alp_spark.algorithms.simple_pagerank import simple_pagerank, simple_pagerank_csr
from alp_spark.algorithms.triangles import triangle_count
from alp_spark.containers import DST, ID, SRC, VAL, set_dense
from alp_spark.operators.blas1 import e_wise_apply
from alp_spark.operators.blas2 import broadcast_if_fits, vxm
from alp_spark.pipeline import (
    cosine_dup_pairs,
    cosine_topk,
    doc_fingerprint,
    exact_dedup,
    lang_id,
    lsh_ann_topk,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_score,
    shingle_sets,
    simhash_signatures,
    srp_candidate_pairs,
    token_stats,
)
from alp_spark.pipeline.similarity import srp_planes

N_V = 1000  # graph vertex-id space (mod applied to lineitem keys)
PR_ITERS = 5
PPR_ROUNDS = 3  # pinned Pregel-PageRank round budget (oracle-unrollable)
# Adaptive Pregel-PageRank (global halt votes, tol=1e-5) all-halts at
# round 9 on the sf0.01 fixture graph = 8 score updates after the
# round-0 init — measured once and pinned so the convergent run gets an
# EXACT unrolled oracle (global-halt mode does full synchronous updates
# every round; halt is only a vote, so the unroll reproduces it bit-
# for-bit). Correctness is driver-checked at sf0.01 only.
PPR_CONV_UPDATES = 8
CG_ITERS = 3  # pinned CG iteration budget (oracle-unrollable)
BICG_ITERS = 3  # pinned BiCGstab iteration budget (oracle-unrollable)
# label_prop_converged reaches its fixpoint after 1 update at sf0.01
# (flips=0 on the first convergence check); at a fixpoint further rounds
# are no-ops, so unrolling MORE rounds than needed stays exact — 8
# gives headroom for other fixture scales.
LP_CONV_ROUNDS = 8
KCORE_SQL_ROUNDS = 110  # ≥ the 96 peel rounds the sf0.01 graph needs;
# extra rounds are no-ops (all peeled → anypeel=0 → only k increments)
KNN_SOURCE = 7
LP_SEEDS = 50
HITS_ITERS = 5  # pinned HITS round budget (oracle-unrollable)
N_HOSTS = 50  # sources/pages.py:N_DOMAINS — hosts in the ingest url scheme
# Luby MIS all-decides in 3 rounds on the sf0.01 fixture graph (2 at
# sf0.001 — measured once, like PPR_CONV_UPDATES); extra unrolled
# rounds are exact no-ops, so 8 gives headroom for other fixture scales.
MIS_SQL_ROUNDS = 8
ANF_ROUNDS = 3  # pinned FM bit-OR propagation rounds (oracle-unrollable)
NF_ROUNDS = 4  # neighbourhood-function hop budget (oracle-unrollable)
WALK_LEN = 4  # pinned deterministic walk length (oracle-unrollable)
PPR_MULTI_SEEDS = [7, 42, 123]  # batched-PPR seed vertices
PPR_MULTI_ROUNDS = 3  # pinned batched-PPR rounds (oracle-unrollable)
TRUSS_K = 20  # k-truss order: k=20 peels 135 edges over 9 rounds at
# sf0.01 (measured; smaller k is a no-op fixpoint on this dense
# fixture — the whole graph is already a 4-truss); 3 rounds at sf0.001
TRUSS_SQL_ROUNDS = 12  # ≥ measured peel rounds; extra rounds are no-ops
LINKPRED_TOPK = 2000  # deterministic: ranked by exact int common, (u,v) ties
KM_K = 4  # kmeans clusters
KM_SEED = 11  # kpp RNG seed (reference uses wall-clock; see kmeans.py)
KM_N = 500  # embeddings rows — identical at every driver sf, so the
# kpp draws baked into the SQL oracle match the runtime draws
# kmeans converges (exact centroid fixpoint) in 11 Lloyd iterations at
# sf0.01 / 18 at sf0.001; extra unrolled rounds are no-ops at the
# fixpoint, so 20 covers both fixtures with margin
KM_SQL_ROUNDS = 20
NN_LAYERS = 4  # sparse-NN fixture: 4 matrices (reference applies L-1)
NN_BIAS = -0.3  # GraphChallenge 1024-neuron bias (smoke test :94)
NN_THRESHOLD = 32.0  # GraphChallenge YMAX clamp
MINHASHES = 8
BAND_SIZE = 2
ANN_QUERIES = 10
ANN_K = 3
IVF_PROBE = 2  # IVF cells probed per query (of KM_K inverted lists)
# near-dup cosine threshold: the synthetic embeddings top out at ~0.51
# pairwise cosine, so 0.4 selects the genuine "close pair" tail
DUP_COS = 0.4
JACCARD_MIN = 0.2
DEDUP_JACCARD = 0.5  # near-dup removal threshold in the survivors pipeline
EMB_DIM = 64
SRP_SEED = 7
ANN_PLANES = 8
# banded SRP for near-dup candidates: 4 bands x 8 bits — 8 bits/band
# keeps the random-pair candidate rate ~1.6% (4 bits made band keys coin
# flips on synthetic gaussian embeddings: 23% of ALL pairs were candidates)
SRP_BANDS = 4
SRP_BAND_BITS = 8


# --------------------------------------------------------------------------
# table / graph loading
# --------------------------------------------------------------------------

def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tbl(spark, sf_dir, "lineitem")
    return (
        li.select(
            (F.col("l_partkey") % N_V).alias(SRC),
            (F.col("l_suppkey") % N_V).alias(DST),
        )
        .where(F.col(SRC) != F.col(DST))
        .distinct()
    )


def _sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same edge SET as distinct(edges ∪ edgesᵀ), built with ONE distinct
    # instead of two (guide §2.4 — remove shuffles outright): canonical
    # (min,max) undirected pairs dedup in a single pass, then both
    # directions expand map-side with no further exchange.
    li = _tbl(spark, sf_dir, "lineitem")
    canon = (
        li.select(
            F.least(
                F.col("l_partkey") % N_V, F.col("l_suppkey") % N_V
            ).alias("a"),
            F.greatest(
                F.col("l_partkey") % N_V, F.col("l_suppkey") % N_V
            ).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    return canon.select(F.col("a").alias(SRC), F.col("b").alias(DST)).unionByName(
        canon.select(F.col("b").alias(SRC), F.col("a").alias(DST))
    )


def _out_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    ones = set_dense(spark, N_V, 1.0)
    return vxm(
        ones, _edges(spark, sf_dir), alg.PLUS_FIRST, transpose=True,
        frontier_nnz=N_V,
    )


def _in_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    ones = set_dense(spark, N_V, 1.0)
    return vxm(
        ones, _edges(spark, sf_dir), alg.PLUS_FIRST, frontier_nnz=N_V
    )


# shared oracle CTE fragments -----------------------------------------------

E_SQL = f"""edges AS (
  SELECT DISTINCT l_partkey % {N_V} AS src, l_suppkey % {N_V} AS dst
  FROM lineitem
  WHERE l_partkey % {N_V} <> l_suppkey % {N_V}
)"""

SYM_SQL = """sym AS (
  SELECT src, dst FROM edges
  UNION
  SELECT dst AS src, src AS dst FROM edges
)"""

TOKS_SQL = """t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
)"""


# --------------------------------------------------------------------------
# graph queries (SURVEY.md §2.4-2.6, §2.10-2.11)
# --------------------------------------------------------------------------

def q_out_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vxm over the (plus, left_assign) pattern ring with transpose —
    ALP's row-sum/degree idiom (simple_pagerank.hpp:210-222)."""
    return _out_degree(spark, sf_dir).select(
        ID, F.col(VAL).cast("long").alias("degree")
    )


def q_degrees_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eWiseApply under the PLUS monoid = union of sparsity
    (base/blas1.hpp:1616)."""
    z = e_wise_apply(
        _out_degree(spark, sf_dir),
        _in_degree(spark, sf_dir),
        alg.add,
        monoid=alg.PLUS,
    )
    return z.select(ID, F.col(VAL).cast("long").alias("total_degree"))


def q_degrees_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eWiseApply with a plain operator = intersection of sparsity
    (base/blas1.hpp:1391)."""
    z = e_wise_apply(_out_degree(spark, sf_dir), _in_degree(spark, sf_dir), alg.mul)
    return z.select(ID, F.col(VAL).cast("long").alias("deg_product"))


def q_dot_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dot under (plus, times) (base/blas1.hpp:4056) as a 1-row plan."""
    x = _out_degree(spark, sf_dir).alias("x")
    y = _in_degree(spark, sf_dir).alias("y")
    return (
        x.join(y, on=F.col(f"x.{ID}") == F.col(f"y.{ID}"))
        .agg(F.sum(F.col(f"x.{VAL}") * F.col(f"y.{VAL}")).alias("dot_val"))
        .select(F.col("dot_val").cast("double").alias("dot_val"))
    )


def q_pagerank5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simple_pagerank (simple_pagerank.hpp:134-494) pinned to 5 power
    iterations (conv=0) so the oracle can unroll them."""
    res = simple_pagerank(
        spark, _edges(spark, sf_dir), N_V, alpha=0.85, conv=0.0, max_iter=PR_ITERS
    )
    return res.ranks.select(ID, F.round(VAL, 6).alias("rank"))


# the oracle unrolls to the engine's round cap and stops where the engine
# does: at the first round whose L1 residual is <= the tolerance
PR_CONV_TOL = 1e-6
PR_CONV_MAX_ITER = 200


def q_pagerank_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule headline semantics: PageRank run TO CONVERGENCE
    (L1 residual <= 1e-6, the reference stop rule
    simple_pagerank.hpp:433-443) rather than a pinned round count.
    The emitted per-row ``iters`` column pins the engine's actual stop
    round against the oracle's, so a convergence-test regression
    (stopping early/late) is a hash mismatch, not silence."""
    res = simple_pagerank(
        spark,
        _edges(spark, sf_dir),
        N_V,
        alpha=0.85,
        conv=PR_CONV_TOL,
        max_iter=PR_CONV_MAX_ITER,
    )
    return res.ranks.select(
        ID,
        F.round(VAL, 6).alias("rank"),
        F.lit(res.iterations).alias("iters"),
    )


PPR_SEEDS = [(0, 0.6), (7, 0.4)]  # personalization distribution


def q_ppr5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: same 5 pinned power iterations as
    pagerank5 but teleport + dangling mass land on the seed
    distribution PPR_SEEDS (∝ val) and iteration starts from it —
    topic-sensitive link analysis over the identical engine loop."""
    from alp_spark.containers import vector_schema

    tele = spark.createDataFrame(PPR_SEEDS, vector_schema("double"))
    res = simple_pagerank(
        spark, _edges(spark, sf_dir), N_V, alpha=0.85, conv=0.0,
        max_iter=PR_ITERS, teleport=tele,
    )
    return res.ranks.select(ID, F.round(VAL, 6).alias("rank"))


def q_pagerank5_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same PageRank semantics on the CSR-block physical path
    (plans/csr_blocks.py — the north star's applyInPandas gather-scatter
    form); must hash-match the same SQL oracle as pagerank5."""
    res = simple_pagerank_csr(
        spark, _edges(spark, sf_dir), N_V, alpha=0.85, conv=0.0, max_iter=PR_ITERS
    )
    return res.ranks.select(ID, F.round(VAL, 6).alias("rank"))


def q_out_degree_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same degree computation through the explicitly two-sided-salted
    vxm (plans/skew.py — the north rule's hub-skew handling): hot keys
    at threshold 50 on this graph, 8 salts. Must hash-match the plain
    out_degree oracle (two-level agg is exact for commutative ⊕)."""
    from alp_spark.plans.skew import hot_keys, salted_vxm

    e = _edges(spark, sf_dir)
    ones = set_dense(spark, N_V, 1.0)
    hs = hot_keys(e, DST, threshold=50)  # vxm transpose: join side is dst
    hd = hot_keys(e, SRC, threshold=50)
    u = salted_vxm(
        ones, e, alg.PLUS_FIRST, hot_src=hs, hot_dst=hd, n_salts=8,
        transpose=True, hot_nnz=N_V,  # hot keys are vertex ids
    )
    return u.select(ID, F.col(VAL).cast("long").alias("degree"))


def q_fma_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eWiseMulAdd z = a⊗x ⊕ y fused over the degree vectors
    (reference/blas1.hpp eWiseMulAdd_dispatch): z = out⊗in ⊕ in ⊕ out."""
    from alp_spark.operators import e_wise_mul_add

    o = _out_degree(spark, sf_dir)
    i = _in_degree(spark, sf_dir)
    z = e_wise_mul_add(o, o, i, i, alg.PLUS, alg.mul)
    return z.select(ID, F.col(VAL).cast("long").alias("fma"))


def q_norm2_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """norm2 + cosine_similarity (norm.hpp:76, cosine_similarity.hpp:116)
    over the degree vectors — two scalar reductions in one row."""
    from alp_spark.operators import cosine_similarity, norm2

    o = _out_degree(spark, sf_dir)
    i = _in_degree(spark, sf_dir)
    return spark.createDataFrame(
        [(round(norm2(o), 6), round(cosine_similarity(o, i), 6))],
        "norm_out double, cos_oi double",
    )


def q_mxm_wedges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unmasked SpGEMM C = A·A over the plus-times ring on the pattern
    graph (base/blas3.hpp:94): C[i,k] = #2-paths i→k. Returns the top-20
    (i,k) pairs by path count (count desc, then i, k) — exercises mxm in
    the driver gate with a deterministic slice."""
    from alp_spark.operators import mxm

    e = _edges(spark, sf_dir)
    c = mxm(e, e, alg.PLUS_TIMES)
    return (
        c.select(SRC, DST, F.col(VAL).cast("long").alias("paths"))
        .orderBy(F.col("paths").desc(), SRC, DST)
        .limit(20)
    )


def q_top_rank_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax over the pagerank5 vector (ops.hpp:600 → the ARGMAX pair
    monoid: one F.max over struct(rank, id), id as deterministic
    tiebreak) — 'which vertex has the top rank', reduced map-side."""
    pr = q_pagerank5(spark, sf_dir)
    return pr.agg(
        F.max(alg.pair(F.col("rank"), F.col(ID))).alias("m")
    ).select(
        F.col("m.idx").alias("top_id"), F.col("m.val").alias("top_rank")
    )


def _spd_system(spark: SparkSession, sf_dir: str):
    """Laplacian + 2I over the symmetric driver graph (SPD by
    construction): off-diagonal -1 per edge, diagonal deg+2; b_i =
    ((i mod 10) + 1) / 10."""
    sym = _sym_edges(spark, sf_dir)
    offd = sym.select(SRC, DST, F.lit(-1.0).alias(VAL))
    deg = sym.groupBy(F.col(SRC).alias(ID)).agg(F.count("*").alias("d"))
    diag = (
        spark.range(N_V)
        .select(F.col("id").alias(ID))
        .join(deg, on=ID, how="left")
        .select(
            F.col(ID).alias(SRC),
            F.col(ID).alias(DST),
            (F.coalesce(F.col("d"), F.lit(0)) + 2.0).alias(VAL),
        )
    )
    A = offd.unionByName(diag)
    b = spark.range(N_V).select(
        F.col("id").alias(ID), ((F.col("id") % 10 + 1) / 10.0).alias(VAL)
    )
    return A, b


def q_cg3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjugate gradient (conjugate_gradient.hpp:208-426) pinned to 3
    iterations (tol→0) so the SQL oracle can unroll the Krylov loop —
    each iteration is one SpMV + two scalar reductions."""
    from alp_spark.algorithms import conjugate_gradient

    A, b = _spd_system(spark, sf_dir)
    res = conjugate_gradient(spark, A, b, N_V, tol=1e-30, max_iterations=CG_ITERS)
    return res.x.select(ID, F.round(VAL, 6).alias("x"))


def q_bicgstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BiCGstab (bicgstab.hpp:160-480) pinned to 3 full iterations
    (tol→0 so no stabilisation/breakdown exit fires on this SPD system)
    — the same pinned-iteration technique as cg3, so the SQL oracle can
    unroll the full recurrence. The adaptive convergence path stays
    pytest-verified against the NumPy oracle."""
    from alp_spark.algorithms import bicgstab

    A, b = _spd_system(spark, sf_dir)
    res = bicgstab(spark, A, b, N_V, tol=1e-30, max_iterations=BICG_ITERS)
    return res.x.select(ID, F.round(VAL, 6).alias("x"))


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kmeans (kmeans.hpp:60-373): seeded kpp initialisation + Lloyd's
    iteration to the exact centroid fixpoint over the embeddings table.
    Oracle: KM_SQL_ROUNDS unrolled Lloyd rounds (no-ops past the
    fixpoint) seeded by the same kpp_draws literals."""
    from alp_spark.algorithms import kmeans

    emb = _tbl(spark, sf_dir, "embeddings")
    res = kmeans(
        spark, emb, k=KM_K, seed=KM_SEED, max_iter=40,
        id_col="vec_id", vec_col="embedding",
    )
    return res.assignments.select(
        ID, "cluster", F.round("dist", 6).alias("dist")
    )


def _nn_weight_val(l: int):
    """Deterministic layer-l weight per edge: ((31·src + 17·dst + 101·l)
    mod 13 − 6) / 10 ∈ [−0.6, 0.6] — identical arithmetic in Spark and
    the SQL oracle."""
    return (
        ((F.col(SRC) * 31 + F.col(DST) * 17 + F.lit(l * 101)) % 13 - 6) / 10.0
    )


def q_sparse_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded sparse-NN single inference
    (sparse_nn_single_inference.hpp:53-176, the GraphChallenge smoke
    semantics): NN_LAYERS deterministic weight layers over the driver
    graph, constant bias, relu + YMAX clamp; sparse input vector
    (every 7th vertex hot). The oracle unrolls the L-1 applied layers."""
    from alp_spark.algorithms import sparse_nn_single_inference

    e = _edges(spark, sf_dir)
    layers = [
        e.select(SRC, DST, _nn_weight_val(l).alias(VAL))
        for l in range(NN_LAYERS)
    ]
    x0 = (
        spark.range(N_V)
        .where(F.col("id") % 7 == 0)
        .select(F.col("id").alias(ID), ((F.col("id") % 23 + 1) / 23.0).alias(VAL))
    )
    out = sparse_nn_single_inference(
        spark, x0, layers, [NN_BIAS] * NN_LAYERS, N_V, threshold=NN_THRESHOLD
    )
    return out.select(ID, F.round(VAL, 6).alias("activation"))


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core coreness (kcore_decomposition.hpp:141-296, Li et al.
    HPEC'21 semantics) via the iterated-h-index engine — few rounds
    instead of one job per peel level (VERDICT r4 item 5); output
    identical to the unrolled-peel SQL oracle."""
    res = kcore_decomposition(spark, _sym_edges(spark, sf_dir), N_V)
    return res.cores.select(ID, F.col("core").alias("coreness"))


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pregel max-label flood (pregel_connected_components.hpp:47-169) on
    the symmetrised graph; exact labels = component max vertex id."""
    res = connected_components(spark, _sym_edges(spark, sf_dir), N_V)
    return res.state.select(ID, F.col("state").alias("label"))


def q_fastsv_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via FastSV (Zhang/Azad/Buluc SIAM PP 2020) —
    the O(log n)-round at-scale path, vs the flood's O(diameter); same
    components, labelled by component MIN vertex id (hooking is
    min-wise). Expressed in ALP algebra: extract + (min, second) mxv +
    assign-min + eWiseApply-min per round."""
    from alp_spark.algorithms.fastsv import fastsv_components

    res = fastsv_components(spark, _sym_edges(spark, sf_dir), N_V)
    return res.labels


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masked SpGEMM triangles (degree-oriented wedge join)."""
    from alp_spark.loop import _release

    res = triangle_count(_sym_edges(spark, sf_dir))
    # only the total is read: drop the per-vertex checkpoint the result
    # keeps for other callers (ROADMAP direction 3 folds this into the
    # one release path for results)
    _release(res.per_vertex)
    return spark.createDataFrame([(res.total,)], "triangles long")


def q_hits5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities pinned to 5 rounds: two (plus, times)
    vxm SpMVs per round (base/blas2.hpp:307 vocabulary) + 2-norm folds,
    the canonical PageRank companion on web link graphs."""
    from alp_spark.algorithms.hits import hits

    res = hits(spark, _edges(spark, sf_dir), N_V, iters=HITS_ITERS)
    v = spark.range(N_V).select(F.col("id").alias(ID))
    # both score vectors hold ≤ N_V entries: the one gate broadcasts them
    # instead of sort-merge joining against range(N_V)
    a = broadcast_if_fits(res.auth.select(ID, F.col(VAL).alias("_a")), N_V)
    h = broadcast_if_fits(res.hubs.select(ID, F.col(VAL).alias("_h")), N_V)
    return (
        v.join(a, on=ID, how="left")
        .join(h, on=ID, how="left")
        .select(
            ID,
            F.round(F.coalesce("_a", F.lit(0.0)), 6).alias("authority"),
            F.round(F.coalesce("_h", F.lit(0.0)), 6).alias("hub"),
        )
    )


def q_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the symmetrised graph: top-K non-adjacent
    two-hop pairs by common-neighbour count with Jaccard and
    Adamic-Adar scores (wedge machinery, the triangle-count join
    shape). Deterministic top-K: common is an exact integer and ties
    break on (u, v)."""
    from alp_spark.algorithms.linkpred import link_prediction_scores

    scores = link_prediction_scores(_sym_edges(spark, sf_dir), min_common=2)
    return (
        scores.orderBy(F.col("common").desc(), "u", "v")
        .limit(LINKPRED_TOPK)
        .select(
            "u",
            "v",
            "common",
            F.round("jaccard", 6).alias("jaccard"),
            F.round("adamic_adar", 6).alias("adamic_adar"),
        )
    )


def q_cc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size rollup over FastSV labels — the post-CC query
    every link-graph user runs next (component census)."""
    from alp_spark.algorithms.fastsv import fastsv_components

    res = fastsv_components(spark, _sym_edges(spark, sf_dir), N_V)
    return (
        res.labels.groupBy("label")
        .agg(F.count("*").alias("size"))
        .select(F.col("label").alias("component"), "size")
    )


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity |E ∩ Eᵀ| / |E| — the classic directed web-graph
    structure metric, expressed as matrix eWiseApply intersection with
    the transposed matrix (reference/blas3.hpp:927 structure-∩ rule)
    plus two scalar folds."""
    from alp_spark.operators.blas3 import e_wise_apply_matrix

    e = _edges(spark, sf_dir)
    et = e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    recip = e_wise_apply_matrix(e, et, alg.any_or)
    return (
        recip.agg(F.count("*").alias("_r"))
        .crossJoin(e.agg(F.count("*").alias("m")))
        .select(
            F.round(F.col("_r").cast("double") / F.col("m"), 6).alias(
                "reciprocity"
            ),
            F.col("m").cast("long").alias("m"),
        )
    )


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed degree assortativity: Pearson correlation of (src
    out-degree, dst in-degree) over edges (Newman 2002). Degrees come
    from the engine's vxm pattern rings; the correlation is one
    map-side-combined co-moment aggregate — no shuffle beyond the two
    degree joins."""
    e = _edges(spark, sf_dir)
    od = _out_degree(spark, sf_dir).select(
        F.col(ID).alias(SRC), F.col(VAL).alias("_od")
    )
    idg = _in_degree(spark, sf_dir).select(
        F.col(ID).alias(DST), F.col(VAL).alias("_id")
    )
    return (
        e.join(od, on=SRC)
        .join(idg, on=DST)
        .agg(F.round(F.corr("_od", "_id"), 6).alias("assortativity"))
    )


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex (Watts-Strogatz) on the
    symmetrised graph — per-vertex triangles over the oriented masked
    SpGEMM (the triangle_count machinery) normalised by deg·(deg−1)/2."""
    from alp_spark.algorithms.triangles import local_clustering

    return local_clustering(_sym_edges(spark, sf_dir))


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The webtext rollup: parse each page url's HOST (the ingest url
    scheme, sources/pages.py:url_of), coarsen the page graph to the
    50-host weighted graph (algorithms/coarsen.py — quotient-matrix
    construction), and run WEIGHTED PageRank pinned to 5 iterations
    (rank flows ∝ edge multiplicity / out-weight; simple_pagerank
    auto-detects the weighted matrix). At 10^12 pages the coarse graph
    is ~10^7 hosts — the rollup is one groupBy shuffle and the
    iteration runs on the small graph."""
    from alp_spark.algorithms.coarsen import coarsen_edges
    from alp_spark.sources.pages import N_DOMAINS

    urls = spark.range(N_V).select(
        F.col("id").alias(ID),
        F.format_string(
            "https://site%04d.example/p/%05d",
            F.col("id") % N_DOMAINS,
            F.col("id"),
        ).alias("url"),
    )
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    mapping = urls.select(
        ID,
        F.regexp_extract(host, r"^site(\d+)\.example$", 1)
        .cast("long")
        .alias("group"),
    )
    he = coarsen_edges(_edges(spark, sf_dir), mapping=mapping)
    res = simple_pagerank(
        spark, he, N_DOMAINS, alpha=0.85, conv=0.0, max_iter=PR_ITERS
    )
    return res.ranks.select(
        F.format_string("site%04d.example", F.col(ID)).alias("host"),
        F.round(VAL, 6).alias("rank"),
    )


def q_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby maximal independent set on the symmetrised graph with
    deterministic multiplicative-hash priorities (algorithms/mis.py) —
    the distributed symmetry-breaking primitive; the unique greedy MIS
    under the priority order, so the oracle unrolls the same rounds."""
    from alp_spark.algorithms.mis import maximal_independent_set

    res = maximal_independent_set(spark, _sym_edges(spark, sf_dir), N_V)
    return res.members.select(F.col(ID).cast("long").alias(ID))


def q_rep_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters per document
    (pipeline/text.py:repetition_stats): duplicate-token fraction and
    top-bigram fraction — the pre-training corpus repetition signals."""
    from alp_spark.pipeline.text import repetition_stats

    return repetition_stats(_tbl(spark, sf_dir, "documents"))


def q_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder bow-tie decomposition (algorithms/scc.py:bowtie_classes):
    core = largest SCC (tie → smallest label), in = reaches core,
    out = reachable from core, other = tendrils/disconnected — the
    canonical web-graph macrostructure census."""
    from alp_spark.algorithms.scc import bowtie_classes

    return bowtie_classes(spark, _edges(spark, sf_dir), N_V)


def q_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss edge set (algorithms/truss.py): edge-centric peel by
    in-subgraph triangle support — the cohesion kernel one step up
    from triangle counting; k pinned to TRUSS_K so the oracle can
    unroll the monotone peel (extra rounds are no-ops)."""
    from alp_spark.algorithms.truss import k_truss

    res = k_truss(spark, _sym_edges(spark, sf_dir), k=TRUSS_K)
    return res.edges.select(SRC, DST)


def q_ppr_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-source personalized PageRank (algorithms/
    ppr_multi.py): all seeds iterate in ONE loop over (seed, id, val)
    state with in-plan broadcast dangling masses — the related-pages /
    link-feature generator; each seed's slice equals the single-source
    teleport run bit for bit."""
    from alp_spark.algorithms.ppr_multi import ppr_multi

    res = ppr_multi(
        spark,
        _edges(spark, sf_dir),
        N_V,
        PPR_MULTI_SEEDS,
        alpha=0.85,
        rounds=PPR_MULTI_ROUNDS,
    )
    return res.ranks.select(
        "seed", ID, F.round(VAL, 6).alias("rank")
    )


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (algorithms/scc.py): min-label
    coloring + within-color backward reach + trim — the web bow-tie
    decomposition's core; labels are the component minimum id. Oracle:
    recursive transitive closure + mutual-reachability min."""
    from alp_spark.algorithms.scc import strongly_connected_components

    res = strongly_connected_components(spark, _edges(spark, sf_dir), N_V)
    return res.labels.select(ID, F.col("scc").cast("long").alias("scc"))


def q_neighborhood_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANF neighbourhood function N(h) for h = 1..4 (algorithms/
    anf.py:neighborhood_function): estimated reachable-pair counts per
    hop — the effective-diameter statistic; integer-exact FM sums so
    the oracle matches bit for bit."""
    from alp_spark.algorithms.anf import neighborhood_function

    return neighborhood_function(
        spark, _edges(spark, sf_dir), N_V, rounds=NF_ROUNDS
    )


def q_anf3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighbourhood function (algorithms/anf.py): 3 rounds
    of Flajolet-Martin bit-OR propagation — the (bit_or, left_assign)
    generalised-ring vxm (base/blas2.hpp:307 vocabulary) — sketching
    each vertex's 3-hop out-ball size. Deterministic hash → exact
    oracle."""
    from alp_spark.algorithms.anf import anf

    res = anf(spark, _edges(spark, sf_dir), N_V, rounds=ANF_ROUNDS)
    return res.sketches


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk-style walk corpus (pipeline/walks.py):
    one 4-step walk per vertex, next hop = hash(start, step) mod
    out-degree over dst-ranked neighbours; walks stop at sinks. The
    graph-embedding training-pair generator, reproducible across
    partitionings."""
    from alp_spark.pipeline.walks import random_walks

    res = random_walks(spark, _edges(spark, sf_dir), N_V, length=WALK_LEN)
    return res.walks


def q_khop2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn/k-hop reachability over the (or, and) boolean ring with
    add_identity (knn.hpp:82-140), k=2 from a fixed source."""
    res = knn(spark, _edges(spark, sf_dir), N_V, source=KNN_SOURCE, k=2)
    return res.reached.select(ID, F.col(VAL).alias("reached"))


def q_mpv3_minplus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mpv y = A³x (mpv.hpp:94) under the (min, plus) ring on a pattern
    matrix (pattern nonzero = ring one = 0.0, so each hop propagates
    min of the neighbour values)."""
    x = spark.range(N_V).select(
        F.col("id").alias(ID), (F.col("id") % 7).cast("double").alias(VAL)
    )
    y = mpv(spark, _edges(spark, sf_dir), 3, x, alg.MIN_PLUS, frontier_nnz=N_V)
    return y.select(ID, F.round(VAL, 6).alias("dist"))


def q_label_prop1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One D⁻¹W random-walk label-propagation step with seed clamping and
    0.5 threshold (label.hpp:122-290), SQL-unrollable."""
    sym = _sym_edges(spark, sf_dir).withColumn(VAL, F.lit(1.0))
    y0 = spark.range(N_V).select(
        F.col("id").alias(ID),
        F.when(F.col("id") < LP_SEEDS, (F.col("id") % 2).cast("double"))
        .otherwise(F.lit(0.0))
        .alias(VAL),
    )
    res = label_propagation(spark, sym, y0, N_V, l=LP_SEEDS, max_iterations=2)
    return res.labels.select(ID, F.col(VAL).alias("label"))


def q_label_prop_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full label propagation to convergence. Oracle: LP_CONV_ROUNDS
    unrolled rounds — the sf0.01 fixture reaches its fixpoint after 1
    update, and at a fixpoint extra unrolled rounds are no-ops."""
    sym = _sym_edges(spark, sf_dir).withColumn(VAL, F.lit(1.0))
    y0 = spark.range(N_V).select(
        F.col("id").alias(ID),
        F.when(F.col("id") < LP_SEEDS, (F.col("id") % 2).cast("double"))
        .otherwise(F.lit(0.0))
        .alias(VAL),
    )
    res = label_propagation(spark, sym, y0, N_V, l=LP_SEEDS, max_iterations=100)
    return res.labels.select(ID, F.col(VAL).alias("label"))


def q_pregel_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALP's Pregel PageRank example (pregel_pagerank.hpp:53-215) with
    global halt votes — adaptive run to convergence. Oracle: the
    measured sf0.01 all-halt round count (PPR_CONV_UPDATES updates)
    unrolled; halt is only a vote in global mode, so every round is a
    full synchronous update and the unroll is exact."""
    res = pregel_pagerank(spark, _edges(spark, sf_dir), N_V)
    return res.state.select(ID, F.round("state", 6).alias("score"))


def q_pregel_pagerank3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pregel PageRank pinned to max_rounds=3 (program runs at rounds
    0..3) so the SQL oracle can unroll the superstep loop exactly —
    score_r = α + (1-α)·Σ_{i→j} out_{r-1}[i], out_r = score_r/outdeg."""
    res = pregel_pagerank(spark, _edges(spark, sf_dir), N_V, max_rounds=PPR_ROUNDS)
    return res.state.select(ID, F.round("state", 6).alias("score"))


# --------------------------------------------------------------------------
# events: plain relational agg (timestamps ride through natively)
# --------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _tbl(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


def _stage_stream_dir(sf_dir: str, table: str = "events") -> str:
    """Expose one read-only parquet file through a per-sf_dir symlink
    directory (the streaming file source wants a DIRECTORY). Handles
    dangling links after fixture regeneration and the exists/symlink
    TOCTOU of concurrent harness runs."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"alp_stream_{table}_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    target = f"{sf_dir}/{table}.parquet"
    if os.path.islink(link) and not os.path.exists(link):
        os.unlink(link)  # dangling: fixture was regenerated
    try:
        os.symlink(target, link)
    except FileExistsError:
        pass
    return d


def q_events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME hourly aggregation as a Structured Streaming job: file
    source -> watermark -> tumbling window -> AvailableNow drain into a
    memory sink. Shares events_hourly's DuckDB oracle — the streaming
    plan must converge to the batch answer over the same input."""
    from alp_spark.streaming import (
        hourly_event_counts,
        run_to_memory,
        stream_events,
    )

    d = _stage_stream_dir(sf_dir)
    ev = stream_events(spark, d).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = run_to_memory(
        hourly_event_counts(ev), spark, "q_events_hourly_stream",
        output_mode="complete",
    )
    return out.withColumn("hour", F.col("hour").cast("timestamp_ntz"))


# --------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings)
# --------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_tbl(spark, sf_dir, "documents"))


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword token estimate (class-run pre-tokenizer +
    ceil(len/4) pieces) — the regex token-counting twin of the
    whitespace token_stats."""
    from alp_spark.pipeline import bpe_token_count

    return bpe_token_count(_tbl(spark, sf_dir, "documents"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_tbl(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_tbl(spark, sf_dir, "documents"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprint(_tbl(spark, sf_dir, "documents"))


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_tbl(spark, sf_dir, "documents"))


def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with a round-robin repartition: the test corpora are
    single-split parquet files, which would serialize the per-row hash
    work (signatures, shingles) onto one core; one cheap shuffle of the
    raw text buys full-width parallelism. On a real many-split corpus
    the scan parallelism is already there and this is a no-op cost."""
    return _tbl(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(
        _docs_parallel(spark, sf_dir), num_hashes=MINHASHES, shingle_k=2
    )


def q_lsh_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures(
        _docs_parallel(spark, sf_dir), num_hashes=MINHASHES, shingle_k=2
    )
    return lsh_candidate_pairs(sigs, num_hashes=MINHASHES, band_size=BAND_SIZE)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-then-verify: exact n-gram Jaccard computed ONLY for MinHash
    band-collision candidates — candidate-proportional shuffle volume
    (hot shingles like 'of the' never cross-product). The corpus
    tokenize+shingle pass is computed ONCE (shared shingle_sets frame,
    persisted) and feeds both the signature build and the two verify
    join sides — it ran three times before (guide §2.3: scan the text
    once). The cache stays alive while the lazy result is (the
    random_walks posture)."""
    docs = _docs_parallel(spark, sf_dir)
    shs = shingle_sets(docs, shingle_k=2).persist()
    sigs = minhash_signatures(docs, num_hashes=MINHASHES, shingle_k=2, shingles=shs)
    cands = lsh_candidate_pairs(sigs, num_hashes=MINHASHES, band_size=BAND_SIZE)
    return ngram_jaccard_pairs(
        docs, shingle_k=2, threshold=JACCARD_MIN, candidates=cands, shingles=shs
    )


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup composition: exact dedup (keep min doc_id per
    text hash), then near-dup removal among the exact survivors —
    MinHash-LSH candidates verified by n-gram Jaccard >= threshold,
    dropping the larger doc_id of each qualifying pair (greedy
    keep-smallest; no transitive closure, so the rule is deterministic
    and mirrors in SQL). Returns surviving doc_ids."""
    docs = _docs_parallel(spark, sf_dir)
    exact_keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    kept = docs.join(exact_keep, on="doc_id", how="left_semi")
    shs = shingle_sets(kept, shingle_k=2).persist()
    sigs = minhash_signatures(kept, num_hashes=MINHASHES, shingle_k=2, shingles=shs)
    cands = lsh_candidate_pairs(sigs, num_hashes=MINHASHES, band_size=BAND_SIZE)
    near = ngram_jaccard_pairs(
        kept, shingle_k=2, threshold=DEDUP_JACCARD, candidates=cands, shingles=shs
    )
    drop = near.select(F.col("doc_b").alias("doc_id")).distinct()
    return kept.join(drop, on="doc_id", how="left_anti").select("doc_id")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: LSH candidates → exact-Jaccard
    verify → FastSV transitive closure over the verified pair graph
    (the distributed union-find-over-LSH-pairs step real dedup
    pipelines run); every doc gets (doc_id, cluster_id = min doc_id
    of its near-dup component), singletons are their own cluster."""
    from alp_spark.pipeline import dedup_clusters

    docs = _docs_parallel(spark, sf_dir)
    shs = shingle_sets(docs, shingle_k=2).persist()
    sigs = minhash_signatures(docs, num_hashes=MINHASHES, shingle_k=2, shingles=shs)
    cands = lsh_candidate_pairs(sigs, num_hashes=MINHASHES, band_size=BAND_SIZE)
    near = ngram_jaccard_pairs(
        docs, shingle_k=2, threshold=DEDUP_JACCARD, candidates=cands, shingles=shs
    )
    return dedup_clusters(spark, docs, near)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(_tbl(spark, sf_dir, "documents"))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(
        _tbl(spark, sf_dir, "embeddings"), k=ANN_K, n_queries=ANN_QUERIES
    )


def q_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-SRP candidates + exact cosine verify (LSH-then-verify) —
    no cross product anywhere in the plan; the brute-force all-pairs
    variant remains available as cosine_dup_pairs(candidates=None)."""
    emb = _tbl(spark, sf_dir, "embeddings")
    cands = srp_candidate_pairs(
        emb, dim=EMB_DIM, n_bands=SRP_BANDS, band_bits=SRP_BAND_BITS, seed=SRP_SEED
    )
    return cosine_dup_pairs(emb, threshold=DUP_COS, candidates=cands)


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-bucketed approximate NN. The random hyperplanes are
    deterministic plan literals (seeded RandomState), so the DuckDB
    oracle bakes the identical float64 literals and mirrors the plan."""
    return lsh_ann_topk(
        _tbl(spark, sf_dir, "embeddings"),
        dim=EMB_DIM,
        k=ANN_K,
        n_queries=ANN_QUERIES,
        n_planes=ANN_PLANES,
        seed=SRP_SEED,
    )


SPY_M = 32  # spy summary grid: 32×32 blocks over the N_V-vertex adjacency

SSSP_SOURCE = 0
# Bellman-Ford reaches its fixpoint in 4 rounds at sf0.01 (2 at
# sf0.001); extra unrolled rounds are no-ops at the fixpoint, so 8
# covers both fixtures with margin
SSSP_ROUNDS = 8


def _sssp_weight():
    """Deterministic per-edge weight ((7·src + 13·dst) mod 10)/10 + 0.1
    ∈ [0.1, 1.0] — identical arithmetic in Spark and the SQL oracle."""
    return ((F.col(SRC) * 7 + F.col(DST) * 13) % 10) / 10.0 + 0.1


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths: the reference's min-plus semiring
    example (examples/sp.cpp:104-107) run to the Bellman-Ford fixpoint
    over deterministically weighted driver edges. Sparse output —
    unreachable vertices are structurally absent. Oracle: SSSP_ROUNDS
    unrolled relax rounds (no-ops past the fixpoint)."""
    from alp_spark.algorithms.sssp import sssp

    e = _edges(spark, sf_dir).select(SRC, DST, _sssp_weight().alias(VAL))
    res = sssp(spark, e, N_V, SSSP_SOURCE)
    return res.dists.select(ID, F.round(VAL, 6).alias("dist"))

# HPCG fixture: 8×8×8 27-point stencil, one coarsening to 4×4×4, the
# reference diag/non-diag values (tests/smoke/hpcg.cpp:48-52); 3 stripe
# colors keep the per-iteration color sweep short (num_colors is a
# build parameter — the smoke default 27 changes only the sweep length)
HPCG_SIZES = (8, 8, 8)
HPCG_COARSE = (4, 4, 4)
HPCG_COLORS = 3
HPCG_DIAG = 26.0
HPCG_ITERS = 2  # pinned CG iterations (oracle-unrollable)
# hpcg2: a THREE-level hierarchy (16³ → 8³ → 4³) so the V-cycle
# recursion restricts/prolongates across two coarsenings
# (multigrid_v_cycle.hpp multi_grid:179-254 at depth > 1)
HPCG2_LEVELS = ((16, 16, 16), (8, 8, 8), (4, 4, 4))
HPCG2_ITERS = 2


def q_hpcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HPCG (hpcg.hpp:14-100 + multigrid_v_cycle.hpp + RBGS): 2 pinned
    multigrid-preconditioned CG iterations on the reference smoke
    system b = A·1 (tests/smoke/hpcg.cpp:221-228). Oracle: the stencil,
    injection map, color sweeps, V-cycle, and CG algebra fully unrolled
    as generated SQL."""
    from alp_spark.algorithms.hpcg import build_hpcg_system, hpcg

    system = build_hpcg_system(
        spark, HPCG_SIZES, num_colors=HPCG_COLORS, max_levels=1
    )
    ones = spark.range(system.n).select("id", F.lit(1.0).alias("val"))
    b = (
        system.A.join(
            ones.select(F.col("id").alias("col"), F.col("val").alias("_x")),
            on="col",
        )
        .groupBy(F.col("row").alias("id"))
        .agg(F.sum(F.col("val") * F.col("_x")).alias("val"))
    )
    res = hpcg(spark, system, b, max_iterations=HPCG_ITERS, tolerance=0.0)
    system.unpersist()  # x is a filled checkpoint
    return res.x.select("id", F.round("val", 6).alias("x"))


def q_hpcg2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HPCG across a three-level multigrid hierarchy (16³ → 8³ → 4³):
    the V-cycle recursion restricts/prolongates through TWO coarsenings
    before the coarsest sweep (multigrid_v_cycle.hpp:179-254 at depth
    2). Same b = A·1 smoke system and generated fully-unrolled SQL
    oracle technique as ``hpcg``."""
    from alp_spark.algorithms.hpcg import build_hpcg_system, hpcg

    system = build_hpcg_system(
        spark, HPCG2_LEVELS[0], num_colors=HPCG_COLORS, max_levels=2
    )
    assert system.coarser is not None and system.coarser.coarser is not None
    ones = spark.range(system.n).select("id", F.lit(1.0).alias("val"))
    b = (
        system.A.join(
            ones.select(F.col("id").alias("col"), F.col("val").alias("_x")),
            on="col",
        )
        .groupBy(F.col("row").alias("id"))
        .agg(F.sum(F.col("val") * F.col("_x")).alias("val"))
    )
    res = hpcg(spark, system, b, max_iterations=HPCG2_ITERS, tolerance=0.0)
    system.unpersist()  # x is a filled checkpoint
    return res.x.select("id", F.round("val", 6).alias("x"))


def q_spy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-density spy plot of the driver adjacency matrix
    (spy.hpp:195-226): nnz count per 32×32 summary cell, block index by
    the reference's float64 divide-and-truncate."""
    from alp_spark.algorithms import spy

    return spy(_edges(spark, sf_dir), N_V, N_V, SPY_M, SPY_M).select(
        "row_blk", "col_blk", F.col("count").alias("nnz")
    )


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-slice invariant as a driver query: synthesize the
    Common-Crawl-style pages table (url, warc_ts, html, text, lang) from
    the sf edge list, run the Arrow-vectorized extractor over html, and
    emit per url (a) byte-identity of extracted vs golden text — the
    north-rule per-row invariant — and (b) the extracted out-link count,
    which the oracle computes independently from the edge table."""
    from alp_spark.sources.extract import extract_links_udf, extract_text_udf
    from alp_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, N_V, _edges(spark, sf_dir))
    return pages.select(
        "url",
        (extract_text_udf(F.col("html")) == F.col("text")).alias("text_ok"),
        F.size(extract_links_udf(F.col("html"))).alias("n_links"),
    )


SESSION_GAP_MIN = 30


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based per-user sessionization of the events table (30-minute
    gap): one window pass + one rollup, microsecond integer gap
    arithmetic so the oracle agrees exactly."""
    from alp_spark.pipeline import sessionize

    return sessionize(_tbl(spark, sf_dir, "events"), gap_minutes=SESSION_GAP_MIN)


def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance of the embedding corpus from ONE
    distributed moment pass (pipeline/pca.py: per-batch Gram partials,
    map-side-combined, O(d²) driver traffic — the allreduce shape of
    base/collectives.hpp:121). The d×d reduction happens on the driver
    like the reference's own O(d³) steps (kmeans.hpp:158-161); oracle:
    DuckDB covar_samp over the exploded embedding positions."""
    from alp_spark.pipeline import embedding_moments
    from alp_spark.pipeline.pca import moments_to_covariance

    cells = embedding_moments(_tbl(spark, sf_dir, "embeddings")).collect()
    _, _, C = moments_to_covariance(cells)  # guards n >= 2
    rows = [
        (i, j, round(float(C[i, j]), 6))
        for i in range(EMB_DIM)
        for j in range(i, EMB_DIM)
    ]
    return spark.createDataFrame(rows, "i long, j long, cov double")


SAMPLE_FRACS = {"en": 0.5, "de": 0.2, "fr": 0.8}  # zh/es fall to default 0.1
SAMPLE_DEFAULT = 0.1
VAL_FRAC = 0.25


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language stratified sample of the documents
    table + stable train/val tagging (pipeline/sampling.py): membership
    is a pure function of (doc_id, salt) via md5, so the sample and the
    split survive repartitioning, resume, and corpus growth — and the
    oracle replays the identical arithmetic in DuckDB (md5 is
    byte-identical across engines; no RNG to mirror)."""
    from alp_spark.pipeline import sample_stratified, train_val_split

    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "lang")
    sampled = sample_stratified(
        docs, SAMPLE_FRACS, stratum="lang", key="doc_id",
        default_fraction=SAMPLE_DEFAULT,
    )
    return train_val_split(sampled, VAL_FRAC, key="doc_id").select(
        "doc_id", "lang", "split"
    )


def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME gap sessionization as a stateful Structured Streaming
    job: file source -> applyInPandasWithState per-user fold ->
    AvailableNow drain into a memory sink. A drained run emits every
    CLOSED session; each user's final session stays open in state, so
    the oracle is the batch sessionize result minus each user's last
    session (QUALIFY on max session_id per user)."""
    from alp_spark.pipeline import streaming_sessionize
    from alp_spark.streaming import run_to_memory, stream_events

    d = _stage_stream_dir(sf_dir)
    ev = stream_events(spark, d).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = run_to_memory(
        streaming_sessionize(ev, gap_minutes=SESSION_GAP_MIN),
        spark,
        "q_sessionize_stream",
    )
    return out.select(
        "user_id",
        "session_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        "total_value",
    )


def q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (the 4× storage path for a
    100 TB float32 embedding column), flattened to scalar rows for the
    oracle compare. Half-up floor rounding — portable across engines."""
    from alp_spark.pipeline import quantize_embeddings

    q = quantize_embeddings(_tbl(spark, sf_dir, "embeddings"))
    return q.select(
        "id", F.round("scale", 6).alias("scale"), F.posexplode("qvec")
    ).select(
        "id", "scale", F.col("pos").cast("long").alias("pos"),
        F.col("col").cast("long").alias("code"),
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN: kmeans-trained coarse quantizer (same KM_K /
    KM_SEED fixpoint the `kmeans` query pins), probe the IVF_PROBE
    nearest cells per query, exact-cosine rerank inside probed cells.
    The data-adaptive twin of lsh_ann_topk. Oracle: the unrolled kmeans
    CTE chain extended with probe selection + rerank."""
    from alp_spark.algorithms import kmeans
    from alp_spark.pipeline import ivf_topk

    emb = _tbl(spark, sf_dir, "embeddings")
    res = kmeans(
        spark, emb, k=KM_K, seed=KM_SEED, max_iter=40,
        id_col="vec_id", vec_col="embedding",
    )
    return ivf_topk(
        emb,
        res.centroids,
        k=ANN_K,
        n_queries=ANN_QUERIES,
        n_probe=IVF_PROBE,
        assignments=res.assignments,
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode through the REAL codec path with an EXACT
    oracle (VERDICT r4 item 3): build genuine P5-netpbm / PCM-WAV /
    RAWV payloads whose bytes are a pure integer function of doc_id
    (pipeline.multimodal.media_from_ids), push them through the
    mapInPandas decode + 16-bin histogram (extract_features
    decode='real' — the same plumbing a Pillow/PyAV deployment uses),
    and flatten the feature vectors to scalar rows. The oracle
    reproduces the decoded histogram purely arithmetically: bin =
    px//16 with px = (id·131+i·7) mod 251 (image/video, decode px/256)
    and bin = v//4096 with v = (id·37+i·11) mod 65536 (audio, decode
    v/65536); every value c/64 is dyadic-exact in both engines."""
    from alp_spark.pipeline import extract_features, media_from_ids

    docs = _tbl(spark, sf_dir, "documents").select("doc_id")
    feats = extract_features(media_from_ids(docs), decode="real")
    return feats.select(
        "media_id", "kind", F.posexplode("feature")
    ).select(
        "media_id",
        "kind",
        F.col("pos").cast("long").alias("pos"),
        F.col("col").cast("double").alias("val"),
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over RAWV video payloads (sample_frames every=2:
    frames 0,2,4,6 of 8), digested to per-frame byte length and byte
    sum so the binary slice boundaries are oracle-checkable: frame f
    covers raster bytes [f·8, (f+1)·8) of the 64-byte RAWV body, so
    frame_sum = Σ_j (id·131 + (f·8+j)·7) mod 251 — exact integers."""
    import numpy as np
    import pandas as pd

    from alp_spark.pipeline import media_from_ids, sample_frames

    vids = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 3 == 2)
    )
    frames = sample_frames(media_from_ids(vids), every=2)

    def digest(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"].astype("int64"),
                    "frame_len": [
                        len(p or b"") for p in pdf["frame_payload"]
                    ],
                    "frame_sum": [
                        int(np.frombuffer(p or b"", dtype=np.uint8)
                            .astype(np.int64).sum())
                        for p in pdf["frame_payload"]
                    ],
                }
            )

    return frames.mapInPandas(
        digest,
        schema="media_id long, frame_idx long, frame_len long, "
               "frame_sum long",
    )


PCA_K = 2
PCA_ITERS = 40
PCA_COV_DP = 6   # covariance/mean rounding grid (embed_covariance's)
PCA_VEC_DP = 9   # component/eigenvalue hand-off grid
PCA_OUT_DP = 6   # projected output grid
PCA_EPS = 1e-9


def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection + whitening end-to-end with an exact oracle
    (VERDICT r4 item 4): ONE distributed moment pass (O(d²) driver
    traffic), covariance and mean rounded to the embed_covariance grid,
    then a PINNED power-iteration/deflation fit (fit_pca_power — eigh
    is not SQL-expressible, so the oracle replays the identical pinned
    algorithm as an unrolled CTE chain, the kmeans/hpcg technique) and
    a transform_pca whitened projection whose k·d weights ride the plan
    as literals. Output: (vec_id, pc, val) rounded to 6 dp."""
    import numpy as np

    from alp_spark.pipeline import (
        PcaModel,
        embedding_moments,
        fit_pca_power,
        transform_pca,
    )
    from alp_spark.pipeline.pca import moments_to_covariance

    emb = _tbl(spark, sf_dir, "embeddings")
    cells = embedding_moments(emb).collect()
    n, mean, C = moments_to_covariance(cells)
    mean_r = np.round(mean, PCA_COV_DP)
    C_r = np.round(C, PCA_COV_DP)
    comps, lams = fit_pca_power(
        C_r, k=PCA_K, iters=PCA_ITERS, round_dp=PCA_VEC_DP
    )
    model = PcaModel(
        mean=mean_r.tolist(), components=comps, eigenvalues=lams, n=n
    )
    out = transform_pca(emb, model, whiten=True, eps=PCA_EPS)
    return out.select(
        "vec_id", F.posexplode("pca")
    ).select(
        "vec_id",
        F.col("pos").cast("long").alias("pc"),
        F.round("col", PCA_OUT_DP).alias("val"),
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark keyed on
    md5(text), streaming/windows.py) over the documents table staged as
    a file stream with a deterministic event time ts = epoch +
    doc_id seconds (all inside one watermark horizon, so nothing is
    evicted mid-drain and the emitted set is exactly one row per
    distinct text). Only the text hash is returned — WHICH duplicate
    row survives is first-arrival nondeterministic, but the surviving
    hash set equals batch DISTINCT md5(text)."""
    from alp_spark.streaming import run_to_memory, stream_events

    d = _stage_stream_dir(sf_dir, table="documents")
    docs = stream_events(spark, d).withColumn(
        "ts",
        (F.lit(1_600_000_000).cast("long") + F.col("doc_id"))
        .cast("timestamp"),
    )
    from alp_spark.streaming.windows import streaming_exact_dedup

    out = run_to_memory(
        streaming_exact_dedup(docs, ts_col="ts", watermark="24 hours"),
        spark,
        "q_stream_dedup",
    )
    return out.select(F.col("text_hash"))


# --------------------------------------------------------------------------
# driver entry points
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 5-iteration dangling-corrected PageRank on the sf0.001
    lineitem-derived link graph."""
    return q_pagerank5(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "out_degree": q_out_degree,
        "degrees_union": q_degrees_union,
        "degrees_intersection": q_degrees_intersection,
        "dot_degrees": q_dot_degrees,
        "pagerank5": q_pagerank5,
        "ppr5": q_ppr5,
        "pagerank5_csr": q_pagerank5_csr,
        "pagerank_conv": q_pagerank_conv,
        "top_rank_vertex": q_top_rank_vertex,
        "fma_degrees": q_fma_degrees,
        "out_degree_salted": q_out_degree_salted,
        "norm2_degrees": q_norm2_degrees,
        "mxm_wedges": q_mxm_wedges,
        "kcore": q_kcore,
        "connected_components": q_connected_components,
        "fastsv_cc": q_fastsv_cc,
        "cc_sizes": q_cc_sizes,
        "triangle_count": q_triangle_count,
        "hits5": q_hits5,
        "link_predict": q_link_predict,
        "reciprocity": q_reciprocity,
        "assortativity": q_assortativity,
        "clustering_coeff": q_clustering_coeff,
        "host_pagerank": q_host_pagerank,
        "mis": q_mis,
        "rep_stats": q_rep_stats,
        "scc": q_scc,
        "bowtie": q_bowtie,
        "truss": q_truss,
        "neighborhood_fn": q_neighborhood_fn,
        "ppr_multi": q_ppr_multi,
        "anf3": q_anf3,
        "random_walks": q_random_walks,
        "khop2": q_khop2,
        "mpv3_minplus": q_mpv3_minplus,
        "label_prop1": q_label_prop1,
        "label_prop_converged": q_label_prop_converged,
        "pregel_pagerank": q_pregel_pagerank,
        "pregel_pagerank3": q_pregel_pagerank3,
        "cg3": q_cg3,
        "bicgstab": q_bicgstab,
        "kmeans": q_kmeans,
        "sparse_nn": q_sparse_nn,
        "events_hourly": q_events_hourly,
        "events_hourly_stream": q_events_hourly_stream,
        "token_stats": q_token_stats,
        "bpe_tokens": q_bpe_tokens,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "exact_dedup": q_exact_dedup,
        "minhash_signatures": q_minhash_signatures,
        "lsh_dup_pairs": q_lsh_dup_pairs,
        "dedup_survivors": q_dedup_survivors,
        "dedup_clusters": q_dedup_clusters,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash": q_simhash,
        "ann_topk": q_ann_topk,
        "cosine_dup_pairs": q_cosine_dup_pairs,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ivf_topk": q_ivf_topk,
        "spy": q_spy,
        "extract_text": q_extract_text,
        "hpcg": q_hpcg,
        "hpcg2": q_hpcg2,
        "sssp": q_sssp,
        "quantize": q_quantize,
        "sessionize": q_sessionize,
        "sessionize_stream": q_sessionize_stream,
        "sample_split": q_sample_split,
        "embed_covariance": q_embed_covariance,
        "media_features": q_media_features,
        "video_frames": q_video_frames,
        "stream_dedup": q_stream_dedup,
        "pca_project": q_pca_project,
    }


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect where ANSI falls short: list lambdas)
# --------------------------------------------------------------------------

def _pagerank_rounds_sql(iters: int, cte: str = "") -> str:
    """The ``WITH`` body of the unrolled power iteration: rank vectors
    ``p0 .. p{iters}`` over ``v``; ``cte`` qualifies each round's CTE."""
    n, a = N_V, 0.85
    steps = []
    prev = "p0"
    for k in range(1, iters + 1):
        steps.append(f"""p{k} AS {cte}(
  SELECT v.id,
         coalesce(s.contrib, 0)
         + ({a} * (SELECT coalesce(sum(p.rank), 0) FROM {prev} p
                   LEFT JOIN outdeg o ON p.id = o.src WHERE o.src IS NULL)
            + {1 - a}) / {n} AS rank
  FROM v LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank * ({a} / o.d)) AS contrib
    FROM {prev} p JOIN outdeg o ON p.id = o.src JOIN edges e ON e.src = p.id
    GROUP BY e.dst
  ) s ON v.id = s.id
)""")
        prev = f"p{k}"
    joined = ",\n".join(steps)
    return f"""{E_SQL},
outdeg AS (SELECT src, count(*)::DOUBLE AS d FROM edges GROUP BY src),
v AS (SELECT id FROM range({n}) t(id)),
p0 AS (SELECT id, 1.0 / {n} AS rank FROM v),
{joined}"""


def _pagerank5_sql(iters: int = PR_ITERS) -> str:
    return f"""WITH {_pagerank_rounds_sql(iters)}
SELECT id, round(rank, 6) AS rank FROM p{iters}"""


def _pagerank_conv_sql(cap: int = PR_CONV_MAX_ITER) -> str:
    """PageRank to the engine's stop rule at any depth: unroll ``cap``
    rounds, take each round's L1 residual against the previous one and
    emit the first round with residual <= PR_CONV_TOL (the cap when none
    is), with that round as ``iters``."""
    rounds = "\n  UNION ALL ".join(
        f"SELECT {k} AS k, id, rank FROM p{k}" for k in range(cap + 1)
    )
    return f"""WITH {_pagerank_rounds_sql(cap, cte="MATERIALIZED ")},
ps AS MATERIALIZED (
  {rounds}
),
res AS (
  SELECT c.k, sum(abs(c.rank - p.rank)) AS r
  FROM ps c JOIN ps p ON p.id = c.id AND p.k = c.k - 1
  GROUP BY c.k
),
stop AS (
  SELECT coalesce(min(k) FILTER (WHERE r <= {PR_CONV_TOL}), {cap}) AS k FROM res
)
SELECT ps.id, round(ps.rank, 6) AS rank, ps.k AS iters
FROM ps JOIN stop ON ps.k = stop.k"""


def _hits_sql(iters: int = HITS_ITERS) -> str:
    """Unrolled HITS: per round an authority SpMV (join src, group dst)
    + 2-norm scale, then a hub SpMV (join dst, group src) + 2-norm
    scale — mirroring algorithms/hits.py step for step."""
    steps = []
    prev_h = "h0"
    for k in range(1, iters + 1):
        # MATERIALIZED: each a{k}r/h{k}r is referenced twice (FROM + the
        # scalar-norm subquery); without it DuckDB inlines the CTE and
        # re-expands the whole iteration chain exponentially.
        steps.append(f"""a{k}r AS MATERIALIZED (
  SELECT e.dst AS id, sum(h.val) AS val
  FROM {prev_h} h JOIN edges e ON e.src = h.id GROUP BY e.dst
),
a{k} AS MATERIALIZED (
  SELECT id, val / (SELECT sqrt(sum(val * val)) FROM a{k}r) AS val
  FROM a{k}r
),
h{k}r AS MATERIALIZED (
  SELECT e.src AS id, sum(a.val) AS val
  FROM a{k} a JOIN edges e ON e.dst = a.id GROUP BY e.src
),
h{k} AS MATERIALIZED (
  SELECT id, val / (SELECT sqrt(sum(val * val)) FROM h{k}r) AS val
  FROM h{k}r
)""")
        prev_h = f"h{k}"
    joined = ",\n".join(steps)
    return f"""WITH {E_SQL},
v AS (SELECT id FROM range({N_V}) t(id)),
h0 AS (SELECT id, 1.0 AS val FROM v),
{joined}
SELECT v.id,
       round(coalesce(a.val, 0), 6) AS authority,
       round(coalesce(h.val, 0), 6) AS hub
FROM v
LEFT JOIN a{iters} a ON a.id = v.id
LEFT JOIN h{iters} h ON h.id = v.id"""


def _ppr5_sql() -> str:
    """Unrolled personalized PageRank (mirrors simple_pagerank with
    teleport): p0 = v; per round the dangling+teleport scalar mass
    multiplies the per-vertex teleport value instead of dividing by n."""
    n, a = N_V, 0.85
    tele_case = "CASE " + " ".join(
        f"WHEN v.id = {i} THEN {w!r}" for i, w in PPR_SEEDS
    ) + " ELSE 0.0 END"
    steps = []
    prev = "p0"
    for k in range(1, PR_ITERS + 1):
        steps.append(f"""p{k} AS (
  SELECT v.id,
         coalesce(s.contrib, 0)
         + ({a} * (SELECT coalesce(sum(p.rank), 0) FROM {prev} p
                   LEFT JOIN outdeg o ON p.id = o.src WHERE o.src IS NULL)
            + {1 - a}) * ({tele_case}) AS rank
  FROM v LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank * ({a} / o.d)) AS contrib
    FROM {prev} p JOIN outdeg o ON p.id = o.src JOIN edges e ON e.src = p.id
    GROUP BY e.dst
  ) s ON v.id = s.id
)""")
        prev = f"p{k}"
    joined = ",\n".join(steps)
    return f"""WITH {E_SQL},
outdeg AS (SELECT src, count(*)::DOUBLE AS d FROM edges GROUP BY src),
v AS (SELECT id FROM range({n}) t(id)),
p0 AS (SELECT id, {tele_case.replace("v.id", "id")} AS rank FROM v),
{joined}
SELECT id, round(rank, 6) AS rank FROM {prev}"""


def _mpv3_sql() -> str:
    steps = []
    prev = "x"
    for k in range(1, 4):
        # mxv is row-oriented: y[i] = min over out-neighbours j of x[j]
        steps.append(
            f"y{k} AS (SELECT e.src AS id, min({prev}.v) AS v FROM edges e "
            f"JOIN {prev} ON e.dst = {prev}.id GROUP BY e.src)"
        )
        prev = f"y{k}"
    joined = ",\n".join(steps)
    return f"""WITH {E_SQL},
x AS (SELECT id, (id % 7)::DOUBLE AS v FROM range({N_V}) t(id)),
{joined}
SELECT id, round(v, 6) AS dist FROM y3"""


def _pregel_pagerank_sql(rounds: int = PPR_ROUNDS) -> str:
    """Unrolled Pregel-PageRank supersteps (pregel_pagerank.hpp:87-144):
    s0: score=1, out=1/outdeg; s_r: score = α + (1-α)·Σ in-msgs,
    out = score/outdeg where outdeg>0 else previous out. ``rounds`` =
    number of score updates after the round-0 init: PPR_ROUNDS for the
    pinned query, PPR_CONV_UPDATES (the measured sf0.01 all-halt round
    count minus the init round) for the adaptive one — global-halt mode
    runs full synchronous updates every round, so the unroll is exact."""
    a = 0.15  # reference default alpha (pregel_pagerank.hpp:64)
    steps = []
    prev = "s0"
    for r in range(1, rounds + 1):
        steps.append(f"""s{r} AS MATERIALIZED (
  SELECT p.id,
         {a} + {1 - a} * coalesce(m.msg, 0) AS score,
         CASE WHEN d.d > 0
              THEN ({a} + {1 - a} * coalesce(m.msg, 0)) / d.d
              ELSE p.out END AS out
  FROM {prev} p
  LEFT JOIN (
    SELECT e.dst AS id, sum(q.out) AS msg
    FROM edges e JOIN {prev} q ON q.id = e.src
    GROUP BY e.dst
  ) m ON m.id = p.id
  LEFT JOIN outdeg d ON d.id = p.id
)""")
        prev = f"s{r}"
    joined = ",\n".join(steps)
    return f"""WITH {E_SQL},
outdeg AS (SELECT src AS id, count(*)::DOUBLE AS d FROM edges GROUP BY src),
v AS (SELECT id FROM range({N_V}) t(id)),
s0 AS (
  SELECT v.id, 1.0 AS score,
         CASE WHEN coalesce(d.d, 0) > 0 THEN 1.0 / d.d ELSE 0.0 END AS out
  FROM v LEFT JOIN outdeg d ON d.id = v.id
),
{joined}
SELECT id, round(score, 6) AS score FROM {prev}"""


def _host_pagerank_sql(iters: int = PR_ITERS) -> str:
    """Unrolled WEIGHTED PageRank over the coarsened host graph.
    ``hedges`` replays coarsen_edges + the url→host mapping arithmetic
    (host of page id = id % N_HOSTS by the ingest url scheme,
    sources/pages.py:url_of); rank flows ∝ w / Σ_out w."""
    h, a = N_HOSTS, 0.85
    steps = []
    prev = "p0"
    for k in range(1, iters + 1):
        steps.append(f"""p{k} AS (
  SELECT v.id,
         coalesce(s.contrib, 0)
         + ({a} * (SELECT coalesce(sum(p.rank), 0) FROM {prev} p
                   LEFT JOIN outw o ON p.id = o.src WHERE o.src IS NULL)
            + {1 - a}) / {h} AS rank
  FROM v LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank * ({a} * e.w / o.sw)) AS contrib
    FROM {prev} p JOIN outw o ON p.id = o.src JOIN hedges e ON e.src = p.id
    GROUP BY e.dst
  ) s ON v.id = s.id
)""")
        prev = f"p{k}"
    joined = ",\n".join(steps)
    return f"""WITH {E_SQL},
hedges AS (
  SELECT src % {N_HOSTS} AS src, dst % {N_HOSTS} AS dst,
         count(*)::DOUBLE AS w
  FROM edges WHERE src % {N_HOSTS} <> dst % {N_HOSTS} GROUP BY 1, 2
),
outw AS (SELECT src, sum(w) AS sw FROM hedges GROUP BY src),
v AS (SELECT id FROM range({h}) t(id)),
p0 AS (SELECT id, 1.0 / {h} AS rank FROM v),
{joined}
SELECT printf('site%04d.example', id) AS host, round(rank, 6) AS rank
FROM {prev}"""


def _mis_sql(rounds: int) -> str:
    """Unrolled deterministic-priority Luby MIS (algorithms/mis.py).
    Rounds beyond the fixpoint are no-ops (no undecided vertices → no
    winners → state unchanged), so ``rounds`` only needs to be ≥ the
    measured count. MATERIALIZED pins each per-round CTE — the state
    is referenced four times per round and DuckDB would otherwise
    inline it into an exponentially-expanding tree (the _hits_sql
    lesson)."""
    steps = []
    prev = "s0"
    for k in range(1, rounds + 1):
        steps.append(f"""m{k} AS MATERIALIZED (
  SELECT e.src AS id, min(u2.p) AS mn
  FROM sym e
  JOIN {prev} u2 ON u2.id = e.dst AND u2.st = 0
  JOIN {prev} u1 ON u1.id = e.src AND u1.st = 0
  GROUP BY e.src
),
w{k} AS MATERIALIZED (
  SELECT s.id FROM {prev} s LEFT JOIN m{k} m ON s.id = m.id
  WHERE s.st = 0 AND (m.mn IS NULL OR s.p < m.mn)
),
nb{k} AS MATERIALIZED (
  SELECT DISTINCT e.dst AS id FROM sym e JOIN w{k} w ON e.src = w.id
),
s{k} AS MATERIALIZED (
  SELECT s.id, s.p,
         CASE WHEN s.st <> 0 THEN s.st
              WHEN w.id IS NOT NULL THEN 1
              WHEN n.id IS NOT NULL THEN 2
              ELSE 0 END AS st
  FROM {prev} s LEFT JOIN w{k} w ON s.id = w.id
  LEFT JOIN nb{k} n ON s.id = n.id
)""")
        prev = f"s{k}"
    joined = ",\n".join(steps)
    return f"""WITH {E_SQL},
{SYM_SQL},
s0 AS MATERIALIZED (
  SELECT id, (id * {PRIO_MULT}) % {PRIO_MOD} AS p, 0 AS st
  FROM range({N_V}) t(id)
),
{joined}
SELECT id FROM {prev} WHERE st = 1"""


def _truss_sql(k: int, rounds: int) -> str:
    """Unrolled k-truss peel (algorithms/truss.py): per round a wedge
    join computes in-subgraph triangle support per canonical edge and
    edges below k−2 drop; the peel is monotone, so rounds past the
    fixpoint are exact no-ops."""
    need = k - 2
    steps = []
    prev = "t0"
    for r in range(1, rounds + 1):
        steps.append(f"""y{r} AS MATERIALIZED (
  SELECT u AS a, v AS b FROM {prev}
  UNION ALL SELECT v, u FROM {prev}
),
t{r} AS MATERIALIZED (
  SELECT t.u, t.v
  FROM {prev} t
  JOIN y{r} p ON p.a = t.u
  JOIN y{r} q ON q.a = t.v AND q.b = p.b
  GROUP BY t.u, t.v
  HAVING count(*) >= {need}
)""")
        prev = f"t{r}"
    joined = ",\n".join(steps)
    return f"""WITH {E_SQL},
{SYM_SQL},
t0 AS MATERIALIZED (SELECT src AS u, dst AS v FROM sym WHERE src < dst),
{joined}
SELECT u AS src, v AS dst FROM {prev}"""


def _ppr_multi_sql(seeds: list[int], rounds: int) -> str:
    """Unrolled batched PPR: one independent point-mass chain per seed
    (the _ppr5_sql formula with tele = [id = seed]), UNION ALL'd."""
    n, a = N_V, 0.85
    ctes = []
    sels = []
    for s in seeds:
        prev = f"q{s}p0"
        ctes.append(
            f"{prev} AS (SELECT id, CASE WHEN id = {s} THEN 1.0 ELSE 0.0 END"
            " AS rank FROM v)"
        )
        for k in range(1, rounds + 1):
            cur = f"q{s}p{k}"
            ctes.append(f"""{cur} AS (
  SELECT v.id,
         coalesce(c.contrib, 0)
         + ({a} * (SELECT coalesce(sum(p.rank), 0) FROM {prev} p
                   LEFT JOIN outdeg o ON p.id = o.src WHERE o.src IS NULL)
            + {1 - a}) * (CASE WHEN v.id = {s} THEN 1.0 ELSE 0.0 END) AS rank
  FROM v LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank * ({a} / o.d)) AS contrib
    FROM {prev} p JOIN outdeg o ON p.id = o.src JOIN edges e ON e.src = p.id
    GROUP BY e.dst
  ) c ON v.id = c.id
)""")
            prev = cur
        sels.append(
            f"SELECT {s}::BIGINT AS seed, id, round(rank, 6) AS rank"
            f" FROM {prev}"
        )
    joined = ",\n".join(ctes)
    union = "\n  UNION ALL ".join(sels)
    return f"""WITH {E_SQL},
outdeg AS (SELECT src, count(*)::DOUBLE AS d FROM edges GROUP BY src),
v AS (SELECT id FROM range({n}) t(id)),
{joined}
SELECT * FROM ({union}) u"""


def _anf_sql(rounds: int) -> str:
    """Unrolled FM bit-OR propagation (algorithms/anf.py): per round a
    bit_or pull over out-edges merged into the running sketch; the init
    and estimate replay fm_init_col / fm_estimate_col arithmetic."""
    from alp_spark.algorithms.anf import FM_PHI, HASH_SALT

    steps = []
    prev = "s0"
    for k in range(1, rounds + 1):
        steps.append(f"""s{k} AS MATERIALIZED (
  SELECT s.id, s.s | coalesce(n.o, 0) AS s
  FROM {prev} s LEFT JOIN (
    SELECT e.src AS id, bit_or(x.s) AS o
    FROM edges e JOIN {prev} x ON x.id = e.dst GROUP BY e.src
  ) n ON n.id = s.id
)""")
        prev = f"s{k}"
    joined = ",\n".join(steps)
    return f"""WITH {E_SQL},
h0 AS (SELECT id, (id * {PRIO_MULT} + {HASH_SALT}) % {PRIO_MOD} AS h
       FROM range({N_V}) t(id)),
s0 AS MATERIALIZED (
  SELECT id, CASE WHEN h = 0 THEN {PRIO_MOD} ELSE h & -h END AS s FROM h0
),
{joined}
SELECT id, s AS sketch, round(((~s) & (s + 1)) / {FM_PHI}, 6) AS est_reach
FROM {prev}"""


def _nf_sql(rounds: int) -> str:
    """Unrolled neighbourhood function: the _anf_sql propagation chain
    with a per-hop aggregate off each MATERIALIZED state — summing the
    EXACT integer 2^R values and dividing by φ once (order-proof)."""
    from alp_spark.algorithms.anf import FM_PHI, HASH_SALT

    steps = []
    prev = "s0"
    for k in range(1, rounds + 1):
        steps.append(f"""s{k} AS MATERIALIZED (
  SELECT s.id, s.s | coalesce(n.o, 0) AS s
  FROM {prev} s LEFT JOIN (
    SELECT e.src AS id, bit_or(x.s) AS o
    FROM edges e JOIN {prev} x ON x.id = e.dst GROUP BY e.src
  ) n ON n.id = s.id
)""")
        prev = f"s{k}"
    joined = ",\n".join(steps)
    sels = "\n  UNION ALL ".join(
        f"SELECT {h}::BIGINT AS hop,"
        f" round(sum((~s) & (s + 1))::DOUBLE / {FM_PHI}, 6) AS n_pairs"
        f" FROM s{h}"
        for h in range(1, rounds + 1)
    )
    return f"""WITH {E_SQL},
h0 AS (SELECT id, (id * {PRIO_MULT} + {HASH_SALT}) % {PRIO_MOD} AS h
       FROM range({N_V}) t(id)),
s0 AS MATERIALIZED (
  SELECT id, CASE WHEN h = 0 THEN {PRIO_MOD} ELSE h & -h END AS s FROM h0
),
{joined}
SELECT * FROM ({sels}) u"""


def _walks_sql(length: int, seed: int = 0) -> str:
    """Unrolled deterministic walks (pipeline/walks.py): dst-ranked
    neighbour table + per-step hash-mod-degree pick; sinks simply emit
    no rows for later steps."""
    from alp_spark.pipeline.walks import STEP_SALT

    parts = ["SELECT start, 0 AS step, cur AS vertex FROM w0"]
    steps = []
    prev = "w0"
    for t in range(1, length + 1):
        steps.append(f"""w{t} AS MATERIALIZED (
  SELECT w.start, n.dst AS cur
  FROM {prev} w
  JOIN deg g ON g.src = w.cur
  JOIN nbr n ON n.src = w.cur
   AND n.i = (w.start * {PRIO_MULT} + {t} * {STEP_SALT} + {seed})
              % {PRIO_MOD} % g.d
)""")
        parts.append(f"SELECT start, {t} AS step, cur AS vertex FROM w{t}")
        prev = f"w{t}"
    joined = ",\n".join(steps)
    union = "\n  UNION ALL ".join(parts)
    return f"""WITH {E_SQL},
nbr AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS i
  FROM edges
),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
w0 AS (SELECT id AS start, id AS cur FROM range({N_V}) t(id)),
{joined}
SELECT start, step::BIGINT AS step, vertex FROM ({union}) u"""


def _label_prop_sql(rounds: int) -> str:
    """Unrolled random-walk label-propagation rounds (label.hpp:122-290,
    mirrors algorithms/label_propagation.py): per round, f[i] :=
    seed-clamped threshold( (Σ_j W[i,j]·f[j]) · (1/deg[i]) ) at 0.5.
    The threshold multiplies by a precomputed 1/deg — NOT a division —
    to match the engine's IEEE-754 rounding bit-for-bit at ties.
    Isolated vertices (no dinv row) fall to the ELSE branch = 1.0 in
    both engines (NULL comparison). At the fixpoint extra rounds are
    no-ops, so any ``rounds`` ≥ the measured convergence count is
    exact for the converged variant."""
    steps = []
    prev = "f0"
    for t in range(1, rounds + 1):
        steps.append(f"""w{t} AS MATERIALIZED (
  SELECT s.src AS id, sum(y.v) AS v FROM sym s JOIN {prev} y ON s.dst = y.id
  GROUP BY s.src
),
f{t} AS MATERIALIZED (
  SELECT f.id,
         CASE WHEN f.id < {LP_SEEDS} THEN (f.id % 2)::DOUBLE
              WHEN coalesce(w.v, 0.0) * (1.0 / deg.d) < 0.5 THEN 0.0
              ELSE 1.0 END AS v
  FROM {prev} f
  LEFT JOIN deg ON deg.id = f.id
  LEFT JOIN w{t} w ON w.id = f.id
)""")
        prev = f"f{t}"
    joined = ",\n".join(steps)
    return f"""WITH {E_SQL},
{SYM_SQL},
f0 AS (
  SELECT id,
         CASE WHEN id < {LP_SEEDS} THEN (id % 2)::DOUBLE ELSE 0.0 END AS v
  FROM range({N_V}) t(id)
),
deg AS (SELECT src AS id, count(*)::DOUBLE AS d FROM sym GROUP BY src),
{joined}
SELECT id, v AS label FROM {prev}"""


def _bicgstab_sql() -> str:
    """Unrolled BiCGstab iterations over the Laplacian+2I system
    (mirrors algorithms/solvers.py:bicgstab with tol→0, so no
    stabilisation/breakdown exit fires): per iteration
    beta = (rho/rho_old)(alpha/omega); p := r + beta(p - omega v);
    v := A p; alpha := rho/(rhat,v); s := r - alpha v; t := A s;
    omega := (t,s)/(t,t); x += alpha p + omega s; r := s - omega t;
    rho_old := rho; rho := (rhat, r)."""
    steps = []
    prev, prev_sc = "st0", "sc0"
    for k in range(1, BICG_ITERS + 1):
        steps.append(f"""sp{k} AS MATERIALIZED (
  SELECT s.id, s.x, s.r, s.rhat,
         s.r + (sc.rho / sc.rho_old) * (sc.alpha / sc.omega)
             * (s.p - sc.omega * s.v) AS p
  FROM {prev} s CROSS JOIN {prev_sc} sc
),
v{k} AS MATERIALIZED (
  SELECT a.src AS id, sum(a.val * s.p) AS v
  FROM A a JOIN sp{k} s ON s.id = a.dst GROUP BY a.src
),
al{k} AS MATERIALIZED (
  SELECT sc.rho / (SELECT sum(s.rhat * v.v)
                   FROM sp{k} s JOIN v{k} v ON v.id = s.id) AS alpha
  FROM {prev_sc} sc
),
ss{k} AS MATERIALIZED (
  SELECT s.id, s.x, s.r, s.rhat, s.p, coalesce(v.v, 0) AS v,
         s.r - al.alpha * coalesce(v.v, 0) AS s
  FROM sp{k} s LEFT JOIN v{k} v ON v.id = s.id CROSS JOIN al{k} al
),
t{k} AS MATERIALIZED (
  SELECT a.src AS id, sum(a.val * s.s) AS t
  FROM A a JOIN ss{k} s ON s.id = a.dst GROUP BY a.src
),
om{k} AS MATERIALIZED (
  SELECT sum(s.s * t.t) / sum(t.t * t.t) AS omega
  FROM ss{k} s JOIN t{k} t ON t.id = s.id
),
st{k} AS MATERIALIZED (
  SELECT s.id,
         s.x + al.alpha * s.p + om.omega * s.s AS x,
         s.s - om.omega * coalesce(t.t, 0) AS r,
         s.rhat, s.p, s.v
  FROM ss{k} s LEFT JOIN t{k} t ON t.id = s.id
  CROSS JOIN al{k} al CROSS JOIN om{k} om
),
sc{k} AS MATERIALIZED (
  SELECT (SELECT sum(rhat * r) FROM st{k}) AS rho,
         sc.rho AS rho_old, al.alpha AS alpha, om.omega AS omega
  FROM {prev_sc} sc CROSS JOIN al{k} al CROSS JOIN om{k} om
)""")
        prev, prev_sc = f"st{k}", f"sc{k}"
    joined = ",\n".join(steps)
    return f"""WITH edges AS MATERIALIZED (
  SELECT DISTINCT l_partkey % {N_V} AS src, l_suppkey % {N_V} AS dst
  FROM lineitem
  WHERE l_partkey % {N_V} <> l_suppkey % {N_V}
),
sym AS MATERIALIZED (
  SELECT src, dst FROM edges
  UNION
  SELECT dst AS src, src AS dst FROM edges
),
A AS MATERIALIZED (
  SELECT src, dst, -1.0 AS val FROM sym
  UNION ALL
  SELECT v.id AS src, v.id AS dst, coalesce(d.d, 0) + 2.0 AS val
  FROM range({N_V}) v(id)
  LEFT JOIN (SELECT src, count(*) AS d FROM sym GROUP BY src) d ON d.src = v.id
),
st0 AS MATERIALIZED (
  SELECT id, 0.0 AS x,
         ((id % 10) + 1) / 10.0 AS r,
         ((id % 10) + 1) / 10.0 AS rhat,
         0.0 AS p, 0.0 AS v
  FROM range({N_V}) t(id)
),
sc0 AS MATERIALIZED (
  SELECT sum(r * r) AS rho, 1.0 AS rho_old, 1.0 AS alpha, 1.0 AS omega
  FROM st0
),
{joined}
SELECT id, round(x, 6) AS x FROM st{BICG_ITERS}"""


def _kmeans_ctes() -> str:
    """Unrolled kpp seeding + Lloyd rounds (mirrors
    algorithms/kmeans.py, reference kmeans.hpp:60-373). The kpp random
    draws are the same seeded ``kpp_draws`` literals the runtime
    consumes; the selection scan reproduces the reference quirk of
    scanning latest-centroid distances against the Σ-min-distances
    range. Assignment ties break to the smaller cluster index in both
    engines (array_min struct order ↔ ORDER BY d, c). Returns the CTE
    block chain ending at assignments a{T} / distances dd{T} /
    centroids k{T} — shared by the kmeans and ivf_topk oracles."""
    from alp_spark.algorithms.kmeans import kpp_draws

    first, samples = kpp_draws(KM_N, KM_K, KM_SEED)
    blocks = [f"""pts AS MATERIALIZED (
  SELECT vec_id AS id, t.p AS pos, CAST(embedding[t.p + 1] AS DOUBLE) AS val
  FROM embeddings, range({EMB_DIM}) t(p)
),
emb_ids AS MATERIALIZED (SELECT DISTINCT id FROM pts),
sel0 AS MATERIALIZED (SELECT id FROM emb_ids ORDER BY id LIMIT 1 OFFSET {first}),
c0 AS MATERIALIZED (
  SELECT pos, val FROM pts WHERE id = (SELECT id FROM sel0)
),
m0 AS MATERIALIZED (SELECT id, 1e308 AS mind FROM emb_ids)"""]
    for l in range(1, KM_K):
        blocks.append(f"""d{l} AS MATERIALIZED (
  SELECT p.id, sum((p.val - c.val) * (p.val - c.val)) AS d
  FROM pts p JOIN c{l - 1} c USING (pos) GROUP BY p.id
),
m{l} AS MATERIALIZED (
  SELECT m.id, least(m.mind, d.d) AS mind FROM m{l - 1} m JOIN d{l} d USING (id)
),
r{l} AS MATERIALIZED (SELECT sum(mind) AS rng FROM m{l}),
cum{l} AS MATERIALIZED (
  SELECT d.id,
         sum(d.d / r.rng) OVER (ORDER BY d.id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d{l} d CROSS JOIN r{l} r
),
sel{l} AS MATERIALIZED (
  SELECT coalesce((SELECT min(id) FROM cum{l} WHERE cum >= {samples[l - 1]!r}),
                  (SELECT max(id) FROM emb_ids)) AS id
),
c{l} AS MATERIALIZED (
  SELECT pos, val FROM pts WHERE id = (SELECT id FROM sel{l})
)""")
    k0 = " UNION ALL ".join(
        f"SELECT {j} AS c, pos, val FROM c{j}" for j in range(KM_K)
    )
    blocks.append(f"k0 AS MATERIALIZED ({k0})")
    for t in range(1, KM_SQL_ROUNDS + 1):
        blocks.append(f"""dd{t} AS MATERIALIZED (
  SELECT p.id, k.c, sum((p.val - k.val) * (p.val - k.val)) AS d
  FROM pts p JOIN k{t - 1} k USING (pos) GROUP BY p.id, k.c
),
a{t} AS MATERIALIZED (
  SELECT id, c, d FROM (
    SELECT id, c, d,
           row_number() OVER (PARTITION BY id ORDER BY d, c) AS rn
    FROM dd{t}
  ) WHERE rn = 1
),
k{t} AS MATERIALIZED (
  SELECT o.c, o.pos, coalesce(nv.val, o.val) AS val
  FROM k{t - 1} o LEFT JOIN (
    SELECT a.c, p.pos, sum(p.val) / count(*) AS val
    FROM a{t} a JOIN pts p USING (id) GROUP BY a.c, p.pos
  ) nv ON nv.c = o.c AND nv.pos = o.pos
)""")
    return ",\n".join(blocks)


def _kmeans_sql() -> str:
    return f"""WITH {_kmeans_ctes()}
SELECT id, c AS cluster, round(d, 6) AS dist FROM a{KM_SQL_ROUNDS}"""


def _ivf_sql() -> str:
    """IVF probe + rerank over the kmeans fixpoint (mirrors
    pipeline/similarity.ivf_topk): per query, the IVF_PROBE nearest
    cells by the final per-(id, cell) distances dd{{T}} (ties ORDER BY
    d, c ↔ Spark's struct array_sort); candidates are the a{{T}}
    inverted lists of the probed cells; exact cosine rerank with the
    same tiebreak as the ann_topk oracle."""
    T = KM_SQL_ROUNDS
    cos = (
        "list_dot_product(q.v, n.v) / "
        "(sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v)))"
    )
    return f"""WITH {_kmeans_ctes()},
e AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
probe AS MATERIALIZED (
  SELECT id AS query_id, c FROM (
    SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY d, c) AS rn
    FROM dd{T} WHERE id < {ANN_QUERIES}
  ) WHERE rn <= {IVF_PROBE}
),
scored AS MATERIALIZED (
  SELECT p.query_id, a.id AS neighbor_id, {cos} AS cos_raw
  FROM probe p
  JOIN a{T} a ON a.c = p.c AND a.id <> p.query_id
  JOIN e q ON q.vec_id = p.query_id
  JOIN e n ON n.vec_id = a.id
),
ranked AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id ASC) AS rank,
         neighbor_id, round(cos_raw, 5) AS cos
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, neighbor_id, cos
FROM ranked WHERE rank <= {ANN_K}"""


def _hpcg_sql_levels(level_sizes: list, iters: int) -> str:
    """Fully unrolled HPCG over an arbitrary coarsening hierarchy
    (mirrors algorithms/hpcg.py): 27-point stencil + injection map per
    level as generated CTEs, then ``iters`` CG iterations each applying
    the recursive V-cycle — pre color sweep (fwd+bwd over HPCG_COLORS
    stripes), restrict, recurse (coarsest level: one sweep), prolongate,
    post sweep — with the CG scalars as one-row CTEs."""
    C, d = HPCG_COLORS, HPCG_DIAG
    L = len(level_sizes)
    ns = [sx * sy * sz for (sx, sy, sz) in level_sizes]
    n = ns[0]
    blocks: list[str] = []
    offs = ", ".join(
        f"({dx}, {dy}, {dz})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        for dz in (-1, 0, 1)
    )

    def stencil(name: str, sx: int, sy: int, sz: int) -> None:
        N = sx * sy * sz
        blocks.append(f"""{name} AS MATERIALIZED (
  SELECT g.id AS row,
         (g.cx + o.dx) + (g.cy + o.dy) * {sx} + (g.cz + o.dz) * {sx * sy} AS col,
         CASE WHEN o.dx = 0 AND o.dy = 0 AND o.dz = 0
              THEN {d!r} ELSE -1.0 END AS val
  FROM (SELECT id, id % {sx} AS cx, (id // {sx}) % {sy} AS cy,
               id // {sx * sy} AS cz FROM range({N}) t(id)) g
  CROSS JOIN (VALUES {offs}) o(dx, dy, dz)
  WHERE g.cx + o.dx BETWEEN 0 AND {sx - 1}
    AND g.cy + o.dy BETWEEN 0 AND {sy - 1}
    AND g.cz + o.dz BETWEEN 0 AND {sz - 1}
)""")

    A_names: list[str] = []
    for li, (sx, sy, sz) in enumerate(level_sizes):
        name = "A" if li == 0 else f"A_{li}"
        stencil(name, sx, sy, sz)
        A_names.append(name)
    for li in range(L - 1):
        fsx, fsy, fsz = level_sizes[li]
        csx, csy, csz = level_sizes[li + 1]
        stx, sty, stz = fsx // csx, fsy // csy, fsz // csz
        blocks.append(f"""cmap_{li} AS MATERIALIZED (
  SELECT id AS cid,
         (id % {csx}) * {stx}
         + ((id // {csx}) % {csy}) * {sty} * {fsx}
         + (id // {csx * csy}) * {stz} * {fsx * fsy} AS fid
  FROM range({ns[li + 1]}) t(id)
)""")
    blocks.append(
        "b AS MATERIALIZED (SELECT row AS id, sum(val) AS val FROM A GROUP BY row)"
    )
    blocks.append(
        f"vx0 AS MATERIALIZED (SELECT id, 0.0 AS val FROM range({n}) t(id))"
    )
    blocks.append("vr0 AS MATERIALIZED (SELECT id, val FROM b)")

    k = [0]

    def fresh(p: str) -> str:
        k[0] += 1
        return f"{p}{k[0]}"

    def smooth_step(xin: str, r: str, Aname: str, color: int) -> str:
        t, xo = fresh("t"), fresh("x")
        blocks.append(f"""{t} AS MATERIALIZED (
  SELECT a.row AS id, sum(a.val * x.val) AS val
  FROM {Aname} a JOIN {xin} x ON a.col = x.id
  WHERE a.row % {C} = {color} GROUP BY a.row
)""")
        blocks.append(f"""{xo} AS MATERIALIZED (
  SELECT x.id,
         CASE WHEN x.id % {C} = {color}
              THEN (r.val - coalesce(t.val, 0) + x.val * {d!r}) / {d!r}
              ELSE x.val END AS val
  FROM {xin} x JOIN {r} r ON r.id = x.id LEFT JOIN {t} t ON t.id = x.id
)""")
        return xo

    def smoother_round(xin: str, r: str, Aname: str) -> str:
        for c in list(range(C)) + list(range(C - 1, -1, -1)):
            xin = smooth_step(xin, r, Aname, c)
        return xin

    def spmv(Aname: str, x: str) -> str:
        y = fresh("y")
        blocks.append(f"""{y} AS MATERIALIZED (
  SELECT a.row AS id, sum(a.val * x.val) AS val
  FROM {Aname} a JOIN {x} x ON a.col = x.id GROUP BY a.row
)""")
        return y

    def mg(r: str, li: int) -> str:
        z = fresh("z")
        blocks.append(
            f"{z} AS MATERIALIZED (SELECT id, 0.0 AS val FROM range({ns[li]}) t(id))"
        )
        if li == L - 1:  # coarsest level: exactly one sweep
            return smoother_round(z, r, A_names[li])
        z = smoother_round(z, r, A_names[li])  # pre-smooth (1 round)
        az = spmv(A_names[li], z)
        rc = fresh("rc")
        blocks.append(f"""{rc} AS MATERIALIZED (
  SELECT m.cid AS id, r.val - coalesce(az.val, 0) AS val
  FROM cmap_{li} m JOIN {r} r ON r.id = m.fid
  LEFT JOIN {az} az ON az.id = m.fid
)""")
        zc = mg(rc, li + 1)
        zp = fresh("z")
        blocks.append(f"""{zp} AS MATERIALIZED (
  SELECT z.id, z.val + coalesce(c.cval, 0) AS val
  FROM {z} z LEFT JOIN (
    SELECT m.fid AS id, zc.val AS cval
    FROM cmap_{li} m JOIN {zc} zc ON zc.id = m.cid
  ) c ON c.id = z.id
)""")
        return smoother_round(zp, r, A_names[li])  # post-smooth (1 round)

    def dot(a: str, bb: str) -> str:
        s = fresh("sc")
        blocks.append(
            f"{s} AS MATERIALIZED (SELECT sum(a.val * b.val) AS v "
            f"FROM {a} a JOIN {bb} b ON a.id = b.id)"
        )
        return s

    x, r, p = "vx0", "vr0", ""
    rz_prev = ""
    for it in range(iters):
        z = mg(r, 0)
        rz = dot(r, z)
        if it == 0:
            p = z
        else:
            pn = fresh("p")
            blocks.append(f"""{pn} AS MATERIALIZED (
  SELECT p.id, ({rz}.v / {rz_prev}.v) * p.val + z.val AS val
  FROM {p} p JOIN {z} z ON z.id = p.id
  CROSS JOIN {rz} CROSS JOIN {rz_prev}
)""")
            p = pn
        ap = spmv("A", p)
        pap = dot(ap, p)
        xn = fresh("x")
        blocks.append(f"""{xn} AS MATERIALIZED (
  SELECT x.id, x.val + ({rz}.v / {pap}.v) * p.val AS val
  FROM {x} x JOIN {p} p ON p.id = x.id CROSS JOIN {rz} CROSS JOIN {pap}
)""")
        rn = fresh("r")
        blocks.append(f"""{rn} AS MATERIALIZED (
  SELECT r.id, r.val - ({rz}.v / {pap}.v) * coalesce(ap.val, 0) AS val
  FROM {r} r LEFT JOIN {ap} ap ON ap.id = r.id
  CROSS JOIN {rz} CROSS JOIN {pap}
)""")
        x, r, rz_prev = xn, rn, rz
    joined = ",\n".join(blocks)
    return f"""WITH {joined}
SELECT id, round(val, 6) AS x FROM {x}"""


def _hpcg_sql() -> str:
    return _hpcg_sql_levels([HPCG_SIZES, HPCG_COARSE], HPCG_ITERS)


def _hpcg2_sql() -> str:
    return _hpcg_sql_levels(list(HPCG2_LEVELS), HPCG2_ITERS)


def _sssp_sql() -> str:
    """Unrolled Bellman-Ford relax rounds (mirrors algorithms/sssp.py:
    each round min-merges the previous distances with one-hop
    relaxations; identical single-add + min arithmetic)."""
    blocks = [f"""w AS MATERIALIZED (
  SELECT src, dst, ((src * 7 + dst * 13) % 10) / 10.0 + 0.1 AS w FROM edges
)""", f"d0 AS (SELECT {SSSP_SOURCE} AS id, 0.0 AS val)"]
    for k in range(1, SSSP_ROUNDS + 1):
        blocks.append(f"""d{k} AS MATERIALIZED (
  SELECT id, min(val) AS val FROM (
    SELECT id, val FROM d{k - 1}
    UNION ALL
    SELECT e.dst AS id, d.val + e.w AS val
    FROM d{k - 1} d JOIN w e ON e.src = d.id
  ) GROUP BY id
)""")
    joined = ",\n".join(blocks)
    return f"""WITH {E_SQL},
{joined}
SELECT id, round(val, 6) AS dist FROM d{SSSP_ROUNDS}"""


def _sparse_nn_sql() -> str:
    """Unrolled thresholded sparse-NN inference (mirrors
    algorithms/sparse_nn.py / sparse_nn_single_inference.hpp:131-171):
    layers 0..L-2 applied with biases[1..L-1], relu+clamp between
    layers and once at the end."""
    steps = []
    prev = "x0"
    for i in range(NN_LAYERS - 1):
        w = f"(((e.src * 31 + e.dst * 17 + {i * 101}) % 13 - 6) / 10.0)"
        steps.append(f"""y{i} AS MATERIALIZED (
  SELECT e.dst AS id, sum(x.v * {w}) AS v
  FROM edges e JOIN {prev} x ON e.src = x.id GROUP BY e.dst
),
a{i} AS MATERIALIZED (
  SELECT r.id,
         least(greatest(coalesce(y.v, 0) + {NN_BIAS}, 0.0), {NN_THRESHOLD}) AS v
  FROM range({N_V}) r(id) LEFT JOIN y{i} y ON y.id = r.id
)""")
        prev = f"a{i}"
    joined = ",\n".join(steps)
    return f"""WITH {E_SQL},
x0 AS (
  SELECT id, ((id % 23) + 1) / 23.0 AS v FROM range({N_V}) t(id)
  WHERE id % 7 = 0
),
{joined}
SELECT id, round(v, 6) AS activation FROM {prev}"""


def _kcore_sql(rounds: int = None) -> str:
    """Unrolled peel rounds mirroring kcore_decomposition's loop exactly:
    per round, either every alive vertex has deg > k (k increments) or
    the peelable set takes core=k, dies, and decrements its neighbours.
    Rounds beyond convergence are no-ops, so any rounds ≥ the graph's
    actual peel count yields the converged coreness."""
    rounds = rounds or KCORE_SQL_ROUNDS
    steps = []
    prev = "r0"
    for t in range(1, rounds + 1):
        steps.append(f"""s{t} AS MATERIALIZED (
  SELECT max(CASE WHEN alive AND deg <= k THEN 1 ELSE 0 END) AS anypeel FROM {prev}
),
d{t} AS MATERIALIZED (
  SELECT e.dst AS id, count(*) AS dec
  FROM sym e JOIN {prev} p ON e.src = p.id AND p.alive AND p.deg <= p.k
  GROUP BY e.dst
),
r{t} AS MATERIALIZED (
  SELECT r.id,
    CASE WHEN s.anypeel = 0 THEN r.deg
         WHEN r.alive AND r.deg <= r.k THEN r.deg
         ELSE r.deg - coalesce(d.dec, 0) END AS deg,
    CASE WHEN s.anypeel = 1 AND r.alive AND r.deg <= r.k
         THEN r.k ELSE r.core END AS core,
    CASE WHEN s.anypeel = 1 AND r.alive AND r.deg <= r.k
         THEN false ELSE r.alive END AS alive,
    r.k + CASE WHEN s.anypeel = 0 THEN 1 ELSE 0 END AS k
  FROM {prev} r CROSS JOIN s{t} s LEFT JOIN d{t} d ON d.id = r.id
)""")
        prev = f"r{t}"
    joined = ",\n".join(steps)
    return f"""WITH edges AS MATERIALIZED (
  SELECT DISTINCT l_partkey % {N_V} AS src, l_suppkey % {N_V} AS dst
  FROM lineitem
  WHERE l_partkey % {N_V} <> l_suppkey % {N_V}
),
sym AS MATERIALIZED (
  SELECT src, dst FROM edges
  UNION
  SELECT dst AS src, src AS dst FROM edges
),
deg0 AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
r0 AS MATERIALIZED (
  SELECT v.id, coalesce(d.deg, 0) AS deg, 0::BIGINT AS core,
         true AS alive, 0::BIGINT AS k
  FROM range({N_V}) v(id) LEFT JOIN deg0 d ON d.id = v.id
),
{joined}
SELECT id, core AS coreness FROM {prev}"""


def _cg3_sql() -> str:
    """Unrolled conjugate-gradient iterations over the Laplacian+2I
    system (mirrors algorithms/solvers.py:conjugate_gradient): per
    iteration t = A·u, alpha = sigma/(u't), x += alpha·u, r -= alpha·t,
    beta = r'r, u = r + (beta/sigma)·u, sigma = beta."""
    steps = []
    prev, prev_sig = "st0", "sc0"
    for k in range(1, CG_ITERS + 1):
        u_update = (
            f"""s.r + (b{k}.beta / {prev_sig}.sigma) * s.u AS u"""
            if k < CG_ITERS
            else "s.u AS u"  # the loop breaks before the final u update
        )
        steps.append(f"""t{k} AS MATERIALIZED (
  SELECT a.src AS id, sum(a.val * s.u) AS t
  FROM A a JOIN {prev} s ON s.id = a.dst GROUP BY a.src
),
d{k} AS MATERIALIZED (
  SELECT sum(s.u * t.t) AS denom FROM {prev} s JOIN t{k} t ON s.id = t.id
),
sx{k} AS MATERIALIZED (
  SELECT s.id,
         s.x + ({prev_sig}.sigma / d.denom) * s.u AS x,
         s.r - ({prev_sig}.sigma / d.denom) * coalesce(t.t, 0) AS r,
         s.u AS u
  FROM {prev} s LEFT JOIN t{k} t ON t.id = s.id
  CROSS JOIN {prev_sig} CROSS JOIN d{k} d
),
b{k} AS MATERIALIZED (SELECT sum(r * r) AS beta FROM sx{k}),
st{k} AS MATERIALIZED (
  SELECT s.id, s.x, s.r, {u_update}
  FROM sx{k} s CROSS JOIN b{k} CROSS JOIN {prev_sig}
),
sc{k} AS MATERIALIZED (SELECT beta AS sigma FROM b{k})""")
        prev, prev_sig = f"st{k}", f"sc{k}"
    joined = ",\n".join(steps)
    return f"""WITH edges AS MATERIALIZED (
  SELECT DISTINCT l_partkey % {N_V} AS src, l_suppkey % {N_V} AS dst
  FROM lineitem
  WHERE l_partkey % {N_V} <> l_suppkey % {N_V}
),
sym AS MATERIALIZED (
  SELECT src, dst FROM edges
  UNION
  SELECT dst AS src, src AS dst FROM edges
),
A AS MATERIALIZED (
  SELECT src, dst, -1.0 AS val FROM sym
  UNION ALL
  SELECT v.id AS src, v.id AS dst, coalesce(d.d, 0) + 2.0 AS val
  FROM range({N_V}) v(id)
  LEFT JOIN (SELECT src, count(*) AS d FROM sym GROUP BY src) d ON d.src = v.id
),
st0 AS MATERIALIZED (
  SELECT id, 0.0 AS x, ((id % 10) + 1) / 10.0 AS r,
         ((id % 10) + 1) / 10.0 AS u
  FROM range({N_V}) t(id)
),
sc0 AS MATERIALIZED (SELECT sum(r * r) AS sigma FROM st0),
{joined}
SELECT id, round(x, 6) AS x FROM st{CG_ITERS}"""


def _minhash_sig_select() -> str:
    # universal family over one md5 per shingle: r = first 56 digest
    # bits mod p, sig_j = (a_j*r + b_j) mod p with seeded coefficients —
    # mirrors alp_spark.pipeline.dedup.minhash_signatures bit-exactly
    from alp_spark.pipeline.dedup import MINHASH_P, minhash_params

    params = minhash_params(MINHASHES)
    sig_cols = ",\n       ".join(
        "list_min(list_transform(hs, h -> "
        f"({params[j][0]} * (('0x' || substr(h, 1, 14))::BIGINT % {MINHASH_P})"
        f" + {params[j][1]}) % {MINHASH_P})) AS sig{j}"
        for j in range(MINHASHES)
    )
    return f"""{TOKS_SQL},
s AS (
  SELECT doc_id,
         list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 1, 1)),
            i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS sh
  FROM t
),
hx AS (
  SELECT doc_id, list_transform(sh, x -> md5(x)) AS hs FROM s
),
sigs AS (
  SELECT doc_id,
       {sig_cols}
  FROM hx
)"""


def _srp_bits_sql(vec_expr: str, plane_rows) -> str:
    """Concat-of-sign-bits SQL over literal hyperplanes — the exact
    float64 values the Spark plan bakes in (srp_planes is seeded), so
    both engines compute identical bucket keys."""
    bits = []
    for p in plane_rows:
        lst = "[" + ", ".join(repr(float(w)) for w in p) + "]"
        bits.append(
            f"CASE WHEN list_dot_product({vec_expr}, {lst}) > 0 "
            "THEN '1' ELSE '0' END"
        )
    return "concat(" + ",\n         ".join(bits) + ")"


def _srp_cand_sql() -> str:
    """Banded SRP candidate pairs CTE chain (mirrors srp_candidate_pairs)."""
    planes = srp_planes(EMB_DIM, SRP_BANDS * SRP_BAND_BITS, SRP_SEED)
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        + _srp_bits_sql("v", planes[b * SRP_BAND_BITS : (b + 1) * SRP_BAND_BITS])
        + " AS key FROM e"
        for b in range(SRP_BANDS)
    )
    return f"""e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
keyed AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key
  WHERE a.vec_id < b.vec_id
)"""


def _dedup_clusters_sql() -> str:
    """Near-dup transitive closure: the ngram-jaccard verified pairs at
    the DEDUP_JACCARD threshold, then a recursive reachability closure
    with min-id labels (algorithm-independent — FastSV's output is a
    pure function of the pair graph)."""
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, sig{2 * b}::VARCHAR || ':' || "
        f"sig{2 * b + 1}::VARCHAR AS key FROM sigs"
        for b in range(MINHASHES // BAND_SIZE)
    )
    return f"""WITH RECURSIVE {_minhash_sig_select()},
bands AS (
  {bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
sd AS (
  SELECT doc_id,
         list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 1, 1)),
            i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS sh
  FROM t
),
ex AS (SELECT doc_id, unnest(sh) AS g FROM sd),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN ex a ON a.doc_id = c.doc_a
  JOIN ex b ON b.doc_id = c.doc_b AND b.g = a.g
  GROUP BY c.doc_a, c.doc_b
),
near AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6)
        >= {DEDUP_JACCARD}
),
symp AS (
  SELECT doc_a AS src, doc_b AS dst FROM near
  UNION SELECT doc_b, doc_a FROM near
),
r(id, reach) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.id, s.dst FROM r JOIN symp s ON s.src = r.reach
)
SELECT id AS doc_id, min(reach) AS cluster_id FROM r GROUP BY id"""


def _dedup_survivors_sql() -> str:
    from alp_spark.pipeline.dedup import MINHASH_P, minhash_params

    params = minhash_params(MINHASHES)
    sig_cols = ",\n       ".join(
        "list_min(list_transform(hs, h -> "
        f"({params[j][0]} * (('0x' || substr(h, 1, 14))::BIGINT % {MINHASH_P})"
        f" + {params[j][1]}) % {MINHASH_P})) AS sig{j}"
        for j in range(MINHASHES)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, sig{2 * b}::VARCHAR || ':' || "
        f"sig{2 * b + 1}::VARCHAR AS key FROM sigs"
        for b in range(MINHASHES // BAND_SIZE)
    )
    return f"""WITH keepids AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
kept AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN keepids k ON d.doc_id = k.doc_id
),
t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM kept
),
s AS (
  SELECT doc_id,
         list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 1, 1)),
            i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS sh
  FROM t
),
hx AS (SELECT doc_id, list_transform(sh, x -> md5(x)) AS hs FROM s),
sigs AS (
  SELECT doc_id,
       {sig_cols}
  FROM hx
),
bands AS (
  {bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN ex a ON a.doc_id = c.doc_a
  JOIN ex b ON b.doc_id = c.doc_b AND b.g = a.g
  GROUP BY c.doc_a, c.doc_b
),
drops AS (
  SELECT DISTINCT i.doc_b AS doc_id
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE round(i.n_inter::DOUBLE / (sa.n_sh + sb.n_sh - i.n_inter), 6)
        >= {DEDUP_JACCARD}
)
SELECT k.doc_id FROM kept k
LEFT JOIN drops d ON d.doc_id = k.doc_id
WHERE d.doc_id IS NULL"""


def _simhash_sql() -> str:
    high = "('8','9','a','b','c','d','e','f')"
    sums = ",\n         ".join(
        f"sum(CASE WHEN substr(h, {i + 1}, 1) IN {high} THEN 1 ELSE -1 END) AS s{i}"
        for i in range(32)
    )
    bits = ", ".join(
        f"CASE WHEN s{i} > 0 THEN '1' ELSE '0' END" for i in range(32)
    )
    return f"""WITH {TOKS_SQL},
tok AS (SELECT doc_id, md5(unnest(toks)) AS h FROM t),
agg AS (
  SELECT doc_id,
         {sums}
  FROM tok GROUP BY doc_id
)
SELECT doc_id, concat({bits}) AS simhash FROM agg"""


def _lang_sql() -> str:
    from alp_spark.pipeline.text import LANG_MARKERS, LANG_ORDER

    hit_cols = ",\n         ".join(
        "len(list_filter(toks, x -> x IN ({w}))) AS h_{lang}".format(
            w=", ".join(f"'{x}'" for x in LANG_MARKERS[lang]), lang=lang
        )
        for lang in LANG_ORDER
    )
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in LANG_ORDER) + ")"
    cases = " ".join(
        f"WHEN h_{lang} = {best} THEN '{lang}'" for lang in LANG_ORDER
    )
    return f"""WITH {TOKS_SQL},
h AS (
  SELECT doc_id,
         {hit_cols}
  FROM t
)
SELECT doc_id,
       CASE WHEN {best} <= 0 THEN 'und' {cases} END AS lang_pred
FROM h"""


def _sessionize_sql(closed_only: bool = False) -> str:
    """The gap-sessionization oracle (mirrors pipeline.sessionize);
    ``closed_only`` drops each user's LAST session — the open one a
    drained streaming run keeps in state."""
    tail = (
        "QUALIFY session_id < max(session_id) OVER (PARTITION BY user_id)"
        if closed_only
        else ""
    )
    return f"""WITH o AS (
  SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
  FROM events
),
f AS (
  SELECT *, CASE WHEN prev IS NULL
                   OR us - prev > {SESSION_GAP_MIN * 60 * 1_000_000}
                 THEN 1 ELSE 0 END AS is_new
  FROM o
),
s AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
  FROM f
)
SELECT user_id, session_id, min(ts) AS session_start,
       max(ts) AS session_end, count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS total_value
FROM s GROUP BY user_id, session_id
{tail}"""


def _pca_project_sql() -> str:
    """Unrolled-CTE replay of q_pca_project (the kmeans/hpcg pinned-
    algorithm technique): covariance + mean on the embed_covariance
    rounding grid, PCA_ITERS power steps per component with rank-one
    deflation, every hand-off rounded exactly like fit_pca_power, then
    the whitened projection. The upper triangle is computed once and
    mirrored so the matrix is exactly symmetric, matching the Spark
    moment pass."""
    import math

    d, it = EMB_DIM, PCA_ITERS
    v0 = repr(1.0 / math.sqrt(d))
    parts = [
        f"""e AS (
  SELECT vec_id, t.p::BIGINT - 1 AS pos, embedding[t.p::INT]::DOUBLE AS val
  FROM embeddings CROSS JOIN range(1, {d + 1}) t(p)
)""",
        f"""mn AS (
  SELECT pos, round(avg(val), {PCA_COV_DP}) AS m FROM e GROUP BY pos
)""",
        f"""cu AS (
  SELECT a.pos AS i, b.pos AS j,
         round(covar_samp(a.val, b.val), {PCA_COV_DP}) AS cv
  FROM e a JOIN e b USING (vec_id)
  WHERE a.pos <= b.pos
  GROUP BY a.pos, b.pos
)""",
        "c0 AS (SELECT i, j, cv FROM cu "
        "UNION ALL SELECT j, i, cv FROM cu WHERE i < j)",
    ]
    for pc in range(PCA_K):
        if pc == 0:
            parts.append(
                f"v{pc}_0 AS (SELECT range AS pos, {v0} AS val "
                f"FROM range({d}))"
            )
        else:
            # deterministic varied start; deflation supplies overlap
            parts.append(
                f"v{pc}_0 AS (SELECT range AS pos, "
                f"((range % 5) - 2)::DOUBLE AS val FROM range({d}))"
            )
        for t in range(1, it + 1):
            parts.append(
                f"w{pc}_{t} AS (SELECT c.i AS pos, "
                f"SUM(c.cv * v.val) AS val "
                f"FROM c{pc} c JOIN v{pc}_{t - 1} v ON v.pos = c.j "
                f"GROUP BY c.i)"
            )
            parts.append(
                f"v{pc}_{t} AS (SELECT pos, val / sqrt((SELECT "
                f"SUM(val * val) FROM w{pc}_{t})) AS val "
                f"FROM w{pc}_{t})"
            )
        parts.append(
            f"p{pc} AS (SELECT pos, round(val, {PCA_VEC_DP}) AS val "
            f"FROM v{pc}_{it})"
        )
        parts.append(
            f"l{pc} AS (SELECT round(SUM(a.val * c.cv * b.val), "
            f"{PCA_VEC_DP}) AS l FROM c{pc} c "
            f"JOIN p{pc} a ON a.pos = c.i JOIN p{pc} b ON b.pos = c.j)"
        )
        if pc + 1 < PCA_K:
            # Cw ← Cw − λ·(vᵢ·vⱼ), association exactly as numpy's
            # lam * np.outer(v, v)
            parts.append(
                f"c{pc + 1} AS (SELECT c.i, c.j, "
                f"c.cv - (SELECT l FROM l{pc}) * (a.val * b.val) AS cv "
                f"FROM c{pc} c JOIN p{pc} a ON a.pos = c.i "
                f"JOIN p{pc} b ON b.pos = c.j)"
            )
    parts.append(
        "comp AS ("
        + " UNION ALL ".join(
            f"SELECT {pc} AS pc, pos, val FROM p{pc}"
            for pc in range(PCA_K)
        )
        + ")"
    )
    parts.append(
        "lam AS ("
        + " UNION ALL ".join(
            f"SELECT {pc} AS pc, l FROM l{pc}" for pc in range(PCA_K)
        )
        + ")"
    )
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
    # reference, and v_t references w_t twice (value + norm scalar), so
    # an un-materialized 40-step chain doubles per level (2^40 plans)
    # and re-reads the parquet under c0 at every reference
    parts = [p.replace(" AS (", " AS MATERIALIZED (", 1) for p in parts]
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT e.vec_id AS vec_id, cm.pc::BIGINT AS pc,
       round(SUM((e.val - mn.m) * cm.val) / sqrt(la.l + {PCA_EPS!r}),
             {PCA_OUT_DP}) AS val
FROM e
JOIN mn ON mn.pos = e.pos
JOIN comp cm ON cm.pos = e.pos
JOIN lam la ON la.pc = cm.pc
GROUP BY e.vec_id, cm.pc, la.l"""
    )


def oracle_sql() -> dict[str, str]:
    from alp_spark.pipeline.text import STOPWORDS

    stop = ", ".join(f"'{w}'" for w in STOPWORDS)

    def cos_expr(a: str, b: str) -> str:
        return (
            f"list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
        )
    return {
        "out_degree": f"""WITH {E_SQL}
SELECT src AS id, count(*) AS degree FROM edges GROUP BY src""",
        "degrees_union": f"""WITH {E_SQL},
o AS (SELECT src AS id, count(*) AS v FROM edges GROUP BY src),
i AS (SELECT dst AS id, count(*) AS v FROM edges GROUP BY dst)
SELECT coalesce(o.id, i.id) AS id,
       (coalesce(o.v, 0) + coalesce(i.v, 0))::BIGINT AS total_degree
FROM o FULL OUTER JOIN i ON o.id = i.id""",
        "degrees_intersection": f"""WITH {E_SQL},
o AS (SELECT src AS id, count(*) AS v FROM edges GROUP BY src),
i AS (SELECT dst AS id, count(*) AS v FROM edges GROUP BY dst)
SELECT o.id, (o.v * i.v)::BIGINT AS deg_product FROM o JOIN i ON o.id = i.id""",
        "dot_degrees": f"""WITH {E_SQL},
o AS (SELECT src AS id, count(*) AS v FROM edges GROUP BY src),
i AS (SELECT dst AS id, count(*) AS v FROM edges GROUP BY dst)
SELECT sum(o.v * i.v)::DOUBLE AS dot_val FROM o JOIN i ON o.id = i.id""",
        "pagerank5": _pagerank5_sql(),
        "ppr5": _ppr5_sql(),
        "pagerank5_csr": _pagerank5_sql(),
        "pagerank_conv": _pagerank_conv_sql(),
        "out_degree_salted": f"""WITH {E_SQL}
SELECT src AS id, count(*) AS degree FROM edges GROUP BY src""",
        "fma_degrees": f"""WITH {E_SQL},
o AS (SELECT src AS id, count(*) AS v FROM edges GROUP BY src),
i AS (SELECT dst AS id, count(*) AS v FROM edges GROUP BY dst)
SELECT coalesce(o.id, i.id) AS id,
       (coalesce(o.v * i.v, 0) + coalesce(i.v, 0) + coalesce(o.v, 0))::BIGINT AS fma
FROM o FULL OUTER JOIN i ON o.id = i.id""",
        "norm2_degrees": f"""WITH {E_SQL},
o AS (SELECT src AS id, count(*)::DOUBLE AS v FROM edges GROUP BY src),
i AS (SELECT dst AS id, count(*)::DOUBLE AS v FROM edges GROUP BY dst)
SELECT round(sqrt((SELECT sum(v * v) FROM o)), 6) AS norm_out,
       round((SELECT sum(o.v * i.v) FROM o JOIN i ON o.id = i.id)
             / (sqrt((SELECT sum(v * v) FROM o))
                * sqrt((SELECT sum(v * v) FROM i))), 6) AS cos_oi""",
        "mxm_wedges": f"""WITH {E_SQL}
SELECT a.src AS src, b.dst AS dst, count(*)::BIGINT AS paths
FROM edges a JOIN edges b ON a.dst = b.src
GROUP BY a.src, b.dst
ORDER BY paths DESC, src, dst
LIMIT 20""",
        "top_rank_vertex": f"""WITH pr AS ({_pagerank5_sql()})
SELECT id AS top_id, rank AS top_rank FROM pr
ORDER BY rank DESC, id DESC LIMIT 1""",
        "connected_components": f"""WITH RECURSIVE {E_SQL},
{SYM_SQL},
r(id, reach) AS (
  SELECT id, id FROM range({N_V}) t(id)
  UNION
  SELECT r.id, s.dst FROM r JOIN sym s ON s.src = r.reach
)
SELECT id, max(reach) AS label FROM r GROUP BY id""",
        "fastsv_cc": f"""WITH RECURSIVE {E_SQL},
{SYM_SQL},
r(id, reach) AS (
  SELECT id, id FROM range({N_V}) t(id)
  UNION
  SELECT r.id, s.dst FROM r JOIN sym s ON s.src = r.reach
)
SELECT id, min(reach) AS label FROM r GROUP BY id""",
        "cc_sizes": f"""WITH RECURSIVE {E_SQL},
{SYM_SQL},
r(id, reach) AS (
  SELECT id, id FROM range({N_V}) t(id)
  UNION
  SELECT r.id, s.dst FROM r JOIN sym s ON s.src = r.reach
),
lab AS (SELECT id, min(reach) AS label FROM r GROUP BY id)
SELECT label AS component, count(*) AS size FROM lab GROUP BY label""",
        "hits5": _hits_sql(),
        "link_predict": f"""WITH {E_SQL},
{SYM_SQL},
deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src),
w AS (
  SELECT a.dst AS u, b.dst AS v, count(*) AS common,
         sum(1.0 / ln(dc.d)) AS aa
  FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
  JOIN deg dc ON dc.src = a.src
  GROUP BY a.dst, b.dst
  HAVING count(*) >= 2
),
na AS (
  SELECT w.* FROM w WHERE NOT EXISTS (
    SELECT 1 FROM sym s WHERE s.src = w.u AND s.dst = w.v)
),
top AS (SELECT * FROM na ORDER BY common DESC, u, v LIMIT {LINKPRED_TOPK})
SELECT u, v, common,
       round(common::DOUBLE / (du.d + dv.d - common), 6) AS jaccard,
       round(aa, 6) AS adamic_adar
FROM top
JOIN deg du ON du.src = top.u
JOIN deg dv ON dv.src = top.v""",
        "reciprocity": f"""WITH {E_SQL},
r AS (SELECT count(*)::DOUBLE AS c
      FROM edges e JOIN edges x ON e.src = x.dst AND e.dst = x.src),
t AS (SELECT count(*) AS m FROM edges)
SELECT round(r.c / t.m, 6) AS reciprocity, t.m::BIGINT AS m FROM r, t""",
        "assortativity": f"""WITH {E_SQL},
od AS (SELECT src, count(*)::DOUBLE AS d FROM edges GROUP BY src),
ind AS (SELECT dst, count(*)::DOUBLE AS d FROM edges GROUP BY dst)
SELECT round(corr(od.d, ind.d), 6) AS assortativity
FROM edges e JOIN od ON e.src = od.src JOIN ind ON e.dst = ind.dst""",
        "clustering_coeff": f"""WITH {E_SQL},
{SYM_SQL},
deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src),
ord AS (
  SELECT s.src, s.dst FROM sym s
  JOIN deg da ON da.src = s.src
  JOIN deg db ON db.src = s.dst
  WHERE (da.d < db.d) OR (da.d = db.d AND s.src < s.dst)
),
tri AS (
  SELECT a.src AS i, a.dst AS j, b.dst AS k
  FROM ord a JOIN ord b ON a.dst = b.src
  JOIN ord c ON c.src = a.src AND c.dst = b.dst
),
pv AS (
  SELECT id, count(*) AS t FROM (
    SELECT i AS id FROM tri
    UNION ALL SELECT j FROM tri
    UNION ALL SELECT k FROM tri
  ) u GROUP BY id
)
SELECT deg.src AS id, deg.d::BIGINT AS degree,
       coalesce(pv.t, 0)::BIGINT AS triangles,
       CASE WHEN deg.d >= 2
            THEN round(2.0 * coalesce(pv.t, 0) / (deg.d * (deg.d - 1)), 6)
            ELSE 0.0 END AS coeff
FROM deg LEFT JOIN pv ON pv.id = deg.src""",
        "host_pagerank": _host_pagerank_sql(),
        "mis": _mis_sql(MIS_SQL_ROUNDS),
        "scc": f"""WITH RECURSIVE {E_SQL},
reach(a, b) AS (
  SELECT src AS a, dst AS b FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
),
mutual AS (
  SELECT r1.a AS v, min(r1.b) AS mn
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
  GROUP BY r1.a
)
SELECT t.id, least(t.id, coalesce(m.mn, t.id)) AS scc
FROM range({N_V}) t(id) LEFT JOIN mutual m ON m.v = t.id""",
        "bowtie": f"""WITH RECURSIVE {E_SQL},
reach(a, b) AS (
  SELECT src AS a, dst AS b FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
),
mutual AS (
  SELECT r1.a AS v, min(r1.b) AS mn
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
  GROUP BY r1.a
),
lab AS (
  SELECT t.id, least(t.id, coalesce(m.mn, t.id)) AS scc
  FROM range({N_V}) t(id) LEFT JOIN mutual m ON m.v = t.id
),
core_lbl AS (
  SELECT scc FROM (
    SELECT scc, count(*) AS c FROM lab GROUP BY scc
    ORDER BY c DESC, scc ASC LIMIT 1
  ) z
),
core AS (SELECT id FROM lab WHERE scc = (SELECT scc FROM core_lbl)),
inn AS (SELECT DISTINCT r.a AS id FROM reach r JOIN core c ON r.b = c.id),
outt AS (SELECT DISTINCT r.b AS id FROM reach r JOIN core c ON r.a = c.id)
SELECT l.id,
       CASE WHEN l.id IN (SELECT id FROM core) THEN 'core'
            WHEN l.id IN (SELECT id FROM inn) THEN 'in'
            WHEN l.id IN (SELECT id FROM outt) THEN 'out'
            ELSE 'other' END AS cls
FROM lab l""",
        "truss": _truss_sql(TRUSS_K, TRUSS_SQL_ROUNDS),
        "ppr_multi": _ppr_multi_sql(PPR_MULTI_SEEDS, PPR_MULTI_ROUNDS),
        "anf3": _anf_sql(ANF_ROUNDS),
        "neighborhood_fn": _nf_sql(NF_ROUNDS),
        "random_walks": _walks_sql(WALK_LEN),
        "rep_stats": f"""WITH {TOKS_SQL},
b AS (
  SELECT doc_id, len(toks) AS n,
         CASE WHEN len(toks) > 0
              THEN 1.0 - len(list_distinct(toks))::DOUBLE / len(toks)
              ELSE 0.0 END AS dup,
         list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1]) AS bgs
  FROM t
),
c AS (
  SELECT doc_id, bg, count(*) AS c
  FROM (SELECT doc_id, unnest(bgs) AS bg FROM b) u GROUP BY doc_id, bg
),
m AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS top FROM c GROUP BY doc_id)
SELECT b.doc_id, b.n::BIGINT AS n_tokens, round(b.dup, 6) AS dup_token_frac,
       round(coalesce(m.top, 0.0), 6) AS top_bigram_frac
FROM b LEFT JOIN m ON m.doc_id = b.doc_id""",
        "triangle_count": f"""WITH {E_SQL},
{SYM_SQL},
deg AS (SELECT src, count(*) AS d FROM sym GROUP BY src),
ord AS (
  SELECT s.src, s.dst FROM sym s
  JOIN deg da ON da.src = s.src
  JOIN deg db ON db.src = s.dst
  WHERE (da.d < db.d) OR (da.d = db.d AND s.src < s.dst)
)
SELECT count(*) AS triangles
FROM ord a JOIN ord b ON a.dst = b.src
JOIN ord c ON c.src = a.src AND c.dst = b.dst""",
        "khop2": f"""WITH {E_SQL},
hop1 AS (
  SELECT DISTINCT dst AS id FROM edges WHERE src = {KNN_SOURCE}
  UNION SELECT {KNN_SOURCE}
),
hop2 AS (
  SELECT DISTINCT e.dst AS id FROM edges e JOIN hop1 h ON e.src = h.id
  UNION SELECT id FROM hop1
)
SELECT id, true AS reached FROM hop2""",
        "mpv3_minplus": _mpv3_sql(),
        "pregel_pagerank3": _pregel_pagerank_sql(),
        "pregel_pagerank": _pregel_pagerank_sql(PPR_CONV_UPDATES),
        "cg3": _cg3_sql(),
        "bicgstab": _bicgstab_sql(),
        "kmeans": _kmeans_sql(),
        "ivf_topk": _ivf_sql(),
        "hpcg": _hpcg_sql(),
        "hpcg2": _hpcg2_sql(),
        "sssp": _sssp_sql(),
        "sessionize": _sessionize_sql(),
        # a drained streaming run emits every CLOSED session; each
        # user's last session is still open in state
        "sessionize_stream": _sessionize_sql(closed_only=True),
        # media_from_ids formula replayed arithmetically (no bytes):
        # decode intensities are px/256 (image/video) and v/65536
        # (audio), so histogram bins are exact integer divisions
        "media_features": """WITH m AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
         END AS kind
  FROM documents
),
i AS (SELECT range AS i FROM range(64)),
b AS (
  SELECT m.doc_id, m.kind,
         CASE WHEN m.kind = 'audio'
              THEN ((m.doc_id * 37 + i.i * 11) % 65536) // 4096
              ELSE ((m.doc_id * 131 + i.i * 7) % 251) // 16
         END AS bin
  FROM m CROSS JOIN i
),
c AS (
  SELECT doc_id, kind, bin, count(*) AS cnt FROM b
  GROUP BY doc_id, kind, bin
),
p AS (SELECT range AS pos FROM range(16))
SELECT m.doc_id AS media_id, m.kind AS kind, p.pos AS pos,
       COALESCE(c.cnt, 0) / 64.0 AS val
FROM m CROSS JOIN p
LEFT JOIN c ON c.doc_id = m.doc_id AND c.bin = p.pos""",
        "video_frames": """WITH v AS (
  SELECT doc_id FROM documents WHERE doc_id % 3 = 2
),
f AS (SELECT range * 2 AS frame_idx FROM range(4)),
j AS (SELECT range AS j FROM range(8))
SELECT v.doc_id AS media_id, f.frame_idx AS frame_idx,
       CAST(8 AS BIGINT) AS frame_len,
       CAST(SUM((v.doc_id * 131 + (f.frame_idx * 8 + j.j) * 7) % 251)
            AS BIGINT) AS frame_sum
FROM v CROSS JOIN f CROSS JOIN j
GROUP BY v.doc_id, f.frame_idx""",
        # the drained stream keeps ONE row per distinct text (nothing
        # evicts: all synthetic ts fit in one 24h watermark horizon)
        "stream_dedup": "SELECT DISTINCT md5(text) AS text_hash "
                        "FROM documents",
        "pca_project": _pca_project_sql(),
        "embed_covariance": f"""WITH e AS (
  SELECT vec_id, t.p::BIGINT - 1 AS pos, embedding[t.p::INT]::DOUBLE AS val
  FROM embeddings CROSS JOIN range(1, {EMB_DIM + 1}) t(p)
)
SELECT a.pos AS i, b.pos AS j, round(covar_samp(a.val, b.val), 6) AS cov
FROM e a JOIN e b USING (vec_id)
WHERE a.pos <= b.pos
GROUP BY a.pos, b.pos""",
        "sample_split": f"""WITH u AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(doc_id::VARCHAR || 'stratified'), 1, 16))::UBIGINT
           / 18446744073709551616.0 AS us,
         ('0x' || substr(md5(doc_id::VARCHAR || 'split'), 1, 16))::UBIGINT
           / 18446744073709551616.0 AS uv
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN uv < {VAL_FRAC} THEN 'val' ELSE 'train' END AS split
FROM u
WHERE us < CASE lang WHEN 'de' THEN 0.2 WHEN 'en' THEN 0.5 WHEN 'fr' THEN 0.8 ELSE 0.1 END""",
        "quantize": f"""WITH e AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
),
s AS (
  SELECT id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
)
SELECT id, round(scale, 6) AS scale, t.p::BIGINT - 1 AS pos,
       CASE WHEN scale = 0 THEN 0
            ELSE greatest(-127, least(127,
                 floor(v[t.p::INT] / scale + 0.5)))::BIGINT END AS code
FROM s CROSS JOIN range(1, {EMB_DIM + 1}) t(p)""",
        "spy": f"""WITH {E_SQL}
SELECT CAST(floor(src / {N_V / SPY_M!r}) AS BIGINT) AS row_blk,
       CAST(floor(dst / {N_V / SPY_M!r}) AS BIGINT) AS col_blk,
       count(*) AS nnz
FROM edges GROUP BY 1, 2""",
        "extract_text": f"""WITH {E_SQL},
outd AS (SELECT src, count(*) AS n FROM edges GROUP BY src)
SELECT printf('https://site%04d.example/p/%05d', id % 50, id) AS url,
       true AS text_ok,
       coalesce(n, 0)::INTEGER AS n_links
FROM range({N_V}) t(id) LEFT JOIN outd ON outd.src = t.id""",
        "sparse_nn": _sparse_nn_sql(),
        "kcore": _kcore_sql(),
        "label_prop1": _label_prop_sql(1),
        "label_prop_converged": _label_prop_sql(LP_CONV_ROUNDS),
        "events_hourly_stream": """SELECT event_type, date_trunc('hour', ts) AS hour,
       count(*) AS n_events, round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2""",
        "events_hourly": """SELECT event_type, date_trunc('hour', ts) AS hour,
       count(*) AS n_events, round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2""",
        "bpe_tokens": """SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))::BIGINT
         AS n_pretokens,
       coalesce(list_sum(list_transform(
         regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'),
         t -> ceil(length(t) / 4.0)::BIGINT)), 0)::BIGINT AS n_pieces
FROM documents""",
        "token_stats": f"""WITH {TOKS_SQL}
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       length(text)::BIGINT AS n_chars,
       CASE WHEN len(toks) > 0
            THEN round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                       / len(toks), 6)
            ELSE 0.0 END AS avg_token_len
FROM t""",
        "quality_score": f"""WITH {TOKS_SQL},
q AS (
  SELECT doc_id, len(toks) AS n,
         len(list_filter(toks, x -> x IN ({stop}))) AS hits
  FROM t
)
SELECT doc_id,
       round(CASE WHEN n > 0 THEN hits::DOUBLE / n ELSE 0.0 END, 6)
         AS stopword_ratio,
       round(least(n::DOUBLE / 100.0, 1.0)
             * (0.5 + 0.5 * CASE WHEN n > 0 THEN hits::DOUBLE / n
                                 ELSE 0.0 END), 6) AS score
FROM q""",
        "lang_id": _lang_sql(),
        "fingerprint": r"""SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
FROM documents""",
        "exact_dedup": """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
       count(*) AS n_dupes
FROM documents GROUP BY md5(text)""",
        "minhash_signatures": f"""WITH {_minhash_sig_select()}
SELECT * FROM sigs""",
        "lsh_dup_pairs": f"""WITH {_minhash_sig_select()},
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band, sig{2 * b}::VARCHAR || ':' || sig{2 * b + 1}::VARCHAR AS key FROM sigs"
      for b in range(MINHASHES // BAND_SIZE)
  )}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
WHERE a.doc_id < b.doc_id""",
        "ngram_jaccard": f"""WITH {_minhash_sig_select()},
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band, sig{2 * b}::VARCHAR || ':' || sig{2 * b + 1}::VARCHAR AS key FROM sigs"
      for b in range(MINHASHES // BAND_SIZE)
  )}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
sd AS (
  SELECT doc_id,
         list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 1, 1)),
            i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS sh
  FROM t
),
ex AS (SELECT doc_id, unnest(sh) AS g FROM sd),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN ex a ON a.doc_id = c.doc_a
  JOIN ex b ON b.doc_id = c.doc_b AND b.g = a.g
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) >= {JACCARD_MIN}""",
        "simhash": _simhash_sql(),
        "dedup_survivors": _dedup_survivors_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "ann_topk": f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {cos_expr("q.v", "c.v")} AS cos_raw
  FROM e q JOIN e c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {ANN_QUERIES}
),
ranked AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id ASC) AS rank,
         neighbor_id, round(cos_raw, 5) AS cos
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, neighbor_id, cos
FROM ranked WHERE rank <= {ANN_K}""",
        "cosine_dup_pairs": f"""WITH {_srp_cand_sql()}
SELECT c.id_a, c.id_b, round({cos_expr("a.v", "b.v")}, 5) AS cos
FROM cand c JOIN e a ON a.vec_id = c.id_a JOIN e b ON b.vec_id = c.id_b
WHERE {cos_expr("a.v", "b.v")} >= {DUP_COS}""",
        "lsh_ann_topk": f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
bucketed AS (
  SELECT vec_id, v,
         {_srp_bits_sql("v", srp_planes(EMB_DIM, ANN_PLANES, SRP_SEED))} AS bkt
  FROM e
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {cos_expr("q.v", "c.v")} AS cos_raw
  FROM bucketed q JOIN bucketed c
    ON q.bkt = c.bkt AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {ANN_QUERIES}
),
ranked AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id ASC) AS rank,
         neighbor_id, round(cos_raw, 5) AS cos
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, neighbor_id, cos
FROM ranked WHERE rank <= {ANN_K}""",
    }
