"""BLAS-2 matrix-vector primitives — the engine core (SURVEY.md §2.5).

Ref spec: base/blas2.hpp:243-936 (mxv/vxm variant families, full mask +
descriptor semantics at base/blas2.hpp:62-234); impl: ``vxm_generic``
reference/blas2.hpp:870-1580 with a gather (CRS, pull) kernel at :295 and a
scatter (CCS, push) kernel at :646, chosen by a loop-size cost model
(reference/blas2.hpp:1104-1145).

Spark design
------------
One edge table ``(src, dst[, val])`` serves both directions (the analog of
ALP's dual CRS+CCS storage, reference/matrix.hpp:912 — transpose is a free
column swap):

- ``vxm(v, A)``: u[j] = ⊕_i v[i] ⊗ A[i,j]  → join v on ``src``, aggregate
  by ``dst``  (message push along edges — the Pregel exchange,
  pregel.hpp:882-884).
- ``mxv(A, v)``: u[i] = ⊕_j A[i,j] ⊗ v[j]  → vxm over Aᵀ.

The gather/scatter strategy choice maps to join strategy: a *sparse*
frontier v is broadcast (no edge shuffle, messages pruned at the scan by
the semi-join), a *dense* v uses the shuffle hash join which is co-located
when the edge table is pre-partitioned by ``src``. ``strategy='auto'``
decides from the frontier size — our analog of the reference cost model;
AQE re-plans at runtime as backstop.

Masks prune work BEFORE the shuffle (output mask semi-joins edges on
``dst``; input mask filters v) — the analog of "iterate only mask
nonzeroes" (reference/blas2.hpp:1270-1280). Aggregation is a single
``groupBy``: Spark's map-side partial aggregation is the thread-local
``asyncAssign``/``joinUpdate`` merge (reference/blas2.hpp:1259-1265), and
it is what absorbs hub-vertex skew at the reduce; explicit salting for the
join side lives in :mod:`alp_spark.plans.skew`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..algebra import Semiring
from ..containers import DST, ID, SRC, VAL
from .blas1 import apply_mask, e_wise_apply

#: frontier sizes at or below this broadcast by default (~32MB of longs+doubles)
BROADCAST_NNZ_THRESHOLD = 1_000_000


def broadcast_if_fits(df: DataFrame, nnz: int | None) -> DataFrame:
    """The one broadcast gate: hint ``df`` for a broadcast join when its
    driver-known row count ``nnz`` is at or below
    :data:`BROADCAST_NNZ_THRESHOLD` (an absolute bound — these frames
    are O(n), up to 10⁹ rows at the design point); leave it unhinted
    above that or when ``nnz`` is None, so AQE's runtime stats decide."""
    if nnz is not None and nnz <= BROADCAST_NNZ_THRESHOLD:
        return F.broadcast(df)
    return df


def vxm(
    v: DataFrame,
    A: DataFrame,
    semiring: Semiring,
    out_mask: DataFrame | None = None,
    invert_out_mask: bool = False,
    in_mask: DataFrame | None = None,
    transpose: bool = False,
    accum: DataFrame | None = None,
    strategy: str = "auto",
    frontier_nnz: int | None = None,
    out_mask_nnz: int | None = None,
) -> DataFrame:
    """u = v ⊙.⊕ A  (base/blas2.hpp:307; u[j] = ⊕_i v[i] ⊗ A[i,j]).

    ``accum``: existing u to ⊕-fold the product into (the reference's
    in-place accumulation u = u ⊕ vA). ``transpose`` swaps src/dst
    (descriptors.hpp:71). ``strategy``: 'broadcast' | 'shuffle' | 'auto'
    with ``frontier_nnz`` as the auto-mode cost input; an explicit
    'broadcast' hints ``v`` unconditionally, so bounding its size is the
    caller's contract (``simple_pagerank``'s 'auto' checks
    ``DENSE_BROADCAST_NNZ``). ``out_mask_nnz``:
    driver-known size of ``out_mask`` — at or below the broadcast
    threshold the mask semi-join broadcasts the mask so the edge table
    is never shuffled for the pruning step (the reference picks the
    loop side by the same counted-size comparison, the ``emiim``
    choice at reference/blas2.hpp:1063-1145); ``None`` leaves the
    choice to AQE's runtime stats.
    """
    join_key, group_key = (DST, SRC) if transpose else (SRC, DST)

    if in_mask is not None:
        v = apply_mask(v, in_mask)

    edges = A
    if out_mask is not None:
        # prune before the shuffle: only edges landing in the mask matter
        how = "left_anti" if invert_out_mask else "left_semi"
        mask_side = out_mask.select(F.col(ID).alias(group_key))
        edges = edges.join(
            broadcast_if_fits(mask_side, out_mask_nnz), on=group_key, how=how
        )

    vv = v.select(F.col(ID).alias(join_key), F.col(VAL).alias("_v"))
    if strategy == "broadcast":
        vv = F.broadcast(vv)  # bound: the caller's; only 'auto' is gated here
    elif strategy == "auto":
        vv = broadcast_if_fits(vv, frontier_nnz)

    a_val = F.col(VAL) if VAL in A.columns else F.lit(semiring.one)
    contrib = semiring.mul(F.col("_v"), a_val)

    u = (
        edges.join(vv, on=join_key, how="inner")
        .groupBy(F.col(group_key).alias(ID))
        .agg(semiring.add.agg(contrib).alias(VAL))
    )

    if accum is not None:
        u = e_wise_apply(accum, u, semiring.add.op, monoid=semiring.add)
        if out_mask is not None:
            # accumulated entries outside the mask stay untouched in ALP;
            # we re-merge: masked region from the product-fold, rest from accum
            u_in = apply_mask(u, out_mask, invert=invert_out_mask)
            u_out = apply_mask(accum, out_mask, invert=not invert_out_mask)
            u = u_in.unionByName(u_out)
    return u


def mxv(
    A: DataFrame,
    v: DataFrame,
    semiring: Semiring,
    out_mask: DataFrame | None = None,
    invert_out_mask: bool = False,
    in_mask: DataFrame | None = None,
    transpose: bool = False,
    accum: DataFrame | None = None,
    strategy: str = "auto",
    frontier_nnz: int | None = None,
    out_mask_nnz: int | None = None,
) -> DataFrame:
    """u = A ⊙.⊕ v  (base/blas2.hpp:243; u[i] = ⊕_j A[i,j] ⊗ v[j]) —
    identically vxm over Aᵀ (base/blas2.hpp:281-283), with the ⊗ operand
    order flipped to match the reference (multiply(A_ij, v_j))."""
    flipped = Semiring(
        add=semiring.add,
        mul=lambda x, y: semiring.mul(y, x),
        one=semiring.one,
    )
    return vxm(
        v,
        A,
        flipped,
        out_mask=out_mask,
        invert_out_mask=invert_out_mask,
        in_mask=in_mask,
        transpose=not transpose,
        accum=accum,
        strategy=strategy,
        frontier_nnz=frontier_nnz,
        out_mask_nnz=out_mask_nnz,
    )


def e_wise_lambda_matrix(
    A: DataFrame,
    fn,
    row_vec: DataFrame | None = None,
    col_vec: DataFrame | None = None,
    schema: str = "src long, dst long, val double",
    row_vec_nnz: int | None = None,
    col_vec_nnz: int | None = None,
):
    """Vectorized lambda over every nonzero (i, j, a_ij) with row/col-
    aligned vector access (eWiseLambda over matrices, base/blas2.hpp:440).

    ``fn(pandas.DataFrame) -> pandas.DataFrame`` receives columns
    ``src, dst[, val][, row_val][, col_val]`` Arrow-batched via
    ``mapInPandas`` (input_hint: no per-row Python).

    ``row_vec_nnz``/``col_vec_nnz``: driver-known vector sizes gating
    the join strategy exactly like ``vxm(out_mask_nnz=...)`` — at or
    below ``BROADCAST_NNZ_THRESHOLD`` the vector side broadcasts;
    above it (these vectors are O(n), up to 10⁹ at the design point —
    an unconditional broadcast is an executor OOM; VERDICT r4) the
    join shuffles; ``None`` leaves the choice to AQE."""

    j = A
    if row_vec is not None:
        rv = row_vec.select(F.col(ID).alias(SRC), F.col(VAL).alias("row_val"))
        j = j.join(broadcast_if_fits(rv, row_vec_nnz), on=SRC, how="inner")
    if col_vec is not None:
        cv = col_vec.select(F.col(ID).alias(DST), F.col(VAL).alias("col_val"))
        j = j.join(broadcast_if_fits(cv, col_vec_nnz), on=DST, how="inner")

    def run(batches):
        for pdf in batches:
            yield fn(pdf)

    return j.mapInPandas(run, schema=schema)
