"""Unit tests for mxv/vxm vs NumPy (analog of tests/unit/{mxv,vxm,
masked_mxv,sparse_vxm}.cpp)."""

from __future__ import annotations

import numpy as np
import pytest

from alp_spark import algebra as alg
from alp_spark.containers import set_dense
from alp_spark.operators import mxv, vxm

from .fixtures import edges_df, g10_line_hub, vec_df
from .oracles import adjacency


def as_arr(df, n, fill=0.0):
    out = np.full(n, fill)
    for r in df.collect():
        out[r["id"]] = r["val"]
    return out


@pytest.fixture(scope="module")
def g10(spark):
    n, edges = g10_line_hub()
    return n, edges, edges_df(spark, edges), adjacency(n, edges)


def test_vxm_plus_times_pattern(spark, g10):
    n, edges, E, A = g10
    v = vec_df(spark, [(i, (i + 1) / 10.0) for i in range(n)])
    u = vxm(v, E, alg.PLUS_TIMES)
    x = np.array([(i + 1) / 10.0 for i in range(n)])
    np.testing.assert_allclose(as_arr(u, n), x @ A, rtol=1e-12)


def test_mxv_plus_times(spark, g10):
    n, edges, E, A = g10
    v = vec_df(spark, [(i, float(i * i + 1)) for i in range(n)])
    u = mxv(E, v, alg.PLUS_TIMES)
    x = np.array([float(i * i + 1) for i in range(n)])
    np.testing.assert_allclose(as_arr(u, n), A @ x, rtol=1e-12)


def test_vxm_transpose_equals_mxv(spark, g10):
    n, edges, E, A = g10
    v = vec_df(spark, [(i, float(i + 1)) for i in range(n)])
    u1 = vxm(v, E, alg.PLUS_TIMES, transpose=True)
    u2 = mxv(E, v, alg.PLUS_TIMES)
    np.testing.assert_allclose(as_arr(u1, n), as_arr(u2, n), rtol=1e-12)


def test_row_sums_via_pattern_ring(spark, g10):
    # simple_pagerank.hpp:210-222: out-degrees = vxm over (plus,
    # left_assign_if) with ones input and transpose
    n, edges, E, A = g10
    ones = set_dense(spark, n, 1.0)
    deg = vxm(ones, E, alg.PLUS_FIRST, transpose=True)
    np.testing.assert_allclose(as_arr(deg, n), A.sum(axis=1), rtol=1e-12)
    # dangling vertex 8 has NO row → absent entry (sparse semantics)
    assert 8 not in {r["id"] for r in deg.collect()}


def test_or_and_reachability(spark, g10):
    n, edges, E, A = g10
    v = vec_df(spark, [(0, True)], "boolean")
    u = mxv(E, v, alg.OR_AND, transpose=True)  # forward 1-hop from vertex 0
    reached = {r["id"] for r in u.where("val").collect()}
    assert reached == {d for s, d in edges if s == 0}


def test_min_plus_one_hop(spark):
    edges = [(0, 1, 4.0), (0, 2, 1.0), (2, 1, 2.0)]
    E = edges_df(spark, edges, val=True)
    dist = vec_df(spark, [(0, 0.0)])
    d1 = vxm(dist, E, alg.MIN_PLUS)
    got = {r["id"]: r["val"] for r in d1.collect()}
    assert got == {1: 4.0, 2: 1.0}


def test_output_mask_and_invert(spark, g10):
    n, edges, E, A = g10
    v = vec_df(spark, [(i, 1.0) for i in range(n)])
    mask = vec_df(spark, [(1, True), (2, True)], "boolean")
    u = vxm(v, E, alg.PLUS_TIMES, out_mask=mask)
    assert {r["id"] for r in u.collect()} <= {1, 2}
    ui = vxm(v, E, alg.PLUS_TIMES, out_mask=mask, invert_out_mask=True)
    assert not ({1, 2} & {r["id"] for r in ui.collect()})


def test_input_mask_filters_frontier(spark, g10):
    n, edges, E, A = g10
    v = vec_df(spark, [(i, 1.0) for i in range(n)])
    in_mask = vec_df(spark, [(9, True)], "boolean")  # only the hub speaks
    u = vxm(v, E, alg.PLUS_TIMES, in_mask=in_mask)
    assert {r["id"] for r in u.collect()} == {d for s, d in edges if s == 9}


def test_accumulate_into_existing(spark, g10):
    n, edges, E, A = g10
    v = vec_df(spark, [(i, 1.0) for i in range(n)])
    u0 = set_dense(spark, n, 100.0)
    u = vxm(v, E, alg.PLUS_TIMES, accum=u0)
    expect = np.ones(n) @ A + 100.0
    np.testing.assert_allclose(as_arr(u, n), expect, rtol=1e-12)


def test_broadcast_and_shuffle_agree(spark, g10):
    n, edges, E, A = g10
    v = vec_df(spark, [(i, float(i)) for i in range(n)])
    ub = vxm(v, E, alg.PLUS_TIMES, strategy="broadcast")
    us = vxm(v, E, alg.PLUS_TIMES, strategy="shuffle")
    np.testing.assert_allclose(as_arr(ub, n), as_arr(us, n), rtol=1e-12)


def test_every_broadcast_hint_has_an_absolute_bound():
    # a raw F.broadcast is allowed only inside the one gate, or on a line
    # that states its bound in a ``# bound:`` comment
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "alp_spark"
    unbounded = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        gate = set()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and node.name == "broadcast_if_fits":
                gate.update(range(node.lineno, node.end_lineno + 1))
        for no, line in enumerate(src.splitlines(), 1):
            if "F.broadcast(" in line and no not in gate and "# bound:" not in line:
                unbounded.append(f"{path.relative_to(root)}:{no}")
    assert not unbounded


def test_one_partition_sizing_rule():
    # the parallelism settings are read only by the one sizing rule
    # (plans/partitions.py; session.py may set them), and every
    # spark.range outside vertex_ids states why it keeps another layout
    # in a ``# layout:`` comment on its line or directly above it
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "alp_spark"
    keys = ("spark.sql.shuffle.partitions", "spark.default.parallelism")
    stray = []
    for path in sorted(root.rglob("*.py")):
        rel = str(path.relative_to(root))
        src = path.read_text()
        lines = src.splitlines()
        nodes = list(ast.walk(ast.parse(src)))
        seeds, sets = set(), set()
        for node in nodes:
            if isinstance(node, ast.FunctionDef) and node.name == "vertex_ids":
                seeds.update(range(node.lineno, node.end_lineno + 1))
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("config", "set")
                and node.args
            ):
                sets.add(id(node.args[0]))
        if rel != "plans/partitions.py":
            if "defaultParallelism" in src:
                stray.append(f"{rel}: defaultParallelism")
            stray += [
                f"{rel}:{node.lineno}: {node.value}"
                for node in nodes
                if isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and any(k in node.value for k in keys)
                and id(node) not in sets
            ]
        for node in nodes:
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "range"
                and ast.unparse(node.func.value).endswith("spark")
                and node.lineno not in seeds
            ):
                continue
            top = node.lineno - 1
            while top >= 1 and lines[top - 1].strip().startswith("#"):
                top -= 1
            if not any("# layout:" in line for line in lines[top : node.lineno]):
                stray.append(f"{rel}:{node.lineno}: spark.range")
    assert not stray
