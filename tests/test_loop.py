"""The loop runtime (alp_spark/loop.py) across every operator that runs
on it: no leaked persisted frames on any exit path, outputs independent
of the shuffle partition count, a per-round ``history``, the
``alp.phase`` job label and resume from a killed run's checkpoints."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np
import pytest

from alp_spark.checkpoint import ParquetCheckpointer
from alp_spark.loop import PHASE, Loop, _release

from .fixtures import edges_df, g497_powerlaw, g_seeded_labels, vec_df

ROOT = Path(__file__).resolve().parents[1]
N = 60


def _graph():
    """A preferential-attachment DAG plus a back edge out of every third
    vertex, so SCC has real cycles to color and harvest."""
    _, dag = g497_powerlaw(n=N)
    return sorted(set(dag) | {(d, s) for s, d in dag if s % 3 == 0})


DIRECTED = _graph()
SYMMETRIC = sorted(set(DIRECTED) | {(d, s) for s, d in DIRECTED})
# binary fractions: every path sum is exact, whatever the summation order
WEIGHTED = [(s, d, ((7 * s + 3 * d) % 10 + 1) / 4.0) for s, d in DIRECTED]


def _cc(spark, **kw):
    from alp_spark.algorithms import connected_components

    return connected_components(spark, edges_df(spark, SYMMETRIC), N, **kw)


def _pagerank(spark, **kw):
    from alp_spark.algorithms import simple_pagerank

    return simple_pagerank(spark, edges_df(spark, DIRECTED), N, **kw)


def _pagerank_teleport(spark, **kw):
    from alp_spark.algorithms import simple_pagerank

    tele = vec_df(spark, [(0, 0.25), (3, 0.75)])
    return simple_pagerank(spark, edges_df(spark, DIRECTED), N, teleport=tele, **kw)


def _pagerank_csr(spark, **kw):
    from alp_spark.algorithms import simple_pagerank_csr

    return simple_pagerank_csr(spark, edges_df(spark, DIRECTED), N, **kw)


def _fastsv(spark, **kw):
    from alp_spark.algorithms.fastsv import fastsv_components

    return fastsv_components(spark, edges_df(spark, SYMMETRIC), N, **kw)


def _kcore(spark, **kw):
    from alp_spark.algorithms.kcore import kcore_decomposition

    return kcore_decomposition(spark, edges_df(spark, SYMMETRIC), N, **kw)


def _mis(spark, **kw):
    from alp_spark.algorithms.mis import maximal_independent_set

    return maximal_independent_set(spark, edges_df(spark, SYMMETRIC), N, **kw)


def _sssp(spark, **kw):
    from alp_spark.algorithms.sssp import sssp

    return sssp(spark, edges_df(spark, WEIGHTED, val=True), N, source=N - 1, **kw)


def _label_prop(spark, **kw):
    from alp_spark.algorithms.label_propagation import label_propagation

    n, wedges, seeds = g_seeded_labels()
    y = vec_df(spark, [(i, seeds.get(i, 0.0)) for i in range(n)])
    return label_propagation(spark, edges_df(spark, wedges, val=True), y, n, 4, **kw)


def _truss(spark, **kw):
    from alp_spark.algorithms.truss import k_truss

    return k_truss(spark, edges_df(spark, SYMMETRIC), k=4, **kw)


def _scc(spark, **kw):
    from alp_spark.algorithms.scc import strongly_connected_components

    return strongly_connected_components(spark, edges_df(spark, DIRECTED), N, **kw)


def _reach(spark):
    from alp_spark.algorithms.scc import reach_set

    seeds = vec_df(spark, [(N - 1, 1.0)])
    return reach_set(spark, edges_df(spark, DIRECTED), seeds, forward=True)


def _hits(spark, **kw):
    from alp_spark.algorithms.hits import hits

    return hits(spark, edges_df(spark, DIRECTED), N, **kw)


def _anf(spark, **kw):
    from alp_spark.algorithms.anf import anf

    return anf(spark, edges_df(spark, DIRECTED), N, **kw)


def _nf(spark, **kw):
    from alp_spark.algorithms.anf import neighborhood_function

    return neighborhood_function(spark, edges_df(spark, DIRECTED), N, **kw)


def _ppr(spark, **kw):
    from alp_spark.algorithms.ppr_multi import ppr_multi

    return ppr_multi(spark, edges_df(spark, DIRECTED), N, [0, 7, N - 1], **kw)


def _knn(spark, k=2):
    from alp_spark.algorithms.mpv import knn

    return knn(spark, edges_df(spark, DIRECTED), N, source=N - 1, k=k)


def _sparse_nn(spark):
    from alp_spark.algorithms import sparse_nn_single_inference

    # quarter-valued weights of both signs, so relu and the clamp bite
    layers = [
        edges_df(
            spark, [(s, d, ((7 * s + 3 * d + l) % 9 - 4) / 4.0) for s, d in SYMMETRIC],
            val=True,
        )
        for l in range(4)
    ]
    x = vec_df(spark, [(i, (i % 5 + 1) / 4.0) for i in range(0, N, 3)])
    return sparse_nn_single_inference(spark, x, layers, [0.25] * 4, N, threshold=8.0)


# solver systems over the same graph: SPD (Laplacian + 2I), diagonally
# dominant non-symmetric, Hermitian positive definite
DEG = Counter(s for s, _ in SYMMETRIC)
SPD = [(s, d, -1.0) for s, d in SYMMETRIC] + [(i, i, DEG[i] + 2.0) for i in range(N)]
NONSYM = [(s, d, -0.5) for s, d in DIRECTED] + [(i, i, DEG[i] + 3.0) for i in range(N)]
HERMITIAN = [
    (s, d, -1.0, (1 if s < d else -1) * ((3 * min(s, d) + max(s, d)) % 5 - 2) / 10)
    for s, d in SYMMETRIC
] + [(i, i, 1.1 * DEG[i] + 2.0, 0.0) for i in range(N)]
RHS = [(i, (i % 7 + 1) / 4.0) for i in range(N)]


def _cg(spark, **kw):
    from alp_spark.algorithms import conjugate_gradient

    A, b = edges_df(spark, SPD, val=True), vec_df(spark, RHS)
    return conjugate_gradient(spark, A, b, N, tol=1e-8, **kw)


def _bicgstab(spark, **kw):
    from alp_spark.algorithms import bicgstab

    A, b = edges_df(spark, NONSYM, val=True), vec_df(spark, RHS)
    return bicgstab(spark, A, b, N, tol=1e-8, **kw)


def _cg_complex(spark, **kw):
    from alp_spark.algorithms.solvers import conjugate_gradient_complex

    A = spark.createDataFrame(HERMITIAN, "src long, dst long, re double, im double")
    b = spark.createDataFrame(
        [(i, v, -v / 2) for i, v in RHS], "id long, re double, im double"
    )
    return conjugate_gradient_complex(spark, A, b, N, tol=1e-8, **kw)


def _hpcg(spark, max_iterations=2):
    from alp_spark.algorithms.hpcg import build_hpcg_system, hpcg

    # a two-level hierarchy: 6³ coarsened to 3³
    system = build_hpcg_system(spark, (6, 6, 6), num_colors=3, min_phys_size=3)
    b = vec_df(spark, [(i, (i % 9 - 4) / 8.0) for i in range(system.n)])
    res = hpcg(spark, system, b, max_iterations=max_iterations)
    system.unpersist()
    return res


def _kmeans(spark, **kw):
    from alp_spark.algorithms import kmeans

    # binary-fraction coordinates: every centroid sum is exact
    pts = spark.createDataFrame(
        [(i, [(i * 7 % 13) / 4.0, (i * 5 % 11) / 4.0]) for i in range(N)],
        "id long, vec array<double>",
    )
    return kmeans(spark, pts, k=3, seed=5, **kw)


def _bowtie(spark):
    from alp_spark.algorithms.scc import bowtie_classes

    return bowtie_classes(spark, edges_df(spark, DIRECTED), N)


def _triangles(spark):
    from alp_spark.algorithms import triangle_count

    return triangle_count(edges_df(spark, SYMMETRIC))


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _scores(df, col="val", key=("id",)):
    rows = _rows(df, *key, col)
    return np.array([r[-1] for r in rows])


@dataclass
class Op:
    run: Callable
    k: int  # checkpointed frames the returned result still reads
    exact: Callable  # result -> integer outputs and round counts
    scores: Callable | None = None  # result -> float scores
    bound: str | None = None  # the option that caps its rounds
    rounds: Callable | None = None  # census loops: result -> rounds
    label: str | None = None  # the alp.phase op name seen by a checkpointer
    rtol: float = 1e-15  # float scores across shuffle partition counts


OPS = {
    "pregel_cc": Op(
        _cc, 1, lambda r: (_rows(r.state, "id", "state"), r.rounds),
        bound="max_rounds", rounds=lambda r: r.rounds, label="pregel",
    ),
    "simple_pagerank": Op(
        _pagerank, 1, lambda r: r.iterations, lambda r: _scores(r.ranks),
        bound="max_iter", rounds=lambda r: r.iterations, label="simple_pagerank",
    ),
    "simple_pagerank_teleport": Op(
        _pagerank_teleport, 1, lambda r: r.iterations, lambda r: _scores(r.ranks),
        bound="max_iter", rounds=lambda r: r.iterations, label="simple_pagerank",
    ),
    # a driver numpy loop, not on Loop: held to the same release and
    # partition-count checks
    "simple_pagerank_csr": Op(
        _pagerank_csr, 0, lambda r: r.iterations, lambda r: _scores(r.ranks),
        bound="max_iter",
    ),
    "fastsv": Op(
        _fastsv, 1, lambda r: (_rows(r.labels, "id", "label"), r.rounds),
        bound="max_rounds", rounds=lambda r: r.rounds, label="fastsv",
    ),
    "kcore_hindex": Op(
        _kcore, 1, lambda r: (_rows(r.cores, "id", "core"), r.rounds, r.max_k),
        bound="max_rounds", rounds=lambda r: r.rounds, label="kcore",
    ),
    "mis": Op(
        _mis, 1, lambda r: (_rows(r.members, "id"), r.rounds),
        bound="max_rounds", rounds=lambda r: r.rounds,
    ),
    "sssp": Op(
        _sssp, 1, lambda r: (_rows(r.dists, "id", "val"), r.rounds, r.converged),
        bound="max_rounds", rounds=lambda r: r.rounds,
    ),
    "label_propagation": Op(
        _label_prop, 1, lambda r: (_rows(r.labels, "id", "val"), r.iterations),
        bound="max_iterations", rounds=lambda r: r.iterations,
    ),
    "k_truss": Op(
        _truss, 1, lambda r: (_rows(r.edges, "src", "dst"), r.rounds),
        bound="max_rounds", rounds=lambda r: r.rounds,
    ),
    "scc": Op(
        _scc, 1,
        lambda r: (_rows(r.labels, "id", "scc"), r.outer_rounds, r.inner_rounds),
        bound="max_outer", rounds=lambda r: r.inner_rounds,
    ),
    "reach_set": Op(_reach, 1, lambda r: _rows(r, "id")),
    "hits": Op(
        _hits, 2, lambda r: r.rounds,
        lambda r: np.concatenate([_scores(r.auth), _scores(r.hubs)]), bound="iters",
        rounds=lambda r: r.rounds,
    ),
    "anf": Op(
        _anf, 1, lambda r: _rows(r.sketches, "id", "sketch", "est_reach"), bound="rounds",
        rounds=lambda r: r.rounds,
    ),
    # the result is built from the steps' censuses: it reads no checkpoint
    "neighborhood_function": Op(
        _nf, 0, lambda r: _rows(r, "hop", "n_pairs"), bound="rounds",
    ),
    "ppr_multi": Op(
        _ppr, 1, lambda r: r.rounds, lambda r: _scores(r.ranks, key=("seed", "id")),
        bound="rounds", rounds=lambda r: r.rounds,
    ),
    "knn": Op(_knn, 1, lambda r: (_rows(r.reached, "id"), r.size), bound="k"),
    "sparse_nn": Op(_sparse_nn, 1, lambda r: _rows(r, "id"), lambda r: _scores(r)),
    # Krylov solvers: their oracle tests' rtol, as the iterate compounds
    # the dots' summation order
    "cg": Op(
        _cg, 1, lambda r: (r.iterations, r.converged), lambda r: _scores(r.x),
        bound="max_iterations", rounds=lambda r: r.iterations, rtol=1e-9,
    ),
    "bicgstab": Op(
        _bicgstab, 1, lambda r: (r.iterations, r.converged), lambda r: _scores(r.x),
        bound="max_iterations", rounds=lambda r: r.iterations, rtol=1e-9,
    ),
    "cg_complex": Op(
        _cg_complex, 1, lambda r: (r.iterations, r.converged),
        lambda r: np.concatenate([_scores(r.x, "re"), _scores(r.x, "im")]),
        bound="max_iterations", rounds=lambda r: r.iterations, rtol=1e-9,
    ),
    "hpcg": Op(
        _hpcg, 1, lambda r: r.iterations, lambda r: _scores(r.x),
        bound="max_iterations", rounds=lambda r: r.iterations, rtol=1e-9,
    ),
    "kmeans": Op(
        _kmeans, 1,
        lambda r: (
            _rows(r.assignments, "id", "cluster", "dist"), r.iterations, r.centroids
        ),
        bound="max_iter", rounds=lambda r: r.iterations,
    ),
    "bowtie": Op(_bowtie, 1, lambda r: _rows(r, "id", "cls")),
    "triangle_count": Op(
        _triangles, 1, lambda r: (r.total, _rows(r.per_vertex, "id", "count")),
    ),
}
CENSUS = [name for name, op in OPS.items() if op.rounds is not None]
CHECKPOINTING = [name for name, op in OPS.items() if op.label is not None]


def _persisted(spark) -> set[int]:
    """Ids of the persisted RDDs. ``persistentRdds`` is a weak-value map,
    so GC of an earlier test's dropped frame can shrink it: compare the
    ids a call created, not the map's size."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


class _FailingCheckpointer:
    def save(self, *args, **kwargs):
        raise RuntimeError("checkpoint store unavailable")

    def latest(self):
        return None


class _LabelRecorder:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.labels = []

    def save(self, *args, **kwargs):
        self.labels.append(self.sc.getLocalProperty(PHASE))

    def latest(self):
        return None


KILL_AT = 2


class _KilledCheckpointer(ParquetCheckpointer):
    """The process dies right after committing superstep ``KILL_AT``: no
    later round and no final snapshot is written."""

    def save(self, df, superstep, metrics=None, final=False):
        super().save(df, superstep, metrics, final)
        if superstep == KILL_AT:
            raise RuntimeError(f"killed after superstep {superstep}")


@pytest.mark.parametrize("name", list(OPS))
def test_loop_releases_persisted_frames(spark, name):
    # the cached invariants and every checkpoint are released on each
    # exit path; only the k frames the result reads may stay persisted
    op = OPS[name]
    runs = [{}] + ([{op.bound: 1}] if op.bound else [])
    for kwargs in runs:
        before = _persisted(spark)
        op.run(spark, **kwargs)
        assert len(_persisted(spark) - before) <= op.k, kwargs
    if name in CHECKPOINTING:
        before = _persisted(spark)
        with pytest.raises(RuntimeError, match="checkpoint store unavailable"):
            op.run(spark, checkpointer=_FailingCheckpointer(), checkpoint_every=1)
        assert not _persisted(spark) - before


@pytest.mark.parametrize("name", list(OPS))
def test_outputs_independent_of_shuffle_partition_count(spark, name):
    # every loop reshapes its actions around the runtime; integer outputs
    # and round counts must not depend on the shuffle partition count,
    # float scores only up to the summation order of partial sums
    op = OPS[name]
    conf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf)

    def run():
        res = op.run(spark)
        return op.exact(res), None if op.scores is None else op.scores(res)

    try:
        spark.conf.set(conf, "2")
        two = run()
        spark.conf.set(conf, "8")
        eight = run()
    finally:
        spark.conf.set(conf, old)
    assert two[0] == eight[0]
    if op.scores is not None:
        np.testing.assert_allclose(two[1], eight[1], rtol=op.rtol)


@pytest.mark.parametrize("name", CENSUS)
def test_history_has_one_entry_per_round(spark, name):
    op = OPS[name]
    res = op.run(spark)
    assert len(res.history) == op.rounds(res)
    assert [h["round"] for h in res.history] == list(range(1, op.rounds(res) + 1))
    assert all(h["wall_s"] > 0 for h in res.history)
    assert spark.sparkContext.getLocalProperty(PHASE) is None


@pytest.mark.parametrize("name", CHECKPOINTING)
def test_checkpoint_saves_run_under_the_operator_label(spark, name):
    op = OPS[name]
    rec = _LabelRecorder(spark)
    res = op.run(spark, checkpointer=rec, checkpoint_every=1)
    # one save per round plus the final snapshot
    assert len(rec.labels) == op.rounds(res) + 1
    assert rec.labels[0] == f"{op.label}:save:1"
    assert rec.labels[-1] == f"{op.label}:save:{op.rounds(res)}"
    assert spark.sparkContext.getLocalProperty(PHASE) is None


@pytest.mark.parametrize("name", CHECKPOINTING + ["simple_pagerank_csr"])
def test_killed_run_resumes_to_the_uninterrupted_result(spark, tmp_path, name):
    # a checkpointer whose run holds a snapshot resumes the call from it
    op = OPS[name]
    full = op.run(spark)
    base = str(tmp_path)
    with pytest.raises(RuntimeError, match="killed after superstep"):
        op.run(spark, checkpointer=_KilledCheckpointer(base, "run"), checkpoint_every=1)
    res = op.run(
        spark, checkpointer=ParquetCheckpointer.attach(base, "run"), checkpoint_every=1
    )
    assert res.history[0]["round"] == KILL_AT + 1
    assert op.exact(res) == op.exact(full)
    if op.scores is not None:
        np.testing.assert_allclose(op.scores(res), op.scores(full), rtol=1e-12)


def test_triangle_count_persists_only_its_counts(spark):
    # the triangles themselves are never persisted: releasing the
    # per-vertex counts the result reads returns to the baseline
    before = _persisted(spark)
    res = _triangles(spark)
    _release(res.per_vertex)
    assert not _persisted(spark) - before


def test_step_wall_counts_mid_round_checkpoints(spark):
    # a round runs from the end of the previous step to the end of its
    # own: a checkpoint between two steps belongs to the second round
    df = spark.range(4)
    with Loop(spark, "clock") as loop:
        f, _ = loop.checkpoint(df)
        f, _ = loop.step(df, replaces=f)
        time.sleep(0.3)
        f, _ = loop.checkpoint(df, stage="mid", replaces=f)
        loop.step(df, replaces=f)
    assert loop.history[1]["wall_s"] >= 0.3


# k-means++ seeding in a fresh session with an uncompressed event log
KPP_SCRIPT = f"""
import sys
sys.path.insert(0, {str(ROOT)!r})
from alp_spark.algorithms.kmeans import kpp_initialisation
from alp_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=1, extra_conf={{
    "spark.eventLog.enabled": "true", "spark.eventLog.dir": sys.argv[1],
    "spark.eventLog.compress": "false",
}})
pts = spark.createDataFrame(
    [(i, [(i * 7 % 13) / 4.0, (i * 5 % 11) / 4.0]) for i in range(40)],
    "id long, vec array<double>",
)
kpp_initialisation(spark, pts, k=4, seed=7)
spark.stop()
"""


def test_kpp_draws_fold_into_distinct_rounds(tmp_path):
    # each centroid draw is a step of kpp's Loop: its checkpoint and the
    # draw's own jobs carry that round's label
    log = tmp_path / "events"
    log.mkdir()
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, "-c", KPP_SCRIPT, str(log)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    jobs = Counter()
    for f in log.rglob("events_*"):  # Spark 4.1 rolls the log into events_<k>_<app>
        for line in f.read_text().splitlines():
            ev = json.loads(line)
            if ev.get("Event") == "SparkListenerJobStart":
                jobs[ev["Properties"].get(PHASE)] += 1
    draws = {l: c for l, c in jobs.items() if l and l.startswith("kpp:kpp:")}
    # k - 1 = 3 draws; each is a checkpoint plus the draw's collect
    assert sorted(draws) == ["kpp:kpp:1", "kpp:kpp:2", "kpp:kpp:3"]
    assert all(c >= 2 for c in draws.values())
