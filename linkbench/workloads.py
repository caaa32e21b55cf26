"""The benchmark's workloads: inputs, one timed pass, and output checks.

A workload has three parts, called by ``run.py``:

- ``setup()`` builds the inputs and the reference answers;
- ``run_pass(span)`` makes one pass of timed calls; ``span(module,
  call, fn)`` times ``fn()`` and returns its result;
- ``check(outputs)`` compares a pass's outputs with the references,
  outside every timed section, and returns ``{call: ok}``.

See README.md for why each workload exists.
"""

from __future__ import annotations

import importlib
import importlib.util
import json
import os
import shutil
import statistics
import time
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
FIXTURE = HERE / "data" / "sf0.01"
# the DuckDB oracle_sql() answers for FIXTURE, normalised by
# scripts/check_entry.py's norm(); rebuild with ``python3 linkbench/oracle.py``
ORACLE = FIXTURE / "oracle.json"


class Recorder:
    """Keeps the result object of each wrapped public function, so a
    call's superstep count can be read without tracing the engine."""

    def __init__(self):
        self.last = None
        self._restore = []

    def wrap(self, module, attr: str) -> None:
        orig = getattr(module, attr)

        def recorded(*args, **kwargs):
            self.last = orig(*args, **kwargs)
            return self.last

        setattr(module, attr, recorded)
        self._restore.append((module, attr, orig))

    def close(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()

    def rounds(self) -> int:
        """Supersteps of the last recorded result."""
        res, self.last = self.last, None
        return int(getattr(res, "iterations", None) or res.rounds)


def _fixture_views(con) -> None:
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{FIXTURE}/lineitem.parquet')")


def _load(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# --------------------------------------------------------------------------
# round-floor
# --------------------------------------------------------------------------

class RoundFloor:
    """Convergence-driven driver queries on the 1,000-vertex sf0.01
    fixture, where the fixed per-round cost dominates.

    The fixture is fixed (seed 42), so ``seed`` does not change it."""

    name = "round-floor"
    # query -> (module path, function) whose result carries the rounds,
    # and which edge set one round touches ("E" directed, "S" symmetric)
    QUERIES = {
        "connected_components": ("__spark_entry__", "connected_components", "S"),
    }
    CALLS = [("algorithms", q, True) for q in QUERIES]
    PREGEL_CALLS = ("connected_components",)
    PASS_LAYER = ()

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.entry = importlib.import_module("__spark_entry__")
        self.recorder = Recorder()
        for modname, attr, _ in self.QUERIES.values():
            self.recorder.wrap(importlib.import_module(modname), attr)
        self.rounds: dict[str, int] = {}

    def setup(self) -> None:
        import duckdb

        self.norm = _load("check_entry", ROOT / "scripts" / "check_entry.py").norm
        golden = json.loads(ORACLE.read_text())
        self.expected = {
            q: (golden[q]["columns"], [tuple(r) for r in golden[q]["rows"]])
            for q in self.QUERIES
        }
        con = duckdb.connect()
        try:
            _fixture_views(con)
            e_sql, sym_sql = self.entry.E_SQL, self.entry.SYM_SQL
            n_e = con.execute(f"WITH {e_sql} SELECT count(*) FROM edges").fetchone()[0]
            n_s = con.execute(f"WITH {e_sql}, {sym_sql} SELECT count(*) FROM sym").fetchone()[0]
        finally:
            con.close()
        self.edges = {"E": n_e, "S": n_s}

    def run_pass(self, span) -> dict:
        qs = self.entry.queries()
        out = {}
        for q in self.QUERIES:
            out[q] = span("algorithms", q, lambda q=q: collect(qs[q](self.spark, str(FIXTURE))))
            self.rounds[q] = self.recorder.rounds()
        return out

    def edge_work(self) -> dict[str, int]:
        """Superstep x |E| per iterative call of the last pass."""
        return {
            q: self.rounds[q] * self.edges[kind]
            for q, (_, _, kind) in self.QUERIES.items()
        }

    def check(self, outputs: dict) -> dict[str, bool]:
        return {
            q: self.norm(rows, cols) == self.expected[q]
            for q, (cols, rows) in outputs.items()
        }

    def layer_metrics(self, passes) -> dict[str, float]:
        return {}

    def close(self) -> None:
        self.recorder.close()


def collect(df):
    """The ``(columns, rows)`` of a frame — the action inside a span."""
    return df.columns, [tuple(r) for r in df.collect()]


# --------------------------------------------------------------------------
# crawl-to-rank
# --------------------------------------------------------------------------

def zipf_graph(n: int, avg_deg: int, seed: int) -> np.ndarray:
    """Seeded digraph with Zipf(1.4) out-degrees (capped at n/4) and a
    64-vertex hub set taking 10% of edge targets: the
    scripts/bench_graphscale.py shape, with the seed as an argument.

    Targets are drawn without replacement, so every seed gives exactly
    ``n * avg_deg`` distinct edges and no self-loops.  Returns sorted
    (src, dst) rows."""
    rng = np.random.default_rng(seed)
    cap, m, hubs = n // 4, n * avg_deg, min(64, n)
    deg = np.minimum(rng.zipf(1.4, size=n), cap).astype(np.float64)
    deg = np.minimum(np.floor(deg * m / deg.sum()), cap).astype(np.int64)
    while deg.sum() < m:  # hand out the rounding remainder
        open_ = np.flatnonzero(deg < cap)
        deg[rng.choice(open_, size=min(m - deg.sum(), len(open_)), replace=False)] += 1
    rows = []
    for v in range(n):
        k_hub = min(rng.binomial(deg[v], 0.10), hubs - 1)
        pool_hub = np.delete(np.arange(hubs), v) if v < hubs else np.arange(hubs)
        pool_rest = np.delete(np.arange(hubs, n), v - hubs) if v >= hubs else np.arange(hubs, n)
        dst = np.concatenate([
            rng.choice(pool_hub, size=k_hub, replace=False),
            rng.choice(pool_rest, size=deg[v] - k_hub, replace=False),
        ])
        rows.append(np.stack([np.full(len(dst), v), dst], axis=1))
    edges = np.concatenate(rows).astype(np.int64)
    return edges[np.lexsort((edges[:, 1], edges[:, 0]))]


def pagerank_ref(n: int, edges: np.ndarray, alpha: float, conv: float, max_iter: int):
    """NumPy transliteration of ``simple_pagerank``'s iteration: returns
    (ranks, iterations)."""
    src, dst = edges[:, 0], edges[:, 1]
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    pr = np.full(n, 1.0 / n)
    it = 0
    while True:
        add = (alpha * pr[dangling].sum() + 1.0 - alpha) / n
        nxt = np.bincount(dst, weights=pr[src] * alpha / outdeg[src], minlength=n) + add
        residual = np.abs(nxt - pr).sum()
        pr, it = nxt, it + 1
        if residual <= conv or it >= max_iter:
            return pr, it


class CrawlToRank:
    """Seeded pages table -> extract -> dedup -> edge table -> bucketed
    write -> checkpointed PageRank -> rank write: the only workload that
    crosses ``sources/``, the Arrow UDF boundary and the write path."""

    name = "crawl-to-rank"
    N_PAGES = 500
    AVG_DEG = 8
    CONV = 1e-6
    # capped at one round (a checkpoint save, then the final save): the
    # run's time budget holds no more, and the per-round floor is
    # round-floor's job
    MAX_ITER = 1
    ALPHA = 0.85
    TABLE = "linkbench_edges"
    CALLS = [
        ("sources", "extract", False),
        ("sources", "dedup", False),
        ("sources", "edge_build", False),
        ("sources", "write", False),
        ("algorithms", "simple_pagerank", True),
        ("sources", "rank_write", False),
    ]
    PREGEL_CALLS = ()
    PASS_LAYER = (
        "sources.edges", "sources.pages_per_s",
        "checkpoint.save_s", "checkpoint.saves", "checkpoint.mb",
    )

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.pages_path = str(work / "pages.parquet")
        self.ckpt_dir = str(work / "checkpoints")
        self.ranks_path = str(work / "ranks")
        self.n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.rounds: dict[str, int] = {}
        self.checkpoints: list[tuple[float, float]] = []  # (seconds, MB) per save

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from alp_spark.sources.pages import render_page, url_of

        n = self.N_PAGES
        edges = zipf_graph(n, self.AVG_DEG, self.seed)
        # the pages generator's own renderer, row by row: the pass reads
        # ``html``; ``text`` is the golden extraction
        cuts = np.searchsorted(edges[:, 0], np.arange(n + 1))
        urls, html, text = [], [], []
        for i in range(n):
            h, t = render_page(i, edges[cuts[i]:cuts[i + 1], 1].tolist())
            urls.append(url_of(i))
            html.append(h)
            text.append(t)
        pq.write_table(
            pa.table({"url": urls, "html": pa.array(html, pa.binary()), "text": text}),
            self.pages_path,
        )
        self.golden_text = dict(zip(urls, text))
        self.distinct_texts = len(set(text))
        self.url_edges = {(urls[s], urls[d]) for s, d in edges.tolist()}
        self.page_of = {u: i for i, u in enumerate(urls)}
        self.ranks_ref, self.iters_ref = pagerank_ref(
            n, edges, self.ALPHA, self.CONV, self.MAX_ITER
        )
        self.n_edges = len(edges)

    def run_pass(self, span) -> dict:
        from pyspark.sql import functions as F

        from alp_spark.algorithms.simple_pagerank import simple_pagerank
        from alp_spark.checkpoint import ParquetCheckpointer
        from alp_spark.pipeline.dedup import exact_dedup
        from alp_spark.sources.extract import extract_text_udf
        from alp_spark.sources.sinks import read_bucketed, write_bucketed

        spark = self.spark
        pages = spark.read.parquet(self.pages_path)
        docs = span("sources", "extract", lambda: pages.select(
            F.monotonically_increasing_id().alias("doc_id"),
            "url",
            extract_text_udf(F.col("html")).alias("text"),
        ).localCheckpoint(eager=True))
        groups = span("sources", "dedup", lambda: exact_dedup(docs).agg(
            F.count("*").alias("groups"), F.sum("n_dupes").alias("docs")
        ).collect()[0])
        edges, id_map = span("sources", "edge_build", lambda: _eager_edges(pages))
        span("sources", "write", lambda: write_bucketed(edges, self.TABLE, self.n_buckets))

        shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        saves = self.checkpoints = []

        class TimedCheckpointer(ParquetCheckpointer):
            """Times the public ``save`` and sizes what it wrote."""

            def save(self, df, superstep, metrics=None, final=False):
                t0 = time.perf_counter()
                super().save(df, superstep, metrics, final)
                path = os.path.join(self.run_dir, f"superstep={superstep}")
                saves.append((time.perf_counter() - t0, _dir_mb(path)))

        res = span("algorithms", "simple_pagerank", lambda: simple_pagerank(
            spark, read_bucketed(spark, self.TABLE), self.N_PAGES,
            alpha=self.ALPHA, conv=self.CONV, max_iter=self.MAX_ITER,
            checkpointer=TimedCheckpointer(self.ckpt_dir), checkpoint_every=1,
        ))
        self.rounds["simple_pagerank"] = res.iterations
        span("sources", "rank_write", lambda: res.ranks.write.mode("overwrite").parquet(
            self.ranks_path
        ))
        return {"docs": docs, "groups": groups, "edges": edges, "id_map": id_map, "pr": res}

    def edge_work(self) -> dict[str, int]:
        return {"simple_pagerank": self.rounds["simple_pagerank"] * self.n_edges}

    def check(self, out: dict) -> dict[str, bool]:
        import pyarrow.parquet as pq

        from alp_spark.containers import DST, ID, SRC, VAL

        texts = {r["url"]: r["text"] for r in out["docs"].select("url", "text").collect()}
        url_of_id = {r["id"]: r["url"] for r in out["id_map"].collect()}
        got_edges = {(url_of_id[r[SRC]], url_of_id[r[DST]]) for r in out["edges"].collect()}
        stored = pq.read_table(self.work / "warehouse" / self.TABLE).num_rows
        pr = out["pr"]
        ranks = np.zeros(self.N_PAGES)
        for r in pr.ranks.collect():
            ranks[self.page_of[url_of_id[r[ID]]]] = r[VAL]
        written = pq.read_table(self.ranks_path).num_rows
        return {
            "extract": texts == self.golden_text,
            "dedup": (out["groups"]["groups"], out["groups"]["docs"])
            == (self.distinct_texts, self.N_PAGES),
            "edge_build": got_edges == self.url_edges,
            "write": stored == self.n_edges,
            "simple_pagerank": pr.iterations == self.iters_ref
            and len(self.checkpoints) == pr.iterations + 1
            and bool(np.allclose(ranks, self.ranks_ref, rtol=1e-6, atol=0.0)),
            "rank_write": written == self.N_PAGES,
        }

    def layer_metrics(self, passes) -> dict[str, float]:
        ingest = ("extract", "dedup", "edge_build", "write")
        return {
            "sources.edges": float(self.n_edges),
            # pages / time from reading pages to the edge-table write
            "sources.pages_per_s": statistics.median(
                [self.N_PAGES / sum(p.call_s(c) for c in ingest) for p in passes]
            ),
            "checkpoint.save_s": statistics.median([sum(s for s, _ in p.saves) for p in passes]),
            "checkpoint.saves": statistics.median([len(p.saves) for p in passes]),
            "checkpoint.mb": statistics.median([sum(mb for _, mb in p.saves) for p in passes]),
        }

    def close(self) -> None:
        pass


def _eager_edges(pages):
    from alp_spark.sources.links import build_edge_table

    edges, id_map = build_edge_table(pages)
    return edges.localCheckpoint(eager=True), id_map


def _dir_mb(path: str) -> float:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file()) / 2**20


WORKLOADS = {w.name: w for w in (RoundFloor, CrawlToRank)}
