"""Range-partitioned CSR edge blocks + mmap gather-scatter SpMV.

The north star's mandated physical form: the edge table is packed ONCE
into per-partition CSR blocks (the analog of ALP ingesting the matrix
into CRS+CCS in the Pregel constructor, interfaces/pregel.hpp:445-451;
``Compressed_Storage`` reference/compressed_storage.hpp:48-77), then
every SpMV superstep is a single ``mapInPandas`` pass over a tiny
block-metadata DataFrame — no per-iteration edge shuffle OR edge
transfer at all.

Physical layout (chosen by measurement; see BASELINE.md):

- blocks are **dst-range partitioned**: block ``pid = dst // width`` owns
  the contiguous output range ``[lo, lo+width)``, so each block emits ONE
  dense local segment and block results need no keyed combine — the
  driver sums ~P binary blobs instead of collecting n keyed rows.
  This is ALP's CRS row-major gather kernel (reference/blas2.hpp:295)
  with "row" = dst.
- within a block, edges are **sorted by src at build time**: the
  per-superstep kernel is one *ascending* gather ``x[src]`` —
  sequential, bandwidth-bound, so it scales with cores instead of
  saturating memory latency like a random gather — plus one
  ``np.bincount`` scatter into the ≤1MB L2-resident block segment
  (plus-times only: the PageRank ring). No per-superstep
  sort/unique/Python row loop.
- oversized blocks are **split into ≤:data:`DEFAULT_TARGET_EDGES`
  sub-chunks** at build time (hub in-degree ranges produce heavy
  blocks; the split is the build-time analog of dst-salting, SURVEY.md
  §4 #12); sub-chunk segments sum on the driver.
- block arrays are **materialised as .npy files in a temp dir and
  cached inside the long-lived Python worker processes** (module-global
  dict, loaded on first touch): shipping the packed edges through Arrow
  or re-faulting an mmap costs ~4B+ per edge per superstep (both
  measured slower here), while the process cache makes every superstep
  after a worker's first touch operate on already-resident pages.
  Workers are reused (``spark.python.worker.reuse`` default); a
  scheduling miss just reloads that chunk's file once. The frontier
  vector ``x`` is re-read per superstep from a driver-written .npy (one
  sequential 8n-byte read per worker) in local mode, and rides
  TorrentBroadcast on a multi-executor cluster (``spmv_dense``'s
  ``x_transport``). There the chunk files need storage every executor
  sees: point ``TMPDIR`` at it.

Scale contract: the rank vector is dense on the driver (float64:
n=10^9 ⇒ 8 GB). A graph whose dense vector does not fit the driver runs
:func:`alp_spark.algorithms.simple_pagerank.simple_pagerank`, the
DataFrame engine (any n, shuffle strategy, resumable). Edges are written
once and only ever page-faulted in: each superstep is an embarrassingly
parallel map over cached chunks + one ~P-row collect.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..containers import DST, SRC
from .partitions import partitions_for

_META_SCHEMA = "pid int, chunk int, lo long, width int, n_rows long, path string"

#: max edges per packed chunk — bounds worker memory and evens out hub
#: blocks (build-time dst-salting)
DEFAULT_TARGET_EDGES = 2_000_000


@dataclass
class CsrBlocks:
    """One-time packed edge chunks (.npy files in ``tmp_dir``) + metadata."""

    meta: pd.DataFrame  # (pid, chunk, lo, width, n_rows, path) — tiny
    n: int
    n_partitions: int
    n_edges: int
    tmp_dir: str  # owned: removed by unpersist()
    _meta_df: object = field(default=None, repr=False)

    def meta_frame(self, spark: SparkSession) -> DataFrame:
        """The chunk metadata as a cached DataFrame, built ONCE — every
        superstep maps over this frame, so rebuilding (createDataFrame +
        repartition) per call was one extra shuffle per superstep."""
        if self._meta_df is None:
            df = spark.createDataFrame(self.meta).repartition(
                max(1, min(self.n_partitions, len(self.meta)))
            )
            self._meta_df = df.localCheckpoint(eager=True)
        return self._meta_df

    def unpersist(self) -> None:
        """Release the metadata checkpoint and delete the block files."""
        if self._meta_df is not None:
            from ..loop import _release  # loop imports this package

            _release(self._meta_df)
            self._meta_df = None
        shutil.rmtree(self.tmp_dir, ignore_errors=True)


def build_csr_blocks(
    spark: SparkSession,
    edges: DataFrame,
    n: int,
    n_partitions: int | None = None,
) -> CsrBlocks:
    """Pack ``(src, dst)`` into dst-range-partitioned, src-sorted chunk
    files in a fresh temp dir.

    One shuffle (repartition by range id) + one ``applyInPandas`` pack
    writing ``.npy`` files, then a tiny metadata collect — amortised over
    every subsequent superstep. Pattern matrices only (the link graph);
    weighted SpMV stays on the shuffle path.
    """
    # output ranges are sized so one range holds ≈ DEFAULT_TARGET_EDGES
    # edges: segments stay L1/L2-resident for the bincount scatter,
    # sub-chunk duplication (hub ranges) stays rare, and the
    # per-superstep collect volume stays ≈ n*8 bytes regardless of how
    # many chunks exist
    m = edges.count()
    # the partition count follows the packed chunk bytes (int32 src +
    # int32 dstoff per edge) under the one sizing rule: small graphs get
    # few, larger chunks; large graphs keep the configured parallelism
    P = n_partitions or partitions_for(spark, 8 * m)
    n_pids = max(P, -(-m // DEFAULT_TARGET_EDGES))
    width = -(-n // n_pids)  # ceil
    src_dtype = "int32" if n < 2**31 else "int64"
    tmp_dir = tempfile.mkdtemp(prefix="alp_csr_")
    build_id = uuid.uuid4().hex[:8]

    e = edges.select(SRC, DST).withColumn(
        "pid", (F.col(DST) / F.lit(width)).cast("int")
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        os.makedirs(tmp_dir, exist_ok=True)  # executor-local on clusters
        pid = int(key[0])
        lo = pid * width
        src = pdf[SRC].to_numpy(dtype=np.int64)
        dst = pdf[DST].to_numpy(dtype=np.int64)
        # validate ONCE at build time so the per-superstep gather can use
        # mode='clip' without ever silently clamping a bad id (dst ids
        # fail loudly via the pid/width path; src ids would not)
        if len(src) and (src.min() < 0 or src.max() >= n):
            raise ValueError(
                f"src vertex id out of range [0, {n}): "
                f"[{src.min()}, {src.max()}]"
            )
        # ONE sort, at build time (never per superstep)
        order = np.argsort(src, kind="stable")
        src = src[order].astype(src_dtype)
        dstoff = (dst[order] - lo).astype(np.int32)
        rows = []
        for ci, c0 in enumerate(range(0, len(src), DEFAULT_TARGET_EDGES)):
            c1 = min(c0 + DEFAULT_TARGET_EDGES, len(src))
            base = os.path.join(tmp_dir, f"{build_id}_{pid}_{ci}")
            np.save(base + ".src.npy", src[c0:c1])
            np.save(base + ".dstoff.npy", dstoff[c0:c1])
            rows.append(
                {
                    "pid": pid,
                    "chunk": ci,
                    "lo": lo,
                    "width": int(min(width, n - lo)),
                    "n_rows": c1 - c0,
                    "path": base,
                }
            )
        return pd.DataFrame(rows)

    try:
        meta = (
            e.repartition(n_pids, "pid")
            .groupBy("pid")
            .applyInPandas(pack, schema=_META_SCHEMA)
            .toPandas()
        )
    except BaseException:
        shutil.rmtree(tmp_dir, ignore_errors=True)
        raise
    n_edges = int(meta["n_rows"].sum()) if len(meta) else 0
    return CsrBlocks(
        meta=meta, n=n, n_partitions=P, n_edges=n_edges, tmp_dir=tmp_dir
    )


#: per-worker-process chunk cache: path -> array tuple; lives in the
#: reused pyspark daemon workers so chunk pages are faulted in once per
#: worker, not once per superstep. Tasks have no worker affinity, so a
#: worker can accumulate chunks over supersteps — bounded by FIFO
#: eviction (reload is just a page-cached file read).
_CHUNK_CACHE: dict = {}
_CACHE_MAX_BYTES = 8 << 30
_cache_bytes = 0

#: reused per-worker workspaces — fresh page allocation is the dominant
#: per-superstep cost on fault-expensive (virtualised) kernels, so the x
#: vector is read into a persistent buffer and the gather writes into a
#: persistent out-array instead of allocating each call
_WORKSPACE: dict = {}


def _load_x(x_path: str, n: int) -> np.ndarray:
    buf = _WORKSPACE.get("x")
    if buf is None or len(buf) != n:
        buf = np.empty(n, dtype=np.float64)
        _WORKSPACE["x"] = buf
    with open(x_path, "rb") as fh:
        fh.seek(-n * 8, 2)  # npy payload is the trailing n*8 bytes
        fh.readinto(memoryview(buf).cast("B"))
    return buf


def _contrib_buf(m: int) -> np.ndarray:
    buf = _WORKSPACE.get("contrib")
    if buf is None or len(buf) < m:
        buf = np.empty(max(m, DEFAULT_TARGET_EDGES), dtype=np.float64)
        _WORKSPACE["contrib"] = buf
    return buf[:m]


def _load_chunk(path: str):
    global _cache_bytes
    arrs = _CHUNK_CACHE.get(path)
    if arrs is None:
        arrs = (np.load(path + ".src.npy"), np.load(path + ".dstoff.npy"))
        _cache_bytes += sum(a.nbytes for a in arrs)
        while _cache_bytes > _CACHE_MAX_BYTES and _CHUNK_CACHE:
            old = _CHUNK_CACHE.pop(next(iter(_CHUNK_CACHE)))  # FIFO
            _cache_bytes -= sum(a.nbytes for a in old)
        _CHUNK_CACHE[path] = arrs
    return arrs


def spmv_dense(
    spark: SparkSession,
    csr: CsrBlocks,
    x: np.ndarray,
    x_transport: str = "auto",
) -> np.ndarray:
    """y[j] = Σ_{i→j} x[i] over the packed chunks; returns a dense numpy
    vector on the driver (0 where no in-edges).

    ``x_transport``: 'file' re-reads a driver-written .npy per worker
    (fastest; needs driver-shared storage, i.e. local mode); 'broadcast'
    uses TorrentBroadcast (multi-executor clusters, log-scaled fan-out);
    'auto' picks by master URL (local* → file, else broadcast).

    Per superstep: one x hand-off, one round-robin map over the chunk
    metadata rows (each task computes from its process-cached chunk
    arrays), one ~P-row binary collect, one driver-side segment sum.
    """
    n = csr.n
    if len(csr.meta) == 0:  # empty matrix → zero vector
        return np.zeros(n)

    if x_transport == "auto":
        x_transport = (
            "file" if spark.sparkContext.master.startswith("local") else "broadcast"
        )
    bx = None
    x_path = None
    if x_transport == "file":
        x_path = os.path.join(csr.tmp_dir, f"x_{uuid.uuid4().hex[:8]}.npy")
        np.save(x_path, np.ascontiguousarray(x, dtype=np.float64))
    else:
        bx = spark.sparkContext.broadcast(x)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        xv = _load_x(x_path, n) if x_path is not None else bx.value
        for pdf in batches:
            out = {"lo": [], "width": [], "seg": []}
            for row in pdf.itertuples(index=False):
                src, dstoff = _load_chunk(row.path)
                # ascending src → streaming read, into a reused buffer
                contrib = np.take(xv, src, out=_contrib_buf(len(src)), mode="clip")
                # L2-resident scatter: width*8B accumulator
                seg = np.bincount(dstoff, weights=contrib, minlength=row.width)
                out["lo"].append(row.lo)
                out["width"].append(row.width)
                out["seg"].append(seg.tobytes())
            yield pd.DataFrame(out)

    # round-robin chunk distribution: ≤DEFAULT_TARGET_EDGES per chunk, so
    # tasks balance regardless of hub-range weight (no hash-collision
    # stragglers); the frame is cached on the CsrBlocks (built once)
    meta_df = csr.meta_frame(spark)
    rows = meta_df.mapInPandas(kernel, schema="lo long, width int, seg binary")
    y = np.zeros(n)
    for r in rows.collect():  # ~P rows of width*8 bytes — Σ ≈ n*8 bytes
        lo, w = r["lo"], r["width"]
        # sub-chunks of one range sum here
        y[lo : lo + w] += np.frombuffer(r["seg"], dtype=np.float64)
    if bx is not None:
        bx.destroy()
    if x_path is not None:
        os.unlink(x_path)
    return y
