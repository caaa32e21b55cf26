"""The one loop runtime every iterative operator runs on.

ALP runs Pregel and every shipped algorithm over one GraphBLAS core
(interfaces/pregel.hpp:765-804); here Pregel's superstep and every
iterative operator (PageRank, FastSV, k-core, MIS, SSSP, label
propagation, k-truss, SCC, the Krylov solvers, HPCG, HITS, ANF, batched
PPR, k-means, mpv, sparse-NN) run on one :class:`Loop`, which owns:

- **invariants** (:meth:`Loop.cache`): persisted once in a size-derived
  layout and counted; unpersisted on every exit path.
- **the step** (:meth:`Loop.step`): ONE Spark action per round — an
  eager ``localCheckpoint`` with the round's census observed on it,
  so there is no separate stats job. Under AQE that action runs as one
  job per query stage. The frame it ``replaces`` is released once the
  new one is filled. :meth:`Loop.checkpoint` is the same action for a
  frame that is not a round.
- **history**: one ``{round, wall_s, **census}`` entry per step;
  ``wall_s`` runs from the end of the previous step (or of the prelude).
- **parquet checkpoints** every ``checkpoint_every`` rounds and on
  :meth:`Loop.finish`; ``_``-prefixed columns are loop-internal and not
  saved.
- **resume**: a checkpointer that already holds a committed snapshot
  resumes the call. ``__init__`` loads it, sets ``round`` to its
  superstep and hands the state frame to the operator as ``resumed``,
  which the operator starts from instead of its fresh init.
- **the job label** ``alp.phase=<op>:<stage>:<round>`` on every job; the
  previous value is restored on exit.

Frames the result reads are named with :meth:`Loop.finish`; every other
checkpoint is released on exit, all of them on an exception. There is no
deferred checkpoint: under AQE a non-eager ``localCheckpoint`` already
runs every shuffle and broadcast stage of the plan when it is built.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession

from .plans.partitions import cache_sized

#: the SparkContext local property carrying ``<op>:<stage>:<round>``
PHASE = "alp.phase"


def _release(df: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint``ed frame. Its RDD is not
    in the cache manager, so ``DataFrame.unpersist`` does not reach it;
    ``RDD.unpersist`` would log a lineage warning every round."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    rdd.context().unpersistRDD(rdd.id(), False)


class Loop:
    """Context manager for one operator call (module docstring).

    ``resumed`` is the latest snapshot's state frame (``None`` for a fresh
    run); rounds, history and supersteps count on from its superstep."""

    def __init__(
        self,
        spark: SparkSession,
        op: str,
        checkpointer=None,
        checkpoint_every: int = 10,
    ):
        self.spark = spark
        self.op = op
        self.checkpointer = checkpointer
        self.checkpoint_every = checkpoint_every
        self.round = 0
        self.resumed: DataFrame | None = None
        if checkpointer is not None and checkpointer.latest() is not None:
            self.resumed, rec = checkpointer.load(spark)
            self.round = rec["superstep"]
        self.history: list[dict] = []
        self._sc = spark.sparkContext
        # live frames by id(): invariants, checkpoints, the result's
        self._invariants: dict[int, DataFrame] = {}
        self._frames: dict[int, DataFrame] = {}
        self._kept: set[int] = set()

    def __enter__(self) -> "Loop":
        self._prev_phase = self._sc.getLocalProperty(PHASE)
        self._label("prelude", self.round)
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        try:
            # nothing is returned on an exception: release every frame
            for key, df in self._frames.items():
                if exc_type or key not in self._kept:
                    _release(df)
            for df in self._invariants.values():
                df.unpersist()
        finally:
            self._sc.setLocalProperty(PHASE, self._prev_phase)
        return False

    def _label(self, stage: str, rnd: int) -> None:
        self._sc.setLocalProperty(PHASE, f"{self.op}:{stage}:{rnd}")

    def cache(
        self, df: DataFrame, key: str | None = None, resize: bool = True
    ) -> tuple[DataFrame, int]:
        """Persist and count a loop invariant; returns ``(frame, rows)``.
        ``resize`` re-lays it out in a size-derived partition count
        (hash-partitioned by ``key``, :func:`cache_sized`); ``False``
        keeps the layout ``df`` already has."""
        self._label("cache", self.round)
        if resize:
            df, n = cache_sized(self.spark, df, key=key)
        else:
            df = df.persist()
            n = df.count()
        self._invariants[id(df)] = df
        if not self.history:  # prelude; a step restarts the clock itself
            self._t0 = time.perf_counter()
        return df, n

    def swap(self, old: DataFrame, new: DataFrame) -> DataFrame:
        """Replace invariant ``old`` by ``new`` (typically a filter of
        it, keeping its layout): ``new`` is filled before ``old`` goes."""
        new, _ = self.cache(new, resize=False)
        self.release(old)
        return new

    def checkpoint(
        self,
        df: DataFrame,
        stage: str = "init",
        replaces: DataFrame | None = None,
        **census: Column,
    ) -> tuple[DataFrame, dict]:
        """Eager ``localCheckpoint`` of ``df`` with the named ``census``
        aggregates observed on the same Spark action; ``replaces`` is
        released once the new frame is filled. Not a round (:meth:`step`)."""
        self._label(stage, self.round)
        obs = Observation() if census else None
        if obs is not None:
            df = df.observe(obs, *[c.alias(k) for k, c in census.items()])
        frame = df.localCheckpoint(eager=True)
        self._frames[id(frame)] = frame
        if replaces is not None:
            self.release(replaces)
        if not self.history:
            self._t0 = time.perf_counter()
        return frame, obs.get if obs is not None else {}

    def step(
        self,
        df: DataFrame,
        stage: str = "step",
        replaces: DataFrame | None = None,
        **census: Column,
    ) -> tuple[DataFrame, dict]:
        """One round: :meth:`checkpoint`, then a history entry and, on
        the cadence, a parquet checkpoint with the census as metrics."""
        t0 = self._t0
        self.round += 1
        frame, stats = self.checkpoint(df, stage, replaces, **census)
        wall = time.perf_counter() - t0
        self.history.append({"round": self.round, "wall_s": wall, **stats})
        if self.checkpointer is not None and self.round % self.checkpoint_every == 0:
            self._save(frame, stats, final=False)
        self._t0 = time.perf_counter()
        return frame, stats

    def release(self, *frames: DataFrame) -> None:
        """Release checkpoints or invariants of this loop now."""
        for df in frames:
            if self._frames.pop(id(df), None) is not None:
                _release(df)
            elif self._invariants.pop(id(df), None) is not None:
                df.unpersist()

    def finish(self, *frames: DataFrame, **metrics) -> None:
        """The result reads ``frames``: they outlive the loop. With a
        checkpointer, the first is saved as the final snapshot."""
        self._kept.update(id(f) for f in frames)
        if self.checkpointer is not None and frames:
            self._save(frames[0], metrics, final=True)

    def _save(self, frame: DataFrame, metrics: dict, final: bool) -> None:
        self._label("save", self.round)
        state = frame.select(*[c for c in frame.columns if not c.startswith("_")])
        self.checkpointer.save(state, superstep=self.round, metrics=metrics, final=final)
