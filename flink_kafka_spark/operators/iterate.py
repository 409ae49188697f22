"""Lineage cuts for the engine's fixpoint loops (PageRank, the
connected-components hash-to-min loop, the BPE merge trainer).

An iterative DataFrame loop must cut its lineage every few rounds:
without a cut, round i's logical plan contains all i-1 predecessors
and Catalyst re-analyzes the whole tree per round. The cut here is
``localCheckpoint``, whose persisted blocks ARE the data — they live
in ``sc.getPersistentRDDs()`` only, where DataFrame ``unpersist()`` and
``spark.catalog.clearCache()`` cannot reach them, so each loop must
release them itself. :class:`LineageCuts` owns that lifecycle:

- :meth:`LineageCuts.cut` makes a LAZY checkpoint and records the RDD
  ids it registered. Lazy, not eager: the persist registers
  synchronously at the lazy ``localCheckpoint`` call, so the id delta
  holds ONLY the checkpoint RDD. An eager checkpoint runs a
  job inside the delta window, and that job may also materialize a
  persisted input (PageRank's edge frame) whose cache RDD id would be
  swept into the cut and destroyed at the next release, silently
  recomputing the input every round thereafter. The caller's own
  per-round action (a convergence probe, an argmax collect, a count)
  materializes the cut instead, so a round costs one job, not two.
- :meth:`LineageCuts.materialized` — called once the caller's action
  has materialized the newest cut — drops every older cut: the newest
  no longer needs its predecessors' blocks, so a loop holds at most
  two cuts at any instant.
- leaving the ``with`` block on an exception unpersists every cut;
  leaving it normally registers the remaining cuts with
  ``caching.track_rdds``, since they back the frame the loop returns,
  and they are released at the next query boundary. A cut made after
  the last :meth:`~LineageCuts.materialized` is still unmaterialized,
  and computing it later reads its parent's blocks, so the parent
  stays registered with it. :meth:`LineageCuts.release` drops every
  cut early when no returned frame reads them.

Releasing a cut destroys its data, so a returned frame that a
released cut backs cannot be re-materialized; callers get a fresh
frame by re-invoking the operator. On a cluster with unreliable
executors use ``checkpoint()`` to reliable storage instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..caching import persistent_rdd_ids, track_rdds, unpersist_rdds


class LineageCuts:
    """Context manager owning a loop's ``localCheckpoint`` cuts; see
    the module docstring for the lifecycle."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._cuts: list[frozenset[int]] = []

    def __enter__(self) -> "LineageCuts":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is None:
            track_rdds(frozenset().union(*self._cuts), sc=self._sc)
            self._cuts = []
        else:
            self.release()
        return False

    def cut(self, df: DataFrame) -> DataFrame:
        """Lazily checkpoint ``df`` and record the RDD ids it registered."""
        before = persistent_rdd_ids(self._sc)
        out = df.localCheckpoint(eager=False)
        self._cuts.append(frozenset(persistent_rdd_ids(self._sc) - before))
        return out

    def materialized(self) -> None:
        """The newest cut has been materialized: drop every older one."""
        for ids in self._cuts[:-1]:
            unpersist_rdds(self._sc, ids)
        del self._cuts[:-1]

    def release(self) -> None:
        """Unpersist every cut (a never-materialized one is a no-op)."""
        unpersist_rdds(self._sc, frozenset().union(*self._cuts))
        self._cuts = []
