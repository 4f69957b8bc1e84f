"""One owner for every frame the engine holds in executor memory.

Three ways to hold data, by how long it must live:

- a scoped ``Pins`` (``with Pins() as p: x = p.persist(df)``): a frame
  reused inside one function, released when the block exits, on error too;
- session pins (the module-level ``persist``/``checkpoint``/``unpin``): plan
  pins a lazily returned frame still reads, freed by ``release_pins()``
  once the caller has materialized its result;
- a durable result (``catalog.swap_durable_result``): a query result that
  must outlive ``release_pins()``, read back as a plain table scan.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame


class Pins:
    """Persisted (lazy) and checkpointed (eager, lineage-truncating)
    frames; ``release()`` or leaving a ``with`` block frees them all."""

    def __init__(self) -> None:
        self._held: list[tuple[DataFrame, bool]] = []  # (frame, checkpointed)
        self._lock = threading.Lock()

    def _hold(self, df: DataFrame, checkpointed: bool) -> DataFrame:
        with self._lock:
            self._held.append((df, checkpointed))
        return df

    def persist(self, df: DataFrame) -> DataFrame:
        return self._hold(df.persist(), False)

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """A RELIABLE checkpoint when the session has a checkpoint dir
        (survives executor loss — what a 1000-executor job must use), else
        localCheckpoint (fine on local[N]; pins executors on a cluster)."""
        if df.sparkSession.sparkContext._jsc.sc().getCheckpointDir().isDefined():
            return self._hold(df.checkpoint(eager=True), True)
        return self._hold(df.localCheckpoint(), True)

    def unpin(self, df: DataFrame | None) -> None:
        """Free a frame ``persist``/``checkpoint`` returned (others: no-op)."""
        with self._lock:
            found = [h for h in self._held if h[0] is df]
            self._held = [h for h in self._held if h[0] is not df]
        for h in found:
            _free(*h)

    def release(self) -> int:
        with self._lock:
            held, self._held = self._held, []
        for h in reversed(held):
            _free(*h)
        return len(held)

    def __enter__(self) -> Pins:
        return self

    def __exit__(self, *exc: object) -> None:
        self.release()


def _free(df: DataFrame, checkpointed: bool) -> None:
    try:
        if checkpointed:
            # not in the cache manager: the blocks belong to the RDD behind
            # the LogicalRDD the checkpointed frame scans
            df._jdf.queryExecution().logical().rdd().unpersist(False)
        else:
            df.unpersist()
    except Exception:  # noqa: BLE001 — session may already be gone
        pass


session_pins = Pins()
persist = session_pins.persist
checkpoint = session_pins.checkpoint
unpin = session_pins.unpin


def release_pins() -> int:
    """Free every session pin. Only after materializing what reads them: a
    released persist recomputes, and a released checkpoint is gone."""
    return session_pins.release()
