"""Driver-side overlap of independent Spark jobs (optimization guide
§2.6, "Overlap independent jobs").  Spark's scheduler happily runs
several jobs at once inside one application — actions are only
sequential because the driver calls them sequentially — so callers with
N independent short chains of small jobs submit them from a small thread
pool and let FIFO scheduling back-fill the executors instead of leaving
them idle through every chain's tail.

Two kinds of callers use it:

- the composed store passes (maintenance/erase over N stores): each
  worker enrolls as a delegate of the farm locks the composed pass
  already holds (:func:`localsql_spark.sinks.locks.delegated_locks`), so
  the per-store fold entry points' ``locked_by`` re-acquires stay
  reentrant without weakening the sibling-thread Busy contract;
- the catalog (:mod:`localsql_spark.catalog`): the per-file reads of a
  directory load, the per-table stats of ``\\td`` and the parquet reads
  of ``register_testdata``, each a few schema-inference, count or
  sample jobs.

Pool width is driver-orchestration width, not a data-scale knob: 2-4
chains in flight is enough to fill a stage tail at any cluster size
(the guide's own guidance), so the default of 4 is not a local[32]
tuning.  ``max_workers=1`` runs the tasks strictly sequentially.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

__all__ = ["run_overlapped"]


def run_overlapped(tasks: list[tuple[str, Callable[[], Any]]],
                   max_workers: int = 4,
                   spark=None) -> dict[str, Any]:
    """Run ``(key, thunk)`` tasks concurrently on Spark-inheritable
    threads; return ``{key: result}``.

    All tasks run to completion even when one fails (the per-store
    passes are idempotent and a half-run farm pass heals on the next
    run, exactly as with the sequential form's earlier-stores-finished
    partial failure); the first failure in task order is re-raised
    afterwards.  Results come back in task order.
    """
    if len(tasks) <= 1 or max_workers <= 1:
        return {k: fn() for k, fn in tasks}
    try:
        # capture the calling thread's JVM-local properties (job group /
        # description) so worker-submitted jobs stay attributable
        from pyspark import inheritable_thread_target
        if spark is not None:
            def _itt(f):
                return inheritable_thread_target(spark)(f)
        else:
            _itt = inheritable_thread_target
    except ImportError:  # pragma: no cover - pyspark always present here
        def _itt(f):
            return f
    results: dict[str, Any] = {}
    errors: list[tuple[str, BaseException]] = []
    with ThreadPoolExecutor(max_workers=min(max_workers, len(tasks)),
                            thread_name_prefix="overlap") as pool:
        futs = [(k, pool.submit(_itt(fn))) for k, fn in tasks]
        for k, fut in futs:
            try:
                results[k] = fut.result()
            except BaseException as exc:  # noqa: BLE001 — gathered, re-raised
                errors.append((k, exc))
    if errors:
        raise errors[0][1]
    return results
