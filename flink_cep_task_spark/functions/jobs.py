"""Driver-side overlap of INDEPENDENT Spark actions (optimization guide
§2.6 "Overlap independent jobs").

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls them
sequentially. The composed maintenance cycles (daily_crawl_*,
cluster_label_maintenance, dedup_clusters_rolling) end each day with a
GROUP of small admission writes to DISTINCT stores — at any scale each
write spends most of its wall in fixed per-job cost (planning, task
scheduling, the output committer), so running a day's writes from a
small thread pool overlaps those fixed costs instead of paying them
end-to-end.

Safety contract (every call site must hold it):

* the thunks are pairwise independent — no two touch the same store
  path or partition, none reads what a sibling writes;
* `run_parallel` is a BARRIER: it returns only after every thunk has
  settled, so cross-GROUP ordering (probe reads created after the
  admissions that rewrite partitions they keep — the file-listing
  discipline _rolling_sig_store documents) is untouched;
* never used for store BUILDS: _store_path's build step calls
  release_caches(), which would unpersist a sibling thread's live
  caches mid-job.

Threads are wrapped with pyspark's inheritable_thread_target when a
context is live (ADVICE r13): under pinned-thread mode a plain pool
thread does NOT inherit the submitting thread's JVM local properties, so
jobs submitted from the pool would detach from the caller's job group /
description — a streaming query's foreachBatch writes could then outlive
query.stop(), and UI/event-log attribution would lose the label. The
wrapper only copies the properties in; it never restores or clears them,
so they are discarded with the short-lived pool thread (the pool ends at
the barrier). Nothing below changes session conf from a thread."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

# a day's admission group is 2-4 writes; more in-flight jobs would just
# fight for the same executor slots (guide §2.6: "2-3 jobs in flight is
# plenty")
MAX_PARALLEL_ACTIONS = 4


def _inheritable(fn):
    """Wrap a thunk so the pool thread inherits the caller's JVM-side
    local properties (job group, job description, scheduler pool) and —
    when an active session exists — its tags. Falls back to the bare
    thunk when no SparkContext is live (pure-python callers, tests)."""
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
        from pyspark.util import inheritable_thread_target

        if SparkContext._active_spark_context is None:
            return fn
        session = SparkSession.getActiveSession()
        if session is not None:
            return inheritable_thread_target(session)(fn)
        return inheritable_thread_target(fn)
    except Exception:
        return fn


def run_parallel(*thunks):
    """Run independent no-arg Spark actions concurrently; barrier until
    ALL have settled (no write is ever left mid-flight), then return
    their results in call order. A None entry contributes a None result
    in its position (so positional unpacking against the argument list
    stays aligned — ADVICE r13) and runs nothing; call sites can splice
    optional admissions without branching. The first exception (in call
    order) propagates after the barrier."""
    live = [(i, t) for i, t in enumerate(thunks) if t is not None]
    results: list = [None] * len(thunks)
    if len(live) <= 1:
        for i, t in live:
            results[i] = t()
        return results
    with ThreadPoolExecutor(
        max_workers=min(MAX_PARALLEL_ACTIONS, len(live))
    ) as pool:
        futures = [(i, pool.submit(_inheritable(t))) for i, t in live]
        first_err = None
        for i, f in futures:
            try:
                results[i] = f.result()
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                if first_err is None:
                    first_err = exc
        if first_err is not None:
            raise first_err
        return results
