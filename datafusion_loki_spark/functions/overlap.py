"""Driver-thread overlap of independent eager sub-DAGs.

Guide §2.6 ("Overlap independent jobs"): Spark's scheduler happily runs
several jobs at once inside one application — actions are only
sequential because driver code calls them sequentially. The composition
operators (keep-lists, manifests, ship card) each materialize two or
three INDEPENDENT bounded frames eagerly (an LSH edge checkpoint, a
phash pair checkpoint, a persisted-index build, a decode-verdict
checkpoint) before assembling the final lazy DAG; calling those
materializations from a small thread pool lets each job's tasks
back-fill executors freed by the others' stragglers instead of leaving
the cluster idle between actions. FIFO scheduling (the default) gives
exactly the back-fill behaviour wanted; results are returned in thunk
order and the first exception propagates unchanged. Each thread runs
under the caller's job group, description, scheduler pool and tags, so
cancelling the caller's group or tag cancels every job a thunk starts.

This changes WHEN the same jobs run, never what they compute — every
thunk is the identical eager call the operator previously made inline.
"""

from concurrent.futures import ThreadPoolExecutor

from pyspark.util import inheritable_thread_target


def _inheriting(spark, thunk):
    """``thunk`` wrapped, in the calling thread, to run under that
    thread's local properties and tags. Each call takes its own copy, so
    one worker thread's property changes never leak into another's."""
    wrap = inheritable_thread_target(spark)
    # pinned-thread mode off: it hands the session back, nothing to copy
    return thunk if wrap is spark else wrap(thunk)


def materialize_concurrently(spark, *thunks):
    """Run each thunk on its own driver thread and return their results
    as a tuple in thunk order. Intended for independent EAGER
    materializations (localCheckpoint(eager=True), index builds,
    bounded collects); a single thunk degrades to a plain call, and
    `spark_graft.overlap.enabled=false` is the sequential kill switch
    (same calls, original order)."""
    enabled = (
        str(
            spark.conf.get("spark_graft.overlap.enabled", "true")
        ).lower()
        == "true"
    )
    if not enabled or len(thunks) == 1:
        return tuple(t() for t in thunks)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(_inheriting(spark, t)) for t in thunks]
        return tuple(f.result() for f in futures)
