"""Deterministic release of dead localCheckpoint storage.

``df.unpersist()`` is a no-op on a localCheckpoint'd frame (the blocks
belong to the checkpoint RDD, not the CacheManager — probed on pyspark
4.1), and the ContextCleaner only releases checkpoint blocks after a JVM
GC notices the dead reference — by default ~30 min apart, so a long
one-JVM session (the bench suite, a job server) accumulates every
operator's materialized intermediates in the block manager and pays the
memory pressure as late-session drag (round-15 measured the forced-GC
alternative and rejected it: multi-second stop-the-world stalls).

Operators free a checkpoint by its OWN frame: ``release(frame)`` on the
frame ``localCheckpoint`` returned, at the point where no consumer of it
remains. The frame names exactly one RDD, so a release is correct no
matter what other threads checkpoint at the same time (the overlap
helper runs whole operators on parallel driver threads).

The id-set pair below is for harnesses that bracket one whole
SEQUENTIAL query: diff the persistent ids before and after it, then
free the difference. The ids cover every thread's checkpoints, so the
pair must never run while another query is live in the session.
"""

from __future__ import annotations


def release(*frames) -> None:
    """Free the block-manager copies behind the given localCheckpoint
    frames. Each frame's analyzed plan is the ``LogicalRDD`` over its
    checkpoint RDD; a derived frame (``df.select(...)``) has no
    checkpoint of its own and raises ``ValueError`` before anything is
    freed. Only call on state with NO remaining consumer: a freed
    checkpoint's reads fail loudly."""
    plans = [df._jdf.queryExecution().analyzed() for df in frames]
    for plan in plans:
        if plan.getClass().getSimpleName() != "LogicalRDD":
            raise ValueError(
                "release() takes the frame localCheckpoint returned, got "
                f"a {plan.getClass().getSimpleName()} plan"
            )
    for plan in plans:
        plan.rdd().unpersist(False)


def persistent_rdd_ids(spark) -> set:
    """Ids of the block-manager-resident RDDs (localCheckpoint storage),
    via the JavaSparkContext's persistent-RDD map — the only handle to a
    checkpoint RDD's blocks."""
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs()
        .keySet()
        .toArray()
    }


def free_checkpoints(spark, rdd_ids: set) -> None:
    """Drop the block-manager copies behind superseded localCheckpoints.
    Only call on state with NO remaining consumer: a freed checkpoint's
    reads fail loudly."""
    jm = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in rdd_ids:
        rdd = jm.get(rid)
        if rdd is not None:
            rdd.unpersist(False)
