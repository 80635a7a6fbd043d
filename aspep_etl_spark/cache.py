"""Session-level cached-block bookkeeping.

Spark frees persisted/localCheckpointed RDD blocks through the async
ContextCleaner only after the JVM garbage-collects the owning Dataset —
which can lag arbitrarily behind the Python driver.  Operators that
persist reused subtrees (n-gram posting lists, per-round component
labels) therefore leave blocks behind that steal executor storage memory
from later queries in the same session (measured on the bench harness:
an untouched mapInPandas query degrades 3.6s → 10.9s after 11 uncleaned
queries).  These helpers make block lifetime explicit:

- ``checkpoint`` / ``release``: the one mechanism for iterative
  operators (graph fixpoints, BPE rounds, MMR steps).  Each round's
  frame goes through ``checkpoint(df, supersedes=prev)``, which
  materializes it (eager ``localCheckpoint``: lineage truncated) and then
  frees exactly the RDD behind ``prev`` — read from ``prev``'s own plan,
  so peak storage is 2 round frames at any round count.  Diffing the
  session's persistent-RDD ids around the checkpoint job would not do:
  that diff also catches every lazily persisted INPUT first materialized
  inside the job, and the next round would free it as if it were the
  dead checkpoint, making every later round recompute it;
- ``free_cached_blocks``: whole-session sweep for harnesses and
  notebooks where each query is an independent job;
- ``persistent_rdd_ids``: read-only view of what is registered.

Driver-side metadata only — no job is launched beyond the checkpoint
itself; ``unpersist`` is async (non-blocking) so the executor-side drop
overlaps the next job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently registered with storage in this context
    (persisted or localCheckpointed)."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def checkpoint(df: DataFrame, supersedes: DataFrame | None = None) -> DataFrame:
    """Eagerly ``localCheckpoint`` ``df``, then ``release(supersedes)``.

    Keep the returned frame itself as the next round's ``supersedes``
    (project from it freely, but pass the checkpoint frame, not the
    projection).  The returned frame has no lineage: it depends on its
    blocks until consumed."""
    cp = df.localCheckpoint()
    if supersedes is not None:
        release(supersedes)
    return cp


def release(cp: DataFrame) -> None:
    """Free the blocks of a frame returned by ``checkpoint``.

    Raises ``ValueError`` for any other frame — e.g. a ``select`` on top
    of a checkpoint, or one already released — which would otherwise free
    nothing and say nothing."""
    plan = cp._jdf.queryExecution().logical()
    if plan.nodeName() != "LogicalRDD" or not plan.rdd().getStorageLevel().isValid():
        raise ValueError(
            "release() needs a live frame returned by checkpoint(), "
            f"got a {plan.nodeName()}"
        )
    plan.rdd().unpersist(False)


def free_cached_blocks(spark: SparkSession) -> int:
    """Unpersist every lingering RDD and clear the SQL cache; returns how
    many RDDs were dropped.

    Harness/notebook hygiene between independent jobs — NOT for use while
    a returned DataFrame still depends on its checkpoint blocks (a
    localCheckpointed frame has no lineage to recompute from; consume it
    before sweeping)."""
    import gc

    gc.collect()  # drop py4j refs so the JVM side is collectable
    n = 0
    for _rid, rdd in list(spark.sparkContext._jsc.getPersistentRDDs().items()):
        rdd.unpersist(False)
        n += 1
    spark.catalog.clearCache()
    return n
