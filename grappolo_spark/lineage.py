"""Lineage cutting for iterative supersteps.

``DataFrame.localCheckpoint`` truncates the *plan*, but the resulting
``LogicalRDD`` keeps the origin plan's ``Statistics``. Catalyst's
size-only estimator multiplies ``sizeInBytes`` across joins as unbounded
BigIntegers, so in a superstep loop the checkpointed stats compound:
state_N's estimate is a product of state_{N-1} estimates, the
BigInteger's bit length grows geometrically, and by ~iteration 14 the
optimizer spends minutes multiplying million-bit numbers (observed: 5x
slowdown per iteration, a cliff from 0.3s to 60s+ per superstep on a
64-vertex graph).

``cut_lineage`` therefore rewraps the checkpointed RDD in a fresh
``LogicalRDD`` with no origin statistics, resetting the estimate every
iteration. The rewrap reuses the already-materialized internal RDD — no
recompute, no extra job. Falls back to the plain checkpoint if the
internal ``internalCreateDataFrame`` API is unavailable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# Serialized blocks: checkpointed superstep state held as a few large
# byte buffers instead of millions of deserialized row objects — at 10M+
# rows/state the GC scan cost of object blocks grows with heap size and
# thread count and dominates the 32-thread runs. Deser/ser is
# per-partition CPU work, which scales. (pyspark's MEMORY_AND_DISK is the
# serialized level; MEMORY_AND_DISK_DESER is the JVM default.)
_CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK


def cut_lineage(df: DataFrame) -> DataFrame:
    """localCheckpoint(eager) + drop inherited origin statistics."""
    ck = df.localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
    spark = df.sparkSession
    try:
        jdf = ck._jdf
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        out = DataFrame(new_jdf, spark)
        out._ckpt_jdf = jdf  # handle for release()
        return out
    except Exception:  # pragma: no cover - internal-API fallback
        return ck


def pin_static(df: DataFrame) -> DataFrame:
    """Checkpoint a STATIC table keeping its partitioning metadata.

    Plain ``localCheckpoint`` wraps the materialized RDD in a LogicalRDD
    that RETAINS ``outputPartitioning`` — so a table pre-partitioned on
    its per-iteration join key (``df.repartition(n, key)``) satisfies the
    join's required distribution every superstep and only the small
    mutable state side shuffles. ``cut_lineage``'s rewrap would drop that
    metadata and reshuffle the big static side every iteration.

    Use ONLY for tables checkpointed once per job (edge/transition
    tables): the inherited Catalyst statistics that ``cut_lineage``
    strips do not compound when there is no checkpoint-of-checkpoint
    chain.

    AQE is toggled off around the materialization: under AQE the
    checkpoint captures ``AdaptiveSparkPlan.outputPartitioning`` =
    UnknownPartitioning and every later join reshuffles the static side
    (verified via explain) — without AQE it captures the real
    ``hashpartitioning(key, n)``.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def pin_partitioned(df: DataFrame, key: str) -> DataFrame:
    """Hash-partition + sort a STATIC table on its per-iteration join key
    and checkpoint it with both properties preserved: every superstep's
    sort-merge join then reuses the partitioning AND the ordering, so
    only the mutable state side is shuffled/sorted."""
    spark = df.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return pin_static(df.repartition(nparts, key).sortWithinPartitions(key))


def release(df) -> None:
    """Drop the cached blocks behind a ``cut_lineage`` result.

    Iterative supersteps otherwise leak one localCheckpoint per iteration
    until the GC-driven ContextCleaner catches up — at bench scale that
    lag alone OOMs the JVM. A local checkpoint is NOT recomputable (the
    lineage is truncated), so call this only once nothing will ever read
    the DataFrame again (i.e. after the superseding state has been
    materialized eagerly and all per-iteration stats were collected).

    No-op for DataFrames that did not come from ``cut_lineage``.
    """
    jdf = getattr(df, "_ckpt_jdf", None)
    if jdf is None:
        return
    try:
        # the persisted RDD lives on the checkpointed dataset's LogicalRDD
        jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # pragma: no cover - internal-API fallback
        pass
