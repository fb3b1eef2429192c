"""SparkSession factory for the engine.

Defaults follow the scale guidance in SURVEY.md §4: Arrow exchange on
(the engine's inner loops are Arrow-vectorized), AQE on (skew joins,
partition coalescing), and an explicit shuffle-partition count sized to
the local test harness. On a real cluster these are overridden by
spark-submit conf; nothing here is environment-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _default_driver_mem() -> str:
    """~40% of physical RAM, clamped to [2g, 48g]."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        gb = max(2, min(48, int(total * 0.4) >> 30))
    except (ValueError, OSError):
        gb = 8
    return f"{gb}g"


def get_spark(
    app_name: str = "grappolo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for the engine.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so the
    same entry point serves tests, bench.py and the N-vs-4N scaling harness.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # 2x cores (standard guidance): with exactly one task per core a
        # stage ends when its slowest task ends, so any per-core speed
        # variance (co-tenancy, skew) idles the whole pool for the tail;
        # two waves let fast cores steal the remainder. AQE coalesces the
        # extra partitions away on small stages. Clusters override via conf.
        shuffle_partitions = 2 * int(cpus) if cpus.isdigit() else 64

    # Shuffle/spill files: use the ramdisk only when it is actually big
    # enough (measured +25% 32-thread throughput over the disk-backed
    # default on this box). Many deployments mount a tiny /dev/shm (Docker
    # defaults to 64 MB) where shuffle writes would ENOSPC mid-job, so the
    # ramdisk is opt-in by free space: >= 16 GiB free, or an explicit
    # SPARK_GRAFT_LOCAL_DIR. Real clusters provision NVMe local dirs.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 16 << 30:
                local_dir = "/dev/shm/spark-local"
        except OSError:
            pass
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local mode: the driver JVM hosts all executor threads and every
        # localCheckpoint block; size it from detected RAM (~40%, capped at
        # 48g — what a real per-executor provision would be) instead of a
        # fixed number that OOM-kills smaller hosts
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_table(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """DataFrame over driver-built ``rows`` (tuples) with the exact Spark
    schema of ``ddl`` — the same result as ``spark.createDataFrame(rows,
    ddl)``, planned as a ``LocalTableScan``.

    The list path pickles the rows into a ``parallelize`` RDD, so every
    consumer runs a Python-worker stage (one task per default-parallelism
    slot) just to read a few dozen driver values. An Arrow table is
    shipped to the JVM once and becomes a local relation: no Python
    worker, no extra job. Every engine site that builds a DataFrame from
    a Python list goes through here (pinned by tests/test_local_table.py).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


from contextlib import contextmanager  # noqa: E402


# sessions (by applicationId — session-lifetime unique, unlike id(spark),
# which the allocator can reuse after a stop+gc) currently inside a
# scaled_shuffle_partitions scope — see the nesting note below
_SCALED_ACTIVE: dict[str, int] = {}

_ROWS_PER_PARTITION = 100_000


@contextmanager
def scaled_shuffle_partitions(spark: SparkSession, n_rows: int):
    """Clamp ``spark.sql.shuffle.partitions`` to the data for the scope.

    Iterative drivers run dozens to hundreds of supersteps; on a SMALL
    graph (a coarsened phase, a 10k-vertex transcript graph) every one of
    those stages otherwise launches the full session-wide task count for
    a few thousand rows — pure scheduling overhead that dominates wall
    time (measured 2x on the 87-sweep directed Louvain run at sf0.01:
    155s at 32 partitions, 80s at 8, AQE on in both). Partition count
    never changes engine RESULTS (every operator is partition-invariant
    by construction — pytest gates this against the oracles), only stage
    granularity. On a large graph (n_rows / _ROWS_PER_PARTITION >= the
    session setting) this is a no-op, so the 100 TB path is untouched.

    The override mutates the SESSION-scoped SQLConf, so it is visible to
    anything else planning on the same SparkSession during the scope — a
    planning-granularity hazard, never a correctness one (r3 ADVICE).
    Nested scopes (an operator composing another operator) are no-ops:
    the OUTER clamp wins and the exit restores exactly once, so restore
    can no longer be last-writer-wins. Concurrent drivers on one session
    should pass distinct sessions (``spark.newSession()`` shares the
    context but isolates the conf).
    """
    key = spark.sparkContext.applicationId
    if _SCALED_ACTIVE.get(key):
        # nested scope: keep the outer clamp
        _SCALED_ACTIVE[key] += 1
        try:
            yield int(spark.conf.get("spark.sql.shuffle.partitions"))
        finally:
            _SCALED_ACTIVE[key] -= 1
        return
    prev = int(spark.conf.get("spark.sql.shuffle.partitions"))
    target = max(4, min(prev, -(-int(n_rows) // _ROWS_PER_PARTITION)))
    if target == prev:
        yield prev
        return
    _SCALED_ACTIVE[key] = 1
    spark.conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        yield target
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(prev))
        _SCALED_ACTIVE.pop(key, None)
