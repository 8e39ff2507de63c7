"""SparkSession factory.

Mirrors the reference's centralized, env-overridable configuration
pattern (reference: config.py:8-17,51-62) but configures a Spark
session instead of an ODBC connection.

Scale notes: the defaults below are tuned for the local[N] test
harness; on a real cluster the same env-var surface
(``SPARK_GRAFT_*``) overrides shuffle partitions, AQE, and memory so
the engine is deployable unchanged. AQE is always on so shuffle
partition counts and skew handling self-tune at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: AQE's coalesce floor is 1 MiB/partition — on the megabyte-scale
#: local fixtures that collapses every post-shuffle stage to 1-2 tasks
#: and serializes downstream compute on one core. A lower floor keeps
#: local parallelism; at cluster data volumes partitions are far above
#: either floor, so this is inert there.
MIN_PARTITION_SIZE = "64k"

#: With a huge driver heap Spark sizes TaskMemoryManager pages at the
#: 64 MiB cap; local[32]'s many small-partition agg/sort tasks then
#: each zero a 64 MiB page for kilobytes of data — measured 1.5x
#: end-to-end on the LSH pipeline at sf0.1. Small pages cost nothing at
#: these partition sizes; a real cluster (non-local master) keeps
#: Spark's own sizing.
LOCAL_PAGE_SIZE = "4m"

#: Spark 4 routes lower()/upper() through ICU case mapping by default.
#: Profiling (round 4) caught all 32 executor threads pinned in
#: CollationSupport$Lower.execBinaryICU: ICU's shared case tables
#: degrade catastrophically under concurrent access — a 32-task
#: lowercase stage ran 543 task-seconds for ~33 CPU seconds of work.
#: The JVM fast path is byte-identical on ASCII corpora (the fixtures
#: and oracle twins are ASCII-only); set "true" for corpora that need
#: ICU's locale-edge-case handling (Greek final sigma etc.).
ICU_CASE_MAPPINGS = "false"


def get_spark(app_name: str = "soccerpredictor_spark") -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Env overrides:
      SPARK_GRAFT_CPUS              local parallelism (default 32)
      SPARK_GRAFT_SHUFFLE_PARTITIONS  shuffle partition count
      SPARK_GRAFT_DRIVER_MEM        driver memory for local mode
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "90g")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", MIN_PARTITION_SIZE)
        .config("spark.driver.memory", mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.icu.caseMappings.enabled", ICU_CASE_MAPPINGS)
        # Reference semantics are permissive (bad cast -> NULL, DAO/ImpalaCon.py:95-99);
        # expressions also use try_cast/try_divide so they stay correct in a
        # driver-owned ANSI session.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master.startswith("local"):
        builder = builder.config("spark.buffer.pageSize", LOCAL_PAGE_SIZE)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
