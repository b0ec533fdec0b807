"""SparkSession factory.

Core count comes from $SPARK_GRAFT_CPUS (driver contract: the bench is also
run at reduced core counts to measure scaling, so the master must never be
hard-coded).  Four settings are set here: three that change behaviour (the
driver heap, no web UI and vector_knn's BLAS thread pin, below) and one
that is there for speed: spark.sql.codegen.cache.maxEntries, the number of
Janino-compiled generated classes Spark keeps.  Spark's default of 100 is
below the query set's measured class count: a tier-1 run makes 164 distinct
classes (the 14 queries at the three seed scales), and perfbench's warm-up
plus an `interactive` cold pass make 159.  With 100 entries each warm
`interactive` pass evicted and recompiled 77-106 of them, and the JIT then
compiled the fresh classes again.  It is a static setting, read once per
JVM, so a new value takes effect only in a new JVM.  AQE, partition
coalescing, the shuffle partition count and the join strategy are Spark's
defaults, and tests/test_plans.py pins the plans they produce.  The session
time zone is Spark's default too: every query computes on the stored
TIMESTAMP_NTZ and returns no zoned TIMESTAMP, so no result depends on it
(tests/test_queries.py runs the tick queries under two other zones).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Holds the 164 classes with headroom; tests/test_queries.py pins that a
# second run of each query compiles nothing.
CODEGEN_CACHE_ENTRIES = 1000


def build_session(app: str = "spark-graft", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.driver.memory", "32g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
        # One BLAS thread per Python worker keeps vector_knn's similarities
        # independent of the BLAS thread count: a multi-threaded GEMM splits
        # the sums differently, and the last bits of a sim can move.  On 2000
        # 64-d vectors (4 vCPUs, numpy's OpenBLAS built with MAX_THREADS=2)
        # the block loop took 24-42 ms pinned and 18-24 ms unpinned in two
        # probes, and in both the unpinned nn/best bytes differed from the
        # pinned ones; at 500 vectors they were identical.  Spark itself
        # sets the worker's OMP_NUM_THREADS to spark.task.cpus (1), but
        # OpenBLAS reads OPENBLAS_NUM_THREADS first, so this pin is what
        # overrides one the driver inherits: in a worker probe under an
        # inherited OMP_NUM_THREADS=3 OPENBLAS_NUM_THREADS=2, OpenBLAS ran 1
        # thread with the pin and 2 without it.
        # tests/test_queries.py asserts the worker's values.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
