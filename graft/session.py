"""SparkSession factory.

Core count comes from $SPARK_GRAFT_CPUS (driver contract: the bench is also
run at reduced core counts to measure scaling, so the master must never be
hard-coded).  Only settings that change behaviour are set here, and one
that is there for speed: spark.sql.codegen.cache.maxEntries, the number of
Janino-compiled generated classes Spark keeps.  Spark's default of 100 is
below the query set's measured class count: a tier-1 run makes 164 distinct
classes (the 14 queries at the three seed scales), and perfbench's warm-up
plus an `interactive` cold pass make 159.  With 100 entries each warm
`interactive` pass evicted and recompiled 77-106 of them, and the JIT then
compiled the fresh classes again.  It is a static setting, read once per
JVM, so a new value takes effect only in a new JVM.  AQE, partition
coalescing, the shuffle partition count and the join strategy are Spark's
defaults, and tests/test_plans.py pins the plans they produce.
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
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "32g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
        # One BLAS thread per Python worker: Spark tasks are the parallelism
        # unit; an unpinned OpenBLAS spawns cores() threads per worker and
        # spin-waits, which measured 2-5x slower on the thin-K GEMMs used by
        # vector_knn.  OMP_NUM_THREADS also caps pyarrow's CPU pool.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
