#!/usr/bin/env python3
"""Benchmark every declared query and print ONE JSON line.

Driver contract:
- data dir from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
- core count from $SPARK_GRAFT_CPUS (master local[$SPARK_GRAFT_CPUS])
- output: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Methodology: each query is materialised with the noop sink so we time the
computation, not an output write; one short untimed warmup action first so
JVM/codegen startup is not charged to the first query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from graft import QUERIES
from graft.session import build_session


def sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(app="spark-graft-bench")

    # untimed warmup: spin up executor threads, codegen, parquet footers, and
    # the Python worker runtime (daemon fork + numpy/pyarrow import + BLAS
    # init) so queries are timed, not interpreter startup.
    run_noop(spark.range(1_000_000).selectExpr("sum(id) AS s"))
    run_noop(spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1))

    def _py_warm(batches):
        import numpy as np
        import pyarrow  # noqa: F401

        a = np.ones((256, 256))
        (a @ a).sum()  # initialise the BLAS dgemm kernels in this worker
        yield from batches

    n_workers = spark.sparkContext.defaultParallelism
    run_noop(
        spark.range(n_workers, numPartitions=n_workers).mapInArrow(
            _py_warm, "id long"
        )
    )

    times: dict[str, float] = {}
    for name, fn in QUERIES.items():
        # t0 before fn(): driver-side query construction (opening tables,
        # building the plan) is inside the timed region.
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        run_noop(df)
        times[name] = round(time.perf_counter() - t0, 4)
        print(f"  {name}: {times[name]:.3f}s", file=sys.stderr)

    total = round(sum(times.values()), 4)
    print(
        json.dumps(
            {
                "metric": "query_wall_sec_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf_from_dir(sf_dir),
            }
        )
    )


if __name__ == "__main__":
    main()
