#!/usr/bin/env python3
"""Benchmark every declared query and print ONE JSON line.

Driver contract:
- data dir from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
- core count from $SPARK_GRAFT_CPUS (master local[$SPARK_GRAFT_CPUS])
- output: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Methodology: each query is materialised with the noop sink so we time the
computation, not an output write.  perfbench's untimed ``warm_up`` runs
first, so JVM, Python-worker and JIT start-up is not charged to the first
queries, and bench.py and perfbench time queries from the same warm state.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from graft import QUERIES
from graft.session import build_session

# Appended, not prepended: perfbench/ holds its own tests/ directory, which
# must not shadow this repository's tests namespace package.
sys.path.append(os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench"))
from run import warm_up  # noqa: E402


def sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(app="spark-graft-bench")

    warm_up(spark, sf_dir)

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
