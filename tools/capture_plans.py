#!/usr/bin/env python3
"""Dump .explain('formatted') for every declared query, for ad-hoc diffs.

Usage: python tools/capture_plans.py <suffix: before|after> <sf_dir> <out_dir>

Writes <out_dir>/<query>_<suffix>.txt.  Keep out_dir outside the repository:
the plan facts that matter are asserted by tests/test_plans.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from graft import QUERIES  # noqa: E402
from graft.session import build_session  # noqa: E402


def main() -> None:
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    suffix, sf_dir, out_dir = sys.argv[1:]
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(app="spark-graft-plans")
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = f"{out_dir}/{name}_{suffix}.txt"
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
