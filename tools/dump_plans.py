#!/usr/bin/env python
"""Dump .explain('formatted') for named queries to plans/r06/<q>_<tag>.txt.

Usage: python tools/dump_plans.py <tag> [query ...]   (default: HEADLINE)
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01, the committed
testdata), SPARK_GRAFT_CPUS (default: the CPUs this process may use).
"""

from __future__ import annotations

import os
import sys

from rendler_spark.queries import HEADLINE, QUERIES
from rendler_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    os.makedirs("plans/r06", exist_ok=True)
    spark = get_spark(f"local[{cpus}]", "rendler_plans", shuffle_partitions=cpus)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(f"plans/r06/{name}_{tag}.txt", "w") as f:
            f.write(plan)
        print(name, "->", f"plans/r06/{name}_{tag}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
