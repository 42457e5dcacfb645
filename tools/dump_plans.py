#!/usr/bin/env python
"""Dump .explain('formatted') plans under plans/.

Usage: python -m tools.dump_plans <tag> [name ...]   (default: HEADLINE)

A query name writes plans/r06/<q>_<tag>.txt.  The name ``wave1`` crawls
the t1 web (synthweb.WebConfig()) through wave 0, then records the frame
wave 1 hands ``Warehouse.overwrite_partition`` for each of its images,
seen and frontier writes, as plans/wave1/<table>_<tag>.txt.
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01, the committed
testdata), SPARK_GRAFT_CPUS (default: the CPUs this process may use).
"""

from __future__ import annotations

import os
import sys
import tempfile

from rendler_spark.engine import CrawlEngine
from rendler_spark.queries import HEADLINE, QUERIES
from rendler_spark.session import get_spark
from rendler_spark.synthweb import WebConfig

WAVE_TABLES = ("images", "seen", "frontier")


def explain(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def save(path: str, plan: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(plan)
    print("->", path)


def dump_wave1(spark, tag: str) -> None:
    """Wave 1's write plans on the t1 web, recorded as each write starts."""
    with tempfile.TemporaryDirectory() as wh:
        eng = CrawlEngine(spark, WebConfig(), wh)
        eng.run(1)
        write = eng.wh.overwrite_partition

        def recording(table, wave, df, **kw):
            if table in WAVE_TABLES:
                save(f"plans/wave1/{table}_{tag}.txt", explain(spark, df))
            write(table, wave, df, **kw)

        eng.wh.overwrite_partition = recording
        eng.run_waves(1, 2)


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = get_spark(f"local[{cpus}]", "rendler_plans", shuffle_partitions=cpus)
    for name in names:
        if name == "wave1":
            dump_wave1(spark, tag)
        else:
            save(f"plans/r06/{name}_{tag}.txt", explain(spark, QUERIES[name](spark, sf_dir)))
    spark.stop()


if __name__ == "__main__":
    main()
