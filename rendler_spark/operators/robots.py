"""robots.txt gating + crawl-delay budgets (north-rule additions).

Absent in the reference (RENDLER fetched everything it saw); demanded by
BASELINE.json:L14 "robots gating" and "politeness budget".  The robots
table is tiny relative to the frontier (one row per host), so the gate is a
broadcast equi-join on host plus a JVM-side higher-order-function prefix
match — no Python in the path (SURVEY.md §2B B3).
"""

from __future__ import annotations

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType, DoubleType, StringType, StructField, StructType,
)

from rendler_spark import synthweb

ROBOTS_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("disallow", ArrayType(StringType())),
        StructField("crawl_delay", DoubleType()),
    ]
)


def robots_df(spark: SparkSession, cfg: synthweb.WebConfig) -> DataFrame:
    """The synthetic robots 'fetch' — one row per host (FIXTURES.md §1).

    Handed to Spark as one Arrow table, so it plans as a JVM-resident
    ``LocalTableScan``: every broadcast join that reads it re-uses the
    rows instead of re-running a Python RDD.  Arrow keeps a missing
    ``crawl_delay`` null (never NaN) and an empty ``disallow`` as []."""
    rows = synthweb.robots(cfg)
    table = pa.table({
        "host": pa.array([r[0] for r in rows], pa.string()),
        "disallow": pa.array([r[1] for r in rows], pa.list_(pa.string())),
        "crawl_delay": pa.array([r[2] for r in rows], pa.float64()),
    })
    return spark.createDataFrame(table, ROBOTS_SCHEMA)


def with_robots(df: DataFrame, robots: DataFrame, url_col: str = "url") -> DataFrame:
    """Left-broadcast-join robots onto URL rows; adds ``blocked`` (any
    disallow prefix matches the URL path) and ``crawl_delay``."""
    path = F.regexp_extract(F.col(url_col), r"^https?://[^/?#]*([^?#]*)", 1)
    joined = df.withColumn("_path", path).join(
        F.broadcast(robots), on="host", how="left"
    )
    blocked = F.exists(
        F.coalesce(F.col("disallow"), F.array().cast("array<string>")),
        lambda p: F.col("_path").startswith(p),
    )
    return joined.withColumn("blocked", blocked).drop("_path", "disallow")


def effective_budget_col(budget: int) -> F.Column:
    """Per-host fetch budget under crawl_delay — the engine-side twin of
    synthweb.effective_budget (deterministic politeness stand-in)."""
    return (
        F.when(
            F.col("crawl_delay").isNull() | (F.col("crawl_delay") <= 0),
            F.lit(budget),
        )
        .otherwise(F.greatest(F.lit(1), F.floor(F.lit(budget) / F.col("crawl_delay"))))
        .cast("int")
        .alias("eff_budget")
    )
