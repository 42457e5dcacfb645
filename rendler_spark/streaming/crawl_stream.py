"""Streaming ingestion skin over the crawl engine (SURVEY §2I I1's
"optional foreachBatch skin").

The batch engine's wave loop is the primary execution mode (the reference
is a batch-iterated frontier); this module is the continuous-feed variant:
a stream of candidate URLs (e.g. sitemap pings, external discoveries)
flows through the stateful exact seen-dedup and each micro-batch of FRESH
URLs is fetched+rendered with the SAME batched kernel the wave loop uses,
appending rows to the SAME warehouse tables with a committed manifest per
epoch — so a continuously-ingesting crawler and the wave crawler share
storage, schema, and resume semantics.

Pipeline:  readStream(url)
           -> url_hash/shard columns (JVM)
           -> streaming_seen_dedup (applyInPandasWithState, exact mode)
           -> foreachBatch: mapInArrow fetch+render kernel (the wave
              loop's own wrapper; inside foreachBatch the batch is a
              static frame)
              -> append images (input_hint schema) + edges (the
                 kernel's canonical http(s) links, as the wave loop
                 writes them), commit manifest

Input URLs are assumed canonical (the synthetic web emits canonical
forms).

Warehouse convention (shared with the wave engine, sources/tables.py
STATE_TABLES): non-state wave=N output partitions are committed by
manifest N+1.  Each micro-batch therefore writes images/edges at
``wave = version - 1`` and commits manifest ``version`` — so
``truncate(V)`` / ``read_as_of(table, V)`` see exactly the batches
manifest V covers, same as a wave-built warehouse.

Exactly-once under epoch replay: foreachBatch can redeliver a micro-batch
whose warehouse commit landed but whose streaming checkpoint did not
(crash in between).  The manifest records the epoch, so a redelivered
epoch that already owns the LATEST manifest is re-written into the SAME
version (overwrite_partition is idempotent) instead of appended as a new
one — no duplicate image/edge rows in the exact side table.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rendler_spark import synthweb
from rendler_spark.crawl_semantics import N_SHARDS
from rendler_spark.engine import HTTP_RE, PAGE_SCHEMA, make_fetch_render_arrow
from rendler_spark.sources.tables import Warehouse
from rendler_spark.streaming.stateful import streaming_seen_dedup

IMAGE_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def _ingest_batch(
    spark: SparkSession, cfg: synthweb.WebConfig, wh: Warehouse
):
    def ingest(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        last = wh.last_version()
        version = (last or 0) + 1
        if last is not None:
            m = wh.manifest(last)
            if m.get("kind") == "stream_batch" and m.get("epoch") == int(epoch_id):
                # Replay of an epoch that already committed: rewrite the
                # same version (idempotent) rather than appending a new one.
                version = last
        staged = (
            batch.select(
                "url",
                F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
                F.lit(0).alias("depth"),
                F.lit("").alias("seq"),
            )
            .mapInArrow(make_fetch_render_arrow(cfg), PAGE_SCHEMA)
            .persist()
        )
        try:
            images = staged.select(
                F.col("url").alias("image_id"), *IMAGE_COLS[1:]
            )
            wh.overwrite_partition("images", version - 1, images)  # job 1
            edges = staged.select(
                F.col("url").alias("src"), F.explode("dsts").alias("dst")
            ).filter(F.col("dst").rlike(HTTP_RE))
            wh.overwrite_partition("edges", version - 1, edges)  # job 2 (cache)
            # row count from the footers job 1 wrote — no third job
            wh.commit(
                version,
                {
                    "kind": "stream_batch",
                    "epoch": int(epoch_id),
                    "n_fetched": wh.partition_rows("images", version - 1),
                },
            )
        finally:
            staged.unpersist()

    return ingest


def crawl_ingest_stream(
    spark: SparkSession,
    cfg: synthweb.WebConfig,
    warehouse: str,
    discovered: DataFrame,
    checkpoint_dir: str,
    n_shards: int = N_SHARDS,
    mode: str = "exact",
    kind: str = "bloom",
    params: dict | None = None,
):
    """Wire a streaming DataFrame of candidate ``url`` rows into the
    warehouse: returns the started StreamingQuery.  State (the seen set)
    lives in the streaming checkpoint; outputs land as one committed
    warehouse partition per non-empty micro-batch.  ``mode``/``kind``/
    ``params`` select the dedup state shape (exact URL sets vs bounded
    Bloom/cuckoo blob — streaming/stateful.py docstring)."""
    wh = Warehouse(warehouse)
    keyed = discovered.select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.pmod(F.xxhash64("url"), F.lit(n_shards)).cast("int").alias("shard"),
    )
    fresh = streaming_seen_dedup(keyed, mode=mode, kind=kind, params=params)
    return (
        fresh.writeStream.foreachBatch(_ingest_batch(spark, cfg, wh))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
