import pyspark.sql.functions as F
import pytest

from rendler_spark.streaming import windows as W

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_tumbling_counts_total(spark, events):
    out = W.tumbling_counts(events, duration="1 hour")
    assert out.agg(F.sum("n")).first()[0] == events.count()


def test_sliding_overlap(spark, events):
    """1h windows sliding 30min: each event lands in exactly 2 windows."""
    out = W.sliding_counts(events, duration="1 hour", slide="30 minutes")
    assert out.agg(F.sum("n")).first()[0] == 2 * events.count()


def test_session_counts_match_gaps_and_islands(spark, events):
    native = W.session_counts(events, gap="10 minutes")
    per_user_native = {
        r["user_id"]: r["cnt"]
        for r in native.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    from rendler_spark.queries import QUERIES

    per_user_sql = {
        r["user_id"]: r["n_sessions"] for r in QUERIES["q_session_gap"](spark, SF).collect()
    }
    assert per_user_native == per_user_sql


def test_streaming_pipeline_runs(spark, events, tmp_path):
    """Real readStream -> window agg -> memory sink, availableNow trigger."""
    src = str(tmp_path / "stream_src")
    events.limit(500).write.mode("overwrite").parquet(src)
    stream = W.stream_events_dir(spark, src, events.schema)
    assert stream.isStreaming
    agg = W.tumbling_counts(W.with_watermark(stream, delay="30 minutes"))
    q = (
        agg.writeStream.format("memory")
        .queryName("t_win")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    total = spark.sql("SELECT sum(n) FROM t_win").first()[0]
    assert total == 500


@pytest.mark.parametrize("mode,kind", [("exact", None), ("blob", "bloom"), ("blob", "cuckoo")])
def test_stateful_streaming_dedup_across_microbatches(spark, tmp_path, mode, kind):
    """applyInPandasWithState seen-set: first occurrences pass, repeats
    are dropped, and state survives BETWEEN micro-batches (the second
    file re-sends earlier URLs; maxFilesPerTrigger=1 forces 2 batches).
    Covers both state shapes: exact URL-string sets and the bounded
    Bloom/cuckoo blob (production form; no FP at this tiny cardinality,
    so the output must be identical)."""
    import pandas as pd
    import pyspark.sql.functions as F

    from rendler_spark.streaming.stateful import streaming_seen_dedup

    src = str(tmp_path / "disc_src")
    batch1 = pd.DataFrame({"url": [f"http://h{i % 4}.test/p{i}" for i in range(20)]})
    batch2 = pd.DataFrame(
        {"url": [f"http://h{i % 4}.test/p{i}" for i in range(10, 30)]}  # 10 repeats
    )
    for i, pdf in enumerate((batch1, batch2)):
        df = (
            spark.createDataFrame(pdf)
            .withColumn("url_hash", F.xxhash64("url"))
            .withColumn("shard", F.pmod("url_hash", F.lit(4)).cast("int"))
        )
        df.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("url string, url_hash bigint, shard int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = (
        streaming_seen_dedup(stream)
        if mode == "exact"
        else streaming_seen_dedup(stream, mode="blob", kind=kind)
    )
    sink = f"t_dedup_{mode}_{kind}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = [r["url"] for r in spark.sql(f"SELECT url FROM {sink}").collect()]
    assert sorted(got) == sorted(f"http://h{i % 4}.test/p{i}" for i in range(30))
    assert len(got) == len(set(got))  # each URL exactly once, across batches


@pytest.mark.parametrize("mode,kind", [("exact", "bloom"), ("blob", "cuckoo")])
def test_crawl_ingest_stream_foreachbatch(spark, tmp_path, mode, kind):
    """Streaming ingestion skin: 2 overlapping URL micro-batches ->
    stateful dedup -> fetch/render foreachBatch -> warehouse.  Each
    distinct URL is rendered exactly once, bytes/captions are identical
    to the per-URL reference render for the same URLs, every non-empty
    epoch committed a manifest, and the wave/commit offset follows the
    warehouse convention (outputs at wave=N covered by manifest N+1, so
    read_as_of sees exactly the committed batches).  Parametrized over
    both dedup state shapes (exact sets / bounded blob)."""
    import pandas as pd

    from rendler_spark import urlnorm
    from rendler_spark.functions.links import extract_links_list
    from rendler_spark.sources.tables import Warehouse
    from rendler_spark.streaming.crawl_stream import crawl_ingest_stream
    from rendler_spark.synthweb import (
        WebConfig, page_caption, page_html, page_url, parse_url, render_encoded,
    )

    cfg = WebConfig()
    urls1 = page_url(cfg, pd.Series([0, 0, 1, 1]), pd.Series([0, 1, 0, 1])).tolist()
    urls2 = page_url(cfg, pd.Series([1, 1, 2]), pd.Series([0, 1, 0])).tolist()  # 2 repeats
    src = str(tmp_path / "url_src")
    for pdf in (pd.DataFrame({"url": urls1}), pd.DataFrame({"url": urls2})):
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    wh_dir = str(tmp_path / "stream_wh")
    q = crawl_ingest_stream(
        spark, cfg, wh_dir, stream, checkpoint_dir=str(tmp_path / "ckpt"),
        mode=mode, kind=kind,
    )
    q.awaitTermination(180)

    wh = Warehouse(wh_dir)
    images = wh.read(spark, "images").collect()
    want_urls = sorted(set(urls1) | set(urls2))
    assert sorted(r["image_id"] for r in images) == want_urls
    # byte/caption parity with the per-URL reference render the oracle uses
    hi, pj, _ = parse_url(pd.Series(want_urls))
    captions = page_caption(cfg, hi, pj)
    ref = {}
    for k, u in enumerate(want_urls):
        b, _, _, _, ph = render_encoded(cfg, int(hi[k]), int(pj[k]))
        ref[u] = (b, captions.iloc[k], ph)
    for r in images:
        assert (bytes(r["bytes"]), r["caption"], r["phash"]) == ref[r["image_id"]]
    manifests = wh.all_manifests()
    assert manifests, "stream produced no committed manifests"
    assert all(m["kind"] == "stream_batch" for m in manifests)
    assert sum(m.get("n_fetched", 0) for m in manifests) == len(want_urls)
    # edges are canonical and http(s) only, the same form the wave loop
    # writes: each page's raw hrefs canonicalized against the page URL
    raw = extract_links_list(page_html(cfg, hi, pj))
    want_edges = [
        (u, d)
        for u, hrefs in zip(want_urls, raw)
        for d in (urlnorm.canonicalize_one(u, h) for h in hrefs)
        if d.startswith(("http://", "https://"))
    ]
    assert want_edges
    got_edges = [(r["src"], r["dst"]) for r in wh.read(spark, "edges").collect()]
    assert sorted(got_edges) == sorted(want_edges)
    # commit-offset convention: manifest V covers output waves < V, so the
    # as-of-V read returns exactly the first V batches' rows
    running = 0
    for m in manifests:
        running += m["n_fetched"]
        assert wh.read_as_of(spark, "images", m["version"]).count() == running


def test_crawl_ingest_epoch_replay_idempotent(spark, tmp_path):
    """foreachBatch exactly-once: redelivering the SAME epoch after its
    warehouse commit (crash between commit and checkpoint advance) must
    not duplicate image/edge rows — the replay rewrites the same version
    in place instead of appending a new one."""
    import pandas as pd

    from rendler_spark.sources.tables import Warehouse
    from rendler_spark.streaming.crawl_stream import _ingest_batch
    from rendler_spark.synthweb import WebConfig, page_url

    cfg = WebConfig()
    urls = page_url(cfg, pd.Series([0, 0, 1]), pd.Series([0, 1, 0])).tolist()
    batch = spark.createDataFrame(pd.DataFrame({"url": urls}))
    wh = Warehouse(str(tmp_path / "wh_replay"))
    ingest = _ingest_batch(spark, cfg, wh)
    ingest(batch, 0)
    v1, n1 = wh.last_version(), wh.read(spark, "images").count()
    ingest(batch, 0)  # redelivery of epoch 0 — must be a no-op rewrite
    assert wh.last_version() == v1
    assert wh.read(spark, "images").count() == n1 == len(urls)
    ingest(batch, 1)  # a genuinely new epoch still appends
    assert wh.last_version() == v1 + 1
    assert wh.read(spark, "images").count() == 2 * len(urls)


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics: once the watermark is established past a
    window's end, a straggler row for that window is DROPPED from the
    append-mode aggregation (bounded state — at 10^10 events/day the
    alternative is unbounded window state).  Spark uses the PREVIOUS
    trigger's watermark to filter late events (the 3.4+ late-events /
    eviction split), so the watermark advanced by batch 0 takes filtering
    effect in batch 2: batch 0 advances it to 13:50, batch 1 confirms it,
    batch 2 re-sends a 10:00 event (window long closed -> dropped,
    visible in numRowsDroppedByWatermark) plus an on-time event."""
    import time

    import pandas as pd

    batches = [
        pd.DataFrame(
            {"ts": pd.to_datetime(
                ["2026-01-01 12:05", "2026-01-01 12:40", "2026-01-01 14:00"]
            ), "value": [1.0, 1.0, 1.0]}
        ),
        pd.DataFrame(
            {"ts": pd.to_datetime(["2026-01-01 14:05"]), "value": [1.0]}
        ),
        pd.DataFrame(
            {"ts": pd.to_datetime(["2026-01-01 10:00", "2026-01-01 14:10"]),
             "value": [1.0, 1.0]}
        ),
    ]
    src = str(tmp_path / "late_src")
    for pdf in batches:  # distinct mtimes fix the file-source batch order
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
        time.sleep(2)
    stream = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = W.tumbling_counts(W.with_watermark(stream, delay="10 minutes"))
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
         if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    rows = {
        r["ws"].strftime("%H:%M"): r["n"]
        for r in spark.sql("SELECT * FROM t_late").collect()
    }
    assert dropped == 1  # exactly the straggler
    assert rows.get("12:00") == 2  # on-time rows emitted on eviction
    assert "10:00" not in rows  # the late row's window never re-opens
