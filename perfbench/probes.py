"""Per-layer probes for a traced crawl run.  Each probe times one public
function of a layer on the run's own data (its URLs, links, seen keys and
frontier), so the probes see the same URL and key mix as the waves."""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa

from rendler_spark import synthweb, urlnorm
from rendler_spark.engine import make_fetch_render_arrow
from rendler_spark.functions import links as linkfns
from rendler_spark.operators import seenfilter
from rendler_spark.operators.politeness import budget_flagged
from rendler_spark.operators.robots import effective_budget_col, robots_df

from check import read_table

WAREHOUSE_TABLES = ("seen", "frontier", "edges", "images", "fetch_log")


def _median_time(fn, reps: int = 3) -> float:
    """Median wall time of ``reps`` calls of fn()."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def render(cfg: synthweb.WebConfig, wh_root: str, wave: int, n: int = 512) -> dict:
    """The fetch/render kernel on one Arrow batch of the wave's URLs, and
    link extraction on the same pages' HTML."""
    log = read_table(Path(wh_root), "fetch_log", ["url", "host", "depth", "seq"], wave=wave)
    log = log.head(n).reset_index(drop=True)
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array(log["url"], pa.string()),
            pa.array(log["host"], pa.string()),
            pa.array(log["depth"], pa.int32()),
            pa.array(log["seq"], pa.string()),
        ],
        names=["url", "host", "depth", "seq"],
    )
    kernel = make_fetch_render_arrow(cfg)
    render_s = _median_time(lambda: list(kernel(iter([rb]))))
    hi, pj, _ = synthweb.parse_url(log["url"])
    html = synthweb.page_html(cfg, hi, pj)
    links_s = _median_time(lambda: linkfns.extract_links(html))
    return {
        "render.ms_per_url": render_s * 1e3 / len(log),
        "render.links_us_per_page": links_s * 1e6 / len(log),
    }


def canonicalize(wh_root: str, wave: int, n: int = 20_000) -> dict:
    """urlnorm.canonicalize on the wave's own (base, href) pairs."""
    log = read_table(Path(wh_root), "fetch_log", ["url", "links"], wave=wave)
    hrefs = log["links"].str.split(linkfns.SEP)
    pairs = pd.DataFrame({"base": log["url"], "href": hrefs}).explode("href")
    pairs = pairs[pairs["href"].fillna("") != ""].head(n)
    base = pairs["base"].reset_index(drop=True)
    href = pairs["href"].reset_index(drop=True)
    s = _median_time(lambda: urlnorm.canonicalize(base, href))
    return {"urlnorm.us_per_link": s * 1e6 / len(base)}


def seen_filter(eng, wh_root: str, wave: int) -> dict:
    """Build the per-shard filters from the seen set as it stood before
    ``wave``, then probe them with those keys plus the keys ``wave``
    added.  fp_rate: share of the added (so certainly unseen) keys the
    filter still reports as maybe-seen — work the exact anti-join does
    for nothing."""
    root = Path(wh_root)
    old = pd.concat(
        [read_table(root, "seen", ["url_hash"], wave=w) for w in range(wave + 1)],
        ignore_index=True,
    )["url_hash"].to_numpy(np.int64)
    new = read_table(root, "seen", ["url_hash"], wave=wave + 1)["url_hash"].to_numpy(np.int64)
    kind, params, n_shards = eng.filter_kind, eng.filter_params, eng.n_shards
    shard = np.mod(old, n_shards)

    def build() -> dict:
        return {
            int(s): seenfilter.build_blob(kind, old[shard == s], params)
            for s in np.unique(shard)
        }

    build_s = _median_time(build)
    blobs = build()
    keys = np.concatenate([old, new])
    probe_s = _median_time(lambda: seenfilter.contains_sharded(kind, blobs, keys, n_shards, params))
    maybe = seenfilter.contains_sharded(kind, blobs, new, n_shards, params)
    return {
        "seenfilter.build_ms": build_s * 1e3,
        "seenfilter.probe_ns_per_key": probe_s * 1e9 / len(keys),
        "seenfilter.fp_rate": float(maybe.mean()) if len(new) else 0.0,
    }


def politeness(spark, eng, n_waves: int) -> dict:
    """The per-host budget operator on the largest frontier partition."""
    sizes = {w: eng.wh.read(spark, "frontier", wave=w).count() for w in range(n_waves)}
    w = max(sizes, key=sizes.get)
    frontier = (
        eng.wh.read(spark, "frontier", wave=w)
        .drop("wave")
        .join(robots_df(spark, eng.cfg).select("host", "crawl_delay"), "host", "left")
        .withColumn("eff_budget", effective_budget_col(eng.budget))
    )
    s = _median_time(
        lambda: budget_flagged(frontier, n_salt=eng.n_salt)
        .write.format("noop").mode("overwrite").save(),
        reps=2,
    )
    return {"politeness.budget_s": s}


def warehouse(spark, eng) -> dict:
    out = {}
    for table in WAREHOUSE_TABLES:
        files = list(eng.wh.table_dir(table).rglob("*.parquet"))
        out[f"warehouse.files.{table}"] = len(files)
        out[f"warehouse.bytes.{table}"] = sum(f.stat().st_size for f in files)
    out["warehouse.read_seen_s"] = _median_time(
        lambda: eng.wh.read(spark, "seen").write.format("noop").mode("overwrite").save(),
        reps=2,
    )
    return out
