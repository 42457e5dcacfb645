"""The crawl engine: RENDLER's scheduler loop as Spark batch-wave iteration.

Reference lifecycle [upstream: python/rendler.py ~L95-300]: a Mesos
scheduler pops URLs off crawl/render deques, launches one-URL executor
tasks, and folds (url, links[]) / (url, imageUrl) framework messages back
into in-memory state.  Here each *wave* is one batch iteration over
DataFrames (BASELINE.json:L6 "Each crawl wave is a batch iteration"):

    frontier(w)                                         [parquet, wave=w]
      ├─ broadcast-join robots → crawl_delay budgets    (B3, C5)
      ├─ salted two-phase per-host top-K window         (E1-E3) — 1 shuffle
      │     fetch set ─────────────┐   deferred rows → frontier(w+1)
      ├─ mapInArrow fetch+render UDF (Arrow batches)    (A2, H1-H4)
      │     → images rows (input_hint schema) + packed links
      │       + canonical links + each link's maybe-seen flag
      │       (Bloom-shard probe) — the wave's only Python stage
      ├─ posexplode canonical links → http(s) filter    (JVM)
      │     → edges(w)
      ├─ first-wins dedup (min(depth,seq) per URL)      (D3) — 1 shuffle
      ├─ split on the flag: sure-new ∪ maybe-seen       (C1, C2, D6)
      │     LEFT ANTI seen (the exact authority)
      ├─ robots gate → seen additions (blocked flagged) (B3)
      └─ commit wave manifest: images/edges/seen/frontier(w+1)/metrics

``run_wave`` runs that as named phases, one method each.  Every phase is
timed into ``CrawlEngine.phase_times`` under the name on the left, and
its Spark jobs run in the job group ``w<w>/<name>`` (e.g. ``w1/job_seen``),
so a Spark event log ties each job to its wave and phase:

    job_images_udf      plan-fetch (budget split, max_render_tasks cap),
                        fetch-render, images(w) write
    job_edges           links: resolved, fetch_log(w) + edges(w) writes
    admit_plan          admit: candidates, first-wins, flag split, plan
    job_seen            seen(w+1) write (runs the admission chain)
    job_frontier        frontier(w+1) = deferred ∪ unblocked seen(w+1)
    job_bloom           fold seen(w+1) into the Bloom/cuckoo state
    job_compact         seen snapshot every ``seen_compact_every`` waves
    job_metrics_commit  wave_metrics(w) row + manifest w+1
    cleanup             release the wave's cached frames

``init`` admits the seeds and ends with the same seen, frontier, bloom
and commit phases (frontier(0) has nothing deferred).

Every count in the manifest (fetched, links, new, blocked, next frontier,
per-partition lineage) is read from the parquet footers of the
partitions the wave just wrote — one source, no count jobs.

The per-wave commit (Warehouse manifests) replaces the scheduler's
frameworkMessage folding as the single synchronization point and gives
exact resume (A6 — absent in the reference, demanded by BASELINE.json:L14).

Scale notes (designed for 10^10-URL frontiers, tested on local[32]):
* frontier/seen/edges/images are wave-partitioned parquet — every wave's
  state is re-read from disk, so plan lineage never grows across waves and
  partition pruning confines reads to the waves named.
* the seen table is additionally Hive-sub-partitioned by ``shard`` (the
  prefilter's shard), so a shard predicate is a partition-pruned scan,
  and ``seen_compact_every`` folds old wave partitions into one snapshot
  so the recurring read is one snapshot + bounded deltas instead of
  O(waves) partitions (tests/test_seen_scale.py).
* the two per-wave shuffles (host-salt window; url_hash dedup/anti-join)
  are the only wide stages; the Bloom/cuckoo prefilter routes the
  overwhelmingly-new candidate mass AROUND the anti-join (SURVEY.md §4.1).
* the prefilter's shard blobs live on the driver (bits-sized, never
  row-sized) and are broadcast to every executor (right while total
  blob bytes << executor memory), where the fetch kernel probes every
  link it emits (``hashing.xxhash64_utf8`` ≡ Spark's ``xxhash64``), so
  admission is JVM-only and the probe runs in every wave (north rule).
  ``filter_kind`` picks Bloom bits or a cuckoo table (deletion support)
  behind the same contract (operators/seenfilter.py).
* seen and frontier reads pass their known schemas
  (``SEEN_READ_SCHEMA``, ``FRONTIER_READ_SCHEMA``): no read starts a
  schema-inference job over the parquet footers.
* ``seq`` lineage is a hex string (crawl_semantics rule 1) — exact BFS
  order at any crawl depth; the int64 encoding wrapped at depth ~14.
* ``max_render_tasks`` (rule 7) is the reference's global render cutoff:
  a cumulative cap that splits the final wave deterministically.
* image bytes never touch the driver; Arrow batch size is capped by the
  session conf (see rendler_spark.session.get_spark).
"""

from __future__ import annotations

import math
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from functools import partial
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from rendler_spark import codecs, synthweb, urlnorm
from rendler_spark.crawl_semantics import N_SHARDS, SEQ_BASE, seed_seq
from rendler_spark.functions import links as linkfns
from rendler_spark.hashing import xxhash64_utf8
from rendler_spark.operators import seenfilter
from rendler_spark.operators.politeness import budget_flagged
from rendler_spark.operators.robots import (
    effective_budget_col, robots_df, with_robots,
)
from rendler_spark.sources.tables import Warehouse

HOST_RE = r"^https?://([^/?#]*)"
FRONTIER_COLS = ("url", "host", "depth", "seq")
#: the schemas of a frontier and a seen wave partition as read back,
#: partition cols last in path order: every engine read passes one, so
#: Spark runs no schema-inference job (Warehouse.read)
FRONTIER_READ_SCHEMA = "url string, host string, depth int, seq string, wave int"
SEEN_READ_SCHEMA = (
    "url_hash bigint, url string, host string, depth int, seq string, "
    "blocked boolean, wave int, shard int"
)
#: the seen table (and its compacted snapshots) is Hive-sub-partitioned by
#: the prefilter's shard, so a shard predicate prunes the scan to its dirs
SEEN_PARTITION_BY = ["shard"]
#: ``links`` is the page's raw hrefs, SEP-packed (fetch_log keeps them);
#: ``dsts`` is the same hrefs canonicalized, position for position;
#: ``maybe`` is each dst's seen-prefilter verdict, position for position
PAGE_SCHEMA = (
    "url string, host string, depth int, seq string, links string, "
    "dsts array<string>, maybe array<boolean>, "
    "bytes binary, w int, h int, fmt string, caption string, phash bigint"
)
#: a canonical link the crawl follows (edges, discovery candidates)
HTTP_RE = "^https?://"
#: seen-prefilter sizes per shard, for either ``filter_kind``
#: (operators/seenfilter.py)
FILTER_PARAMS = {
    "bloom_bits": 1 << 16,
    "bloom_k": 6,
    "cuckoo_buckets": 1 << 13,
    "cuckoo_bucket_size": 4,
}


# --------------------------------------------------------------- UDFs


def _render_batch(cfg: synthweb.WebConfig, urls: pd.Series) -> dict:
    """A2+H1-H4 fused kernel: fetch page, extract and canonicalize links,
    render image, caption, phash for one batch of URLs.  The html string
    never leaves the Python worker.  Returns one array or list per
    produced column; ``dsts`` is already an Arrow list array."""
    hi, pj, _ = synthweb.parse_url(urls)
    html = synthweb.page_html(cfg, hi, pj)
    links = linkfns.extract_links(html)
    dsts = linkfns.canonical_links(urls, links)
    caption = synthweb.page_caption(cfg, hi, pj)
    w, h, fidx = synthweb.image_params(cfg, hi, pj)
    coeffs = synthweb.render_coeffs(cfg, hi, pj)  # (N, 5), one batch mix
    fmts = [codecs.FORMATS[int(i)] for i in fidx]
    blobs, phashes = [], []
    for k in range(len(urls)):  # per-row loop; per-call work is a
        px = synthweb.render_pixels(  # vectorized numpy kernel per image;
            cfg, int(hi[k]), int(pj[k]),  # size+coeffs precomputed above
            _wh=(int(w[k]), int(h[k])), _coeffs=coeffs[k],
        )
        blobs.append(codecs.encode(px, fmts[k]))
        phashes.append(codecs.phash(px))
    return {
        "links": links.to_numpy(),
        "dsts": dsts,
        "bytes": blobs,
        "w": w,
        "h": h,
        "fmt": fmts,
        "caption": caption.to_numpy(),
        "phash": np.array(phashes, dtype=np.int64),
    }


def make_fetch_render_arrow(cfg: synthweb.WebConfig, probe: tuple | None = None):
    """mapInArrow wrapper (SURVEY §2J): the pass-through columns
    (url/host/depth/seq) are re-emitted as the INPUT RecordBatch's own
    arrays — zero copy, no pandas object-column round trip — and the
    produced columns (image bytes etc.) go straight into Arrow arrays.
    Shared by the wave loop and the streaming skin.

    ``probe`` = (broadcast shard blobs, filter kind, filter params,
    n_shards): every canonical link is probed against the seen
    prefilter here, in the same Python pass (C1, D6), and ``maybe``
    holds the verdicts on the ``dsts`` offsets.  Without a probe every
    link is maybe-seen, so admission checks them all exactly."""
    import pyarrow as pa

    def flags(dsts: "pa.ListArray") -> "pa.ListArray":
        values = dsts.flatten()
        if probe is None:
            maybe = np.ones(len(values), dtype=bool)
        else:
            bc, kind, params, n_shards = probe
            maybe = seenfilter.contains_sharded(
                kind, bc.value, xxhash64_utf8(values), n_shards, params
            )
        return pa.ListArray.from_arrays(dsts.offsets, pa.array(maybe, pa.bool_()))

    def fetch_render(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            urls = rb.column(rb.schema.get_field_index("url")).to_pandas()
            out = _render_batch(cfg, urls)
            arrays = [
                rb.column(rb.schema.get_field_index("url")),
                rb.column(rb.schema.get_field_index("host")),
                rb.column(rb.schema.get_field_index("depth")),
                rb.column(rb.schema.get_field_index("seq")),
                pa.array(out["links"], type=pa.string()),
                out["dsts"],
                flags(out["dsts"]),
                pa.array(out["bytes"], type=pa.binary()),
                pa.array(out["w"], type=pa.int32()),
                pa.array(out["h"], type=pa.int32()),
                pa.array(out["fmt"], type=pa.string()),
                pa.array(out["caption"], type=pa.string()),
                pa.array(out["phash"], type=pa.int64()),
            ]
            names = [
                "url", "host", "depth", "seq", "links", "dsts", "maybe",
                "bytes", "w", "h", "fmt", "caption", "phash",
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return fetch_render


def make_filter_builder(kind: str, params: dict):
    """D6: grouped-map that folds one shard's url_hashes into a filter blob
    (Bloom bits or a cuckoo table, per ``kind`` — seenfilter dispatch)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        blob = seenfilter.build_blob(kind, pdf["url_hash"].to_numpy(np.int64), params)
        return pd.DataFrame({"shard": [shard], "bits": [blob]})

    return build


def first_wins(df: DataFrame) -> DataFrame:
    """D3: deterministic first-discovery dedup — min (depth, seq) per URL
    (crawl_semantics rule 4); host rides along (constant per URL).  Any
    other column (the kernel's ``_maybe`` prefilter verdict) is a
    function of the URL too, so every duplicate agrees: kept as its max."""
    extra = [c for c in df.columns if c not in FRONTIER_COLS]
    return (
        df.groupBy("url")
        .agg(
            F.min(F.struct("depth", "seq", "host")).alias("m"),
            *[F.max(c).alias(c) for c in extra],
        )
        .select(
            "url",
            F.col("m.host").alias("host"),
            F.col("m.depth").alias("depth"),
            F.col("m.seq").alias("seq"),
            *extra,
        )
    )


# --------------------------------------------------------------- engine


class FetchPlan(NamedTuple):
    """What plan-fetch hands the rest of the wave."""

    fetch: DataFrame  # this wave's fetch set
    deferred: DataFrame  # budget- or cap-deferred rows → frontier(w+1)
    n_frontier: int
    n_total_before: int  # URLs fetched by earlier waves
    n_tasks: int  # fetch/render task count


class CrawlEngine:
    """Distributed URL frontier + fetch scheduler (north_rule)."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: synthweb.WebConfig,
        warehouse: str,
        *,
        max_render_tasks: int | None = None,  # global cumulative fetch cap
        # (crawl_semantics rule 7, reference --max-render-tasks semantics)
        n_salt: int = 8,
        filter_kind: str = "bloom",  # or "cuckoo" (deletion support;
        # north rule names "Bloom/cuckoo" — seenfilter.py dispatch)
        n_partitions: int | None = None,
        rows_per_fetch_task: int = 64,
        seen_compact_every: int = 8,  # OR-merge seen waves every N (0 = off)
        snapshot_keep: int | None = None,  # expire manifests older than the
        # newest N after each wave commit (Iceberg expire_snapshots; bounds
        # metadata growth on a long crawl; None = keep all — required when
        # external tooling rolls back past the horizon, e.g. BENCH/scaling)
    ):
        self.spark = spark
        self.cfg = cfg
        # lineage encodes one hex digit per link position (crawl_semantics)
        assert cfg.max_links < SEQ_BASE, "lineage digit overflow: max_links >= 16"
        self.wh = Warehouse(warehouse)
        self.budget = cfg.budget
        self.max_render_tasks = max_render_tasks
        self.n_salt = n_salt
        self.n_shards = N_SHARDS
        assert filter_kind in seenfilter.KINDS, filter_kind
        self.filter_kind = filter_kind
        self.filter_params = FILTER_PARAMS
        self.n_partitions = n_partitions or spark.sparkContext.defaultParallelism
        self.rows_per_fetch_task = rows_per_fetch_task
        self.seen_compact_every = seen_compact_every
        self.snapshot_keep = snapshot_keep
        self.robots = robots_df(spark, cfg)
        self._shard_blobs: dict[int, bytes] = {}
        self._bc = None
        #: one {phase: seconds} dict per completed wave (run_wave's phases)
        self.phase_times: list[dict] = []

    # ----------------------------------------------------- bloom state

    def _update_bloom(
        self,
        additions: DataFrame,
        wave_dir=None,
        n_rows: int | None = None,
    ) -> None:
        """Fold a wave's seen-additions into the prefilter state:
        per-shard blobs merged on the driver (bits-sized, never
        row-sized), then re-broadcast.

        Fast path: when the wave's additions are a SMALL just-written
        parquet partition (``wave_dir`` + ``n_rows``), the driver reads
        the two key columns with pyarrow and builds the blobs in-process
        — no Spark job.  Either kind's blob depends only on the shard's
        hash set (Bloom bits are an order-independent OR; the cuckoo
        build inserts the sorted unique hashes), so it is byte-identical
        to the distributed build.  Large waves (or resume, which passes
        no wave_dir) keep the distributed build."""
        if wave_dir is not None and n_rows is not None and n_rows <= 2_000_000:
            blobs = []
            if n_rows > 0:
                import pyarrow.dataset as _pads

                tbl = _pads.dataset(
                    str(wave_dir), format="parquet", partitioning="hive"
                ).to_table(columns=["url_hash", "shard"])
                h = tbl["url_hash"].to_numpy(zero_copy_only=False).astype(np.int64)
                sh = tbl["shard"].to_numpy(zero_copy_only=False).astype(np.int64)
                blobs = [
                    (int(s), seenfilter.build_blob(
                        self.filter_kind, h[sh == s], self.filter_params
                    ))
                    for s in np.unique(sh)
                ]
        else:
            blobs = [
                (int(r["shard"]), bytes(r["bits"]))
                for r in additions.select("shard", "url_hash")
                .groupBy("shard")
                .applyInPandas(
                    make_filter_builder(self.filter_kind, self.filter_params),
                    "shard int, bits binary",
                )
                .collect()
            ]
        for shard, cur in blobs:
            prev = self._shard_blobs.get(shard)
            self._shard_blobs[shard] = (
                cur if prev is None else seenfilter.merge_blobs(self.filter_kind, prev, cur)
            )
        if self._bc is not None:
            self._bc.destroy()
        self._bc = self.spark.sparkContext.broadcast(dict(self._shard_blobs))

    # ----------------------------------------------------- admission

    def _admit(self, candidates: DataFrame, seen: DataFrame | None) -> DataFrame:
        """Dedup candidates against the seen set (C1/C2), gate by robots
        (B3); returns the seen additions.  No Python runs here: the fetch
        kernel already probed the prefilter for every link.

        candidates: (url, host, depth, seq, _maybe), first-wins-deduped;
        ``_maybe`` is the kernel's prefilter verdict (absent for the
        seeds, which have no seen set to check).  Sure-new rows
        (``_maybe`` false) skip the exact anti-join; maybe-seen rows go
        through it, so it stays authoritative and the filter's zero
        false negatives keep the result exact."""
        new = candidates.withColumn("url_hash", F.xxhash64("url")).withColumn(
            "shard", F.pmod("url_hash", F.lit(self.n_shards)).cast("int")
        )
        if seen is not None:
            # join on url ALONE (url equality implies url_hash equality):
            # the candidate side arrives hash-partitioned by url from the
            # first_wins groupBy, so Catalyst reuses that partitioning and
            # only the SEEN side shuffles
            seen_keys = seen.select("url")
            checked = new.filter(F.col("_maybe")).join(seen_keys, "url", "left_anti")
            new = new.filter(~F.col("_maybe")).unionByName(checked)
        return with_robots(new, self.robots).select(
            "url_hash", "url", "host", "depth", "seq", "shard", "blocked"
        )

    # ----------------------------------------------------- lifecycle

    def init(self, fresh: bool = True) -> None:
        """Version 0: admit the seed list (A1) — seeds are canonicalized,
        first-wins-deduped, robots-gated exactly like discoveries, then
        written, folded and committed by the phases that end a wave:
        frontier(0) is the unblocked rows of seen(0), nothing deferred."""
        if fresh and self.wh.root.exists():
            shutil.rmtree(self.wh.root)
            self.wh = Warehouse(self.wh.root)
        raw = synthweb.seeds(self.cfg)
        canon = [urlnorm.canonicalize_one(u, u) for u in raw]
        pdf = pd.DataFrame(
            {"url": canon, "seq": [seed_seq(k) for k in range(len(canon))]}
        )
        df = (
            self.spark.createDataFrame(pdf)
            .withColumn("depth", F.lit(0).cast("int"))
            .withColumn("host", F.regexp_extract("url", HOST_RE, 1))
            .filter(F.col("url").rlike(HTTP_RE))
        )
        seen_add = self._admit(first_wins(df), None)
        n_new = self._write_seen(0, seen_add)
        added, n_frontier = self._write_frontier(0, None)
        self._update_bloom(added, self.wh.part_dir("seen", 0), n_new)
        self._commit(0, {
            "kind": "init",
            "n_seeds": len(canon),
            "n_frontier": n_frontier,
            "n_total_fetched": 0,
        })

    def _read_seen(self, upto: int) -> DataFrame:
        """The cumulative seen set at state ``upto`` — compaction-aware.

        Without compaction the per-wave anti-join re-reads every prior
        wave's partitions (O(waves) files touched per wave — the dominant
        recurring IO at 10^10).  ``seen_compact_every`` bounds it: the
        newest ``seen_compact/wave=c`` snapshot replaces waves 0..c, so a
        wave reads one snapshot + <=seen_compact_every deltas.  Original
        wave partitions are retained for manifest-exact rollback (the
        Iceberg snapshot-expiry analogue would GC them after a retention
        window)."""
        c = (
            self.wh.latest_wave("seen_compact", upto=upto)
            if self.seen_compact_every
            else None
        )
        read = partial(self.wh.read, self.spark, schema=SEEN_READ_SCHEMA)
        if c is None:
            return read("seen", upto=upto).drop("wave")
        base = read("seen_compact", wave=c).drop("wave")
        if c >= upto:
            return base
        return base.unionByName(read("seen", upto=upto, start=c + 1).drop("wave"))

    # ----------------------------------------------------- wave phases

    @contextmanager
    def _phase(self, w: int, times: dict[str, float], name: str):
        """Time one phase of wave ``w`` into ``times`` and put the Spark
        jobs it runs in the job group ``w<w>/<name>``."""
        group = f"w{w}/{name}"
        self.spark.sparkContext.setJobGroup(group, group)
        t = time.monotonic()
        yield
        times[name] = round(time.monotonic() - t, 3)

    def _plan_fetch(self, w: int, cache: list[DataFrame]) -> FetchPlan | None:
        """plan-fetch: split frontier(w) into the fetch set and the
        deferred rest by the per-host politeness budget (E1-E3), then by
        the ``max_render_tasks`` cap.  None when the frontier is empty or
        the cap is spent (the frontier stays intact, so it is resumable)."""
        man = self.wh.manifest(w)
        n_frontier = man["n_frontier" if man["kind"] == "init" else "n_frontier_next"]
        total_before = man["n_total_fetched"]
        cap = None
        if self.max_render_tasks is not None:
            cap = self.max_render_tasks - total_before
        if n_frontier == 0 or (cap is not None and cap <= 0):
            return None
        frontier = (
            self.wh.read(self.spark, "frontier", wave=w, schema=FRONTIER_READ_SCHEMA)
            .drop("wave")
            .join(F.broadcast(self.robots.select("host", "crawl_delay")), "host", "left")
            .withColumn("eff_budget", effective_budget_col(self.budget))
        )
        flagged = budget_flagged(frontier, n_salt=self.n_salt).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        cache.append(flagged)
        fetch = flagged.filter(F.col("_fetch")).select(*FRONTIER_COLS)
        deferred = flagged.filter(~F.col("_fetch")).select(*FRONTIER_COLS)
        if cap is not None and cap < n_frontier:
            # crawl_semantics rule 7: global cap — allowance goes to the
            # smallest (depth, host, seq) rows; rest deferred unchanged.
            # orderBy+limit plans as TakeOrderedAndProject for small caps
            # and sort+GlobalLimit above the top-k threshold; the anti-join
            # recovering the remainder broadcasts the (capped) selection.
            sel = (
                fetch.orderBy("depth", "host", "seq")
                .limit(cap)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            cache.append(sel)
            deferred = deferred.unionByName(
                fetch.join(sel.select("url"), "url", "left_anti")
            )
            fetch = sel
        # upper-bound the fetch set by frontier size (and the cap, when
        # binding) to pick the task count without a count job
        fetch_ub = n_frontier if cap is None else min(n_frontier, cap)
        n_tasks = max(
            1, min(self.n_partitions, math.ceil(fetch_ub / self.rows_per_fetch_task))
        )
        return FetchPlan(fetch, deferred, n_frontier, total_before, n_tasks)

    def _fetch_render(
        self, w: int, plan: FetchPlan, cache: list[DataFrame]
    ) -> tuple[DataFrame, int] | None:
        """fetch-render: the Arrow kernel over the fetch set, cached as
        ``pages``; writing images(w) materializes it.  Returns (pages,
        rows fetched), or None when nothing was fetched (the budget can
        never defer ALL rows, so 0 means done).  The kernel probes every
        link against the prefilter state of the last fold: seen(<=w)."""
        # hash- rather than round-robin-repartition: keyless repartition
        # first pays a local sort of its input for retry determinism
        # (SPARK-23207); hashing by url is deterministic without it and
        # spreads uniformly-costed fetches evenly
        probe = (self._bc, self.filter_kind, self.filter_params, self.n_shards)
        pages = (
            plan.fetch.repartition(plan.n_tasks, "url")
            .mapInArrow(make_fetch_render_arrow(self.cfg, probe), PAGE_SCHEMA)
            .withColumn("part_id", F.spark_partition_id())
        ).persist(StorageLevel.MEMORY_AND_DISK)
        cache.append(pages)
        images = pages.select(
            F.col("url").alias("image_id"),
            "bytes", "w", "h", "fmt", "caption", "phash",
        )
        self.wh.overwrite_partition("images", w, images)
        n_fetched = self.wh.partition_rows("images", w)
        return (pages, n_fetched) if n_fetched else None

    def _links(
        self, w: int, pages: DataFrame, cache: list[DataFrame]
    ) -> tuple[DataFrame, int, dict[str, int]]:
        """links: every canonical http(s) link of the wave's pages as the
        cached ``resolved`` frame (JVM only: the fetch kernel already
        canonicalized and probed them; ``_maybe`` is each link's prefilter
        verdict), written as edges(w) next to fetch_log(w).
        Releases ``pages`` once ``resolved`` is materialized, so image
        bytes leave memory before admission.  Returns (resolved, link
        count, per-partition lineage)."""
        # resolved reads the PAGES cache, not the fetch_log file: the cache
        # is columnar, so projecting (url, depth, seq, dsts, maybe) never
        # deserializes the image-bytes column
        resolved = (
            pages.select(
                "url", "depth", "seq", "maybe",
                F.posexplode("dsts").alias("pos", "dst"),
            )
            .filter(F.col("dst").rlike(HTTP_RE))
            .select(
                "url", "depth", "seq", "pos", "dst",
                F.col("maybe")[F.col("pos")].alias("_maybe"),
            )
        ).persist(StorageLevel.MEMORY_AND_DISK)
        cache.append(resolved)
        writes = {
            # the packed raw links, for downstream/export consumers
            "fetch_log": pages.select("url", "host", "depth", "seq", "part_id", "links"),
            "edges": resolved.select(F.col("url").alias("src"), "dst"),
        }
        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")

        def write(table: str) -> None:
            sc.setJobGroup(group, group)  # pool threads do not inherit it
            self.wh.overwrite_partition(table, w, writes[table])

        # both writes depend only on the pages cache (materialized by the
        # images write) and write different tables: run them concurrently
        # so the smaller write hides inside the larger (guide §2.6)
        with ThreadPoolExecutor(max_workers=2) as pool:
            for done in [pool.submit(write, table) for table in writes]:
                done.result()
        pages.unpersist()  # the edges write materialized resolved
        # per-partition lineage: fetch_log is written straight from the
        # pages cache (no exchange), so each row group holds one part_id
        partitions = {
            str(k): v
            for k, v in self.wh.partition_rows("fetch_log", w, by="part_id").items()
        }
        return resolved, self.wh.partition_rows("edges", w), partitions

    def _admit_links(
        self, w: int, resolved: DataFrame, cache: list[DataFrame]
    ) -> DataFrame:
        """admit: each link becomes a discovery candidate, first-wins
        deduped (cached) and admitted against seen(<=w).  Both branches
        of ``_admit``'s flag split read the candidates, and without the
        cache AQE does not reuse the first-wins Exchange between them:
        the seen write would shuffle and aggregate the links twice."""
        # child seq = parent lineage + one hex digit (crawl_semantics rule
        # 1: string lineage never overflows, unlike seq*16+pos on int64)
        cand = first_wins(
            resolved.select(
                F.col("dst").alias("url"),
                F.regexp_extract("dst", HOST_RE, 1).alias("host"),
                (F.col("depth") + 1).cast("int").alias("depth"),
                F.concat(
                    F.col("seq"), F.lower(F.conv(F.col("pos"), 10, 16))
                ).alias("seq"),
                "_maybe",
            )
        ).persist(StorageLevel.MEMORY_AND_DISK)
        cache.append(cand)
        return self._admit(cand, self._read_seen(w))

    def _write_seen(self, v: int, seen_add: DataFrame) -> int:
        """seen-write: the admitted rows as seen(v); returns their count."""
        # rebalance before the partitioned write: without it every write
        # task emits one tiny file per shard it holds (tasks x shards
        # fragments per wave — 2,865 seen files by wave 6 at bench tier,
        # measured); AQE sizes the rebalanced partitions, so files track
        # data volume at any scale (guide §6 small-files).
        self.wh.overwrite_partition(
            "seen", v, seen_add.hint("rebalance", "shard"),
            partition_by=SEEN_PARTITION_BY,
        )
        return self.wh.partition_rows("seen", v)

    def _write_frontier(
        self, v: int, deferred: DataFrame | None
    ) -> tuple[DataFrame, int]:
        """frontier-write: frontier(v) = ``deferred`` ∪ the unblocked rows
        of seen(v), read back from the written partition so the admission
        chain runs exactly once.  Returns (seen(v) as read, frontier(v)'s
        row count)."""
        # the known schema also reads a zero-addition wave's file-less
        # partition dir, as an empty frame
        added = self.wh.read(self.spark, "seen", wave=v, schema=SEEN_READ_SCHEMA)
        rows = added.filter(~F.col("blocked")).select(*FRONTIER_COLS)
        if deferred is not None:
            rows = deferred.unionByName(rows)
        # rebalance: the union otherwise writes one file per upstream
        # cached partition (~50 tiny files/wave)
        self.wh.overwrite_partition("frontier", v, rows.hint("rebalance"))
        return added, self.wh.partition_rows("frontier", v)

    def _compact(self, v: int) -> int | None:
        """compact: every ``seen_compact_every`` versions, fold seen(<=v)
        (newest snapshot + deltas) into one shard-partitioned snapshot;
        amortized one extra seen read+write per period.  Returns v when
        it compacted."""
        if not self.seen_compact_every or v % self.seen_compact_every:
            return None
        self.wh.overwrite_partition(
            "seen_compact", v, self._read_seen(v).hint("rebalance", "shard"),
            partition_by=SEEN_PARTITION_BY,
        )
        return v

    def _write_metrics(self, w: int, stats: dict) -> None:
        """The wave's stats as one wave_metrics row: a driver-side parquet
        write, no Spark job."""
        row = {k: v for k, v in stats.items() if k != "partitions"}
        self.wh.overwrite_partition_local("wave_metrics", w, pd.DataFrame([row]))

    def _commit(self, v: int, info: dict) -> None:
        """commit: the manifest that makes version v's partitions the
        crawl state; then expire manifests past ``snapshot_keep``."""
        self.wh.commit(v, info)
        if self.snapshot_keep:
            self.wh.expire_snapshots(self.snapshot_keep)

    def run_wave(self, w: int) -> dict | None:
        """One batch iteration as named phases (module docstring), each
        timed into ``phase_times`` and running its Spark jobs in the job
        group ``w<w>/<phase>``.  Returns the wave stats, or None when there
        is nothing to do (empty frontier, spent cap, nothing fetched).
        Idempotent: re-running an uncommitted wave overwrites its
        partition dirs (Warehouse contract).  Every frame a phase caches
        goes on one list, released however the wave ends; every count is
        read from the parquet footers the wave wrote, never a count job."""
        t0 = time.monotonic()
        times: dict[str, float] = {}
        cache: list[DataFrame] = []
        phase = partial(self._phase, w, times)
        try:
            with phase("job_images_udf"):
                plan = self._plan_fetch(w, cache)
                fetched = self._fetch_render(w, plan, cache) if plan else None
            if not fetched:
                return None
            pages, n_fetched = fetched
            with phase("job_edges"):
                resolved, n_links, partitions = self._links(w, pages, cache)
            with phase("admit_plan"):
                seen_add = self._admit_links(w, resolved, cache)
            with phase("job_seen"):
                n_new = self._write_seen(w + 1, seen_add)
            with phase("job_frontier"):
                added, n_next = self._write_frontier(w + 1, plan.deferred)
            with phase("job_bloom"):
                self._update_bloom(added, self.wh.part_dir("seen", w + 1), n_new)
            with phase("job_compact"):
                compacted_at = self._compact(w + 1)
            n_deferred = plan.n_frontier - n_fetched
            stats = {
                "wave": w,
                "n_frontier": plan.n_frontier,
                "n_fetched": n_fetched,
                "n_deferred": n_deferred,
                "n_links": n_links,
                "n_new": n_new,
                # frontier(w+1) = deferred ∪ unblocked additions
                "n_robots_blocked": n_new - (n_next - n_deferred),
                "n_frontier_next": n_next,
                "n_total_fetched": plan.n_total_before + n_fetched,
                "seen_compacted_at": compacted_at,
                "wall_ms": int((time.monotonic() - t0) * 1000),
                "partitions": partitions,
            }
            stats = {k: v for k, v in stats.items() if v is not None}
            with phase("job_metrics_commit"):
                self._write_metrics(w, stats)
                self._commit(w + 1, {"kind": "wave", **stats})
        finally:
            with phase("cleanup"):
                for df in cache:
                    df.unpersist()
            self.spark.sparkContext._jsc.clearJobGroup()
        self.phase_times.append(times)
        return stats

    def run(self, max_waves: int, fresh: bool = True) -> list[dict]:
        self.init(fresh=fresh)
        return self.run_waves(0, max_waves)

    def run_waves(self, start: int, max_waves: int) -> list[dict]:
        out = []
        for w in range(start, max_waves):
            s = self.run_wave(w)
            if s is None:
                break
            out.append(s)
        return out

    @classmethod
    def resume(
        cls,
        spark: SparkSession,
        cfg: synthweb.WebConfig,
        warehouse: str,
        max_waves: int,
        **kw,
    ) -> list[dict]:
        """A6: exact resume — restart from the last committed manifest;
        the Bloom state is rebuilt distributed from the seen table."""
        eng = cls(spark, cfg, warehouse, **kw)
        v = eng.wh.last_version()
        if v is None:
            raise RuntimeError("nothing to resume: no committed manifest")
        eng._update_bloom(eng._read_seen(v))
        return eng.run_waves(v, max_waves)
