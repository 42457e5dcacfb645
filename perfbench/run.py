#!/usr/bin/env python3
"""Benchmark for rendler_spark: the crawl wave loop and the headline
query registry, each as a closed loop with one client.

Run from the repository root:

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Workloads (BENCHMARK.json says why each exists):

* ``crawl``: a synthetic web seeded from ``--seed``.  Set-up starts the
  session, admits the seeds (``CrawlEngine.init``) and runs wave 0 as the
  warm pass; the timed region is the remaining waves.  Then the GraphViz
  export reads what the crawl wrote.  The whole warehouse is checked
  against the reference crawl (check.crawl_expected) and the export
  against counts derived from it.
* ``queries``: ``queries.HEADLINE`` over ``perfbench/tables``, byte-for-byte
  copies of the repository's sf0.01 testdata tables (TESTDATA.md; sums in
  ``tables/SHA256SUMS``).  The input is fixed; ``--seed`` only shuffles
  the query order within each pass.  Set-up starts the session and runs
  one warm pass that collects every result.  The timed region is PASSES
  passes that write to the noop sink.  The collected results are checked
  against their DuckDB twins, q_minhash_pairs against numpy.

Both timed regions are a fixed amount of work (WAVES - 1 waves, PASSES
passes), so every commit and every host measures the same work; on 4
cores each lasts about the ``run_seconds`` of BENCHMARK.json.
``--seconds`` is accepted for the benchmark interface and otherwise
unused.  A fixed pass count matters for the queries: each pass is a
little faster than the last for several passes (JIT warm-up), so a
time-sized loop would make fast hosts run more, faster passes.
Spark runs as local[N] with N = usable CPUs; the crawl uses N partitions.

Output: ``metric``/``host``/``detail`` lines for people, then as the last
line one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  A traced run also writes its spans to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
TABLES = os.path.join(HERE, "tables")
sys.path[:0] = [HERE, ROOT]
try:
    from rendler_spark.queries import HEADLINE
except ImportError as e:
    print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
    sys.exit(2)

# every host is seeded, so wave sizes hardly depend on the seed: wave 1
# fetches about 1,400 URLs, wave 2 about 1,900 of the 2,048 the budget
# allows (seeds 3, 11, 12)
CRAWL = dict(
    n_hosts=256, pages_per_host=256, max_links=15, n_seeds=256, budget=8,
    img_min=8, img_span=9,
)
WAVES = 3  # wave 0 is the warm pass, the rest are timed
PASSES = 3
PHASES = (
    "job_images_udf", "job_edges", "admit_plan", "job_seen", "job_frontier",
    "job_bloom", "job_compact",
)

END_TO_END = {"setup_s": "s", "items_per_s": "1/s"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "engine.init_s": "s",
    **{f"engine.wave{w}_s": "s" for w in range(WAVES)},
    **{f"engine.phase.{p}_s": "s" for p in PHASES},
    "engine.fetched": "count",
    "engine.links": "count",
    "engine.new": "count",
    "engine.blocked": "count",
    "engine.new_per_link": "ratio",
    "render.ms_per_url": "ms",
    "render.links_us_per_page": "us",
    "urlnorm.us_per_link": "us",
    "seenfilter.build_ms": "ms",
    "seenfilter.probe_ns_per_key": "ns",
    "seenfilter.fp_rate": "ratio",
    "politeness.budget_s": "s",
    **{
        f"warehouse.{k}.{t}": u
        for t in ("seen", "frontier", "edges", "images", "fetch_log")
        for k, u in (("files", "count"), ("bytes", "B"))
    },
    "warehouse.read_seen_s": "s",
    "export.export_s": "s",
    "export.nodes": "count",
    "export.edges": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    **{f"queries.{q}_s": "s" for q in HEADLINE},
    "process.peak_rss_mb": "MB",
    "host.nproc": "count",
    "host.anchor_single_rps": "1/s",
    "host.anchor_pool_rps": "1/s",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}


def _usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Run:
    """State of one benchmark run: the work dir, the session, the
    counters and every number reported."""

    def __init__(self, args):
        from instruments import RssSampler, Tracer

        self.args = args
        self.nproc = _usable_cpus()
        self.work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        self.tracer = Tracer(bool(args.trace))
        self.rss = RssSampler().start()
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.e2e: dict[str, float] = {}
        self.named: dict[str, tuple[float, str]] = {}  # the user-facing numbers
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.detail: dict[str, list[float]] = {}  # per-operation times
        self.spark = None
        self.events: list[dict] = []

    def start_spark(self):
        """local[N] session with console progress off; a traced run also
        writes Spark's event log.  Everything Spark and Python write goes
        under the run's work dir."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp}",
        }
        if self.args.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            " ".join(f'--conf "{k}={v}"' for k, v in conf.items()) + " pyspark-shell"
        )
        os.environ["TMPDIR"] = tmp
        # every JVM (the launcher too) would otherwise keep a perf-data
        # file under /tmp/hsperfdata_<user>
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        # each workload's own warm pass replaces the session's generic
        # warm-up, which costs ~20 s on 4 cores
        os.environ["SPARK_GRAFT_WARMUP"] = "0"
        from rendler_spark.session import get_spark

        t0 = time.monotonic()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                f"local[{self.nproc}]", "perfbench", shuffle_partitions=self.nproc
            )
        self.layer["session.get_spark_s"] = time.monotonic() - t0
        return self.spark

    def stop_spark(self) -> None:
        from instruments import read_event_log, stop_spark

        spark, self.spark = self.spark, None
        if spark is None:
            return
        stop_spark(spark, self.rss)
        if self.args.trace:
            self.events = read_event_log(os.path.join(self.work, "eventlog"))

    def spark_stats(self, spans: list[dict], per: int = 1) -> None:
        from instruments import spark_stats

        stats = spark_stats(self.events, [(s["start"], s["end"]) for s in spans])
        for k, v in stats.items():
            self.layer[f"spark.{k}"] = v / per

    def end_setup(self) -> None:
        self.e2e["setup_s"] = time.monotonic() - T_START
        self.named["setup_s"] = (self.e2e["setup_s"], "s")

    def end_timed(self) -> None:
        peak = self.rss.stop()
        self.layer["process.peak_rss_mb"] = peak
        self.named["peak_rss_mb"] = (peak, "MB")


# ------------------------------------------------------------- crawl


def run_crawl(r: Run) -> None:
    import check
    from rendler_spark.engine import CrawlEngine
    from rendler_spark.operators.export_graph import export_dot_distributed
    from rendler_spark.synthweb import WebConfig

    cfg = WebConfig(seed=r.args.seed, **CRAWL)
    spark = r.start_spark()
    tr = r.tracer
    wh = os.path.join(r.work, "warehouse")
    eng = CrawlEngine(spark, cfg, wh, n_partitions=r.nproc)
    eng.profile = bool(r.args.trace)

    t0 = time.monotonic()
    with tr.span("engine.init"):
        eng.init()
    r.layer["engine.init_s"] = time.monotonic() - t0

    stats, wall = [], []
    for w in range(WAVES):
        if w == 1:
            r.end_setup()
        t0 = time.monotonic()
        with tr.span("engine.run_wave", wave=w):
            s = eng.run_wave(w)
        wall.append(time.monotonic() - t0)
        r.attempted += 1
        if s is None:
            raise RuntimeError(f"frontier exhausted at wave {w}")
        stats.append(s)
        r.layer[f"engine.wave{w}_s"] = wall[-1]
    timed = stats[1:]
    urls_per_s = sum(s["n_fetched"] for s in timed) / sum(wall[1:])
    r.detail["wave_s"] = wall

    out = os.path.join(r.work, "export")
    t0 = time.monotonic()
    with tr.span("export.export_dot_distributed"):
        export_dot_distributed(
            eng.wh.read(spark, "edges"), eng.wh.read(spark, "images"), out,
            path=f"{out}.dot",
        )
    export_s = time.monotonic() - t0
    r.attempted += 1
    r.end_timed()
    with open(f"{out}.dot") as f:
        dot = check.export_observed(f.read())

    r.e2e["items_per_s"] = urls_per_s
    r.layer["export.export_s"] = export_s
    r.named |= {"urls_per_s": (urls_per_s, "URL/s"), "export_s": (export_s, "s")}

    if r.args.trace:
        import probes

        for k in PHASES:
            r.layer[f"engine.phase.{k}_s"] = sum(p.get(k, 0.0) for p in eng.phase_times[1:])
        for key, stat in (("fetched", "n_fetched"), ("links", "n_links"),
                          ("new", "n_new"), ("blocked", "n_robots_blocked")):
            r.layer[f"engine.{key}"] = sum(s[stat] for s in timed)
        r.layer["engine.new_per_link"] = r.layer["engine.new"] / max(1, r.layer["engine.links"])
        last = WAVES - 1
        for name, fn in (
            ("render", lambda: probes.render(cfg, wh, last)),
            ("urlnorm", lambda: probes.canonicalize(wh, last)),
            ("seenfilter", lambda: probes.seen_filter(eng, wh, last)),
            ("politeness", lambda: probes.politeness(spark, eng, WAVES)),
            ("warehouse", lambda: probes.warehouse(spark, eng)),
        ):
            with tr.span(f"probe.{name}"):
                r.layer |= fn()
        r.layer["export.nodes"] = dot["nodes"]
        r.layer["export.edges"] = dot["edges"]

    r.stop_spark()
    if r.args.trace:
        r.spark_stats(tr.find("engine.run_wave")[1:])

    from multiprocessing import get_context

    with tr.span("check.crawl"), get_context("spawn").Pool(r.nproc) as pool:
        expected = check.crawl_expected(cfg, WAVES, pool)
    bad = check.compare_crawl(expected, check.crawl_observed(wh, stats))
    if bad:
        r.failed += WAVES
        r.mismatches += bad
    want = check.export_expected(expected)
    if dot != want:
        r.failed += 1
        r.mismatches.append(f"export: {dot} vs {want} expected")


# ------------------------------------------------------------- queries


def run_queries(r: Run) -> None:
    import check
    from rendler_spark.queries import ORACLE, QUERIES

    rng = random.Random(r.args.seed)
    spark = r.start_spark()
    tr = r.tracer

    def one_pass() -> dict[str, float]:
        order = list(HEADLINE)
        rng.shuffle(order)
        out = {}
        for name in order:
            t0 = time.monotonic()
            with tr.span("queries.run", query=name):
                QUERIES[name](spark, TABLES).write.format("noop").mode("overwrite").save()
            out[name] = time.monotonic() - t0
        return out

    with tr.span("queries.warm_pass"):
        got = {name: QUERIES[name](spark, TABLES).toPandas() for name in HEADLINE}
    r.end_setup()
    passes = []
    for _ in range(PASSES):
        with tr.span("queries.pass"):
            passes.append(one_pass())
    r.end_timed()
    # each query's fastest timed run: passes keep getting faster for
    # several passes (JIT warm-up) and host stalls only add time, so the
    # minimum is the steady-state time; the pass is the sum of those
    for name in HEADLINE:
        r.layer[f"queries.{name}_s"] = min(p[name] for p in passes)
    pass_s = sum(r.layer[f"queries.{name}_s"] for name in HEADLINE)
    r.e2e["items_per_s"] = len(HEADLINE) / pass_s
    r.named |= {
        "query_pass_s": (pass_s, "s"),
        "q_minhash_pairs_s": (r.layer["queries.q_minhash_pairs_s"], "s"),
    }
    r.detail["pass_s"] = [sum(p.values()) for p in passes]

    r.stop_spark()
    if r.args.trace:
        r.spark_stats(tr.find("queries.pass"), per=len(passes))

    # the warm pass's results are the ones checked (the timed passes
    # write to the noop sink), so each query counts once
    import duckdb
    import pyarrow.parquet as pq

    with tr.span("check.oracle"):
        con = duckdb.connect()
        for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{TABLES}/{t}.parquet'")
        for name in HEADLINE:
            r.attempted += 1
            if name in ORACLE:
                want = con.sql(ORACLE[name]).df()
            else:
                want = check.minhash_pairs_expected(
                    pq.read_table(f"{TABLES}/documents.parquet").to_pandas()
                )
            bad = check.compare_frames(name, got[name], want)
            if bad:
                r.failed += 1
                r.mismatches += bad
        con.close()


WORKLOADS = {"crawl": run_crawl, "queries": run_queries}


# ------------------------------------------------------------- main


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    from bench import hw_ceiling_anchor
    from instruments import end_children

    r = Run(args)
    try:
        WORKLOADS[args.workload](r)
        anchor = hw_ceiling_anchor(r.nproc, rounds=10_000)
        host = {
            "nproc": r.nproc,
            "anchor_single_rps": anchor["single_rps"],
            "anchor_pool_rps": anchor[f"pool{r.nproc}_rps"],
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        r.rss.stop()
        r.stop_spark()
        end_children()
        if args.trace:
            r.tracer.dump(
                os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json")
            )
        shutil.rmtree(r.work, ignore_errors=True)

    for k, v in host.items():
        r.layer[f"host.{k}"] = v
    for k, v in r.e2e.items():
        r.layer[f"traced.{k}"] = v
    r.named["failed_frac"] = (r.failed / r.attempted, "ratio")
    for m in r.mismatches:
        print(f"MISMATCH {m}")
    print("host " + " ".join(f"{k}={v:.1f}" for k, v in host.items()))
    for k, v in r.detail.items():
        print(f"detail {k} " + " ".join(f"{x:.3f}" for x in v))
    for k, (v, unit) in r.named.items():
        print(f"metric {k} {v:.6g} {unit}")
    if args.trace:
        for k, unit in PER_LAYER.items():
            print(f"layer {k} {r.layer[k]:.6g} {unit}")
    values, units = (r.layer, PER_LAYER) if args.trace else (r.e2e, END_TO_END)
    print(json.dumps({
        "correct": not r.mismatches and r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
