"""M2/M3 equivalence gates (SURVEY.md §5.2.2, BASELINE.json:L6):

engine (distributed waves) vs oracle (sequential reference loop) on the
same synthetic web:

  * identical per-host BFS fetch order
  * identical final URL-seen set
  * identical edge multiset
  * per-row image equality: decoded-pixel allclose (byte-identical for
    lossless; PSNR>=40dB vs source pixels for qlossy) + caption equality
"""

import numpy as np
import pytest

from oracle_rendler import run_oracle
from rendler_spark import codecs, synthweb
from rendler_spark.engine import CrawlEngine

CFG = synthweb.WebConfig()  # t1 smoke tier (FIXTURES.md §1)
WAVES = 3


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh") / "t1")
    eng = CrawlEngine(spark, CFG, wh)
    stats = eng.run(WAVES)
    oracle = run_oracle(CFG, WAVES)
    return eng, stats, oracle


def test_fetch_order_exact(run, spark):
    eng, _, oracle = run
    rows = eng.wh.read(spark, "fetch_log").collect()
    got = sorted((r["wave"], r["host"], r["depth"], r["seq"], r["url"]) for r in rows)
    assert got == sorted(oracle.fetch_order)


def test_seen_set_identical(run, spark):
    eng, _, oracle = run
    got = {r["url"] for r in eng.wh.read(spark, "seen").select("url").collect()}
    assert got == oracle.seen


def test_blocked_set_identical(run, spark):
    eng, _, oracle = run
    got = {
        r["url"]
        for r in eng.wh.read(spark, "seen").filter("blocked").select("url").collect()
    }
    assert got == oracle.blocked


def test_edges_multiset_identical(run, spark):
    eng, _, oracle = run
    got = sorted(
        (r["src"], r["dst"], r["wave"]) for r in eng.wh.read(spark, "edges").collect()
    )
    assert got == sorted(oracle.edges)


def test_images_per_row_fidelity(run, spark):
    eng, _, oracle = run
    rows = eng.wh.read(spark, "images").collect()
    assert len(rows) == len(oracle.images)
    for r in rows:
        ob, ow, oh, ofmt, oph, ocap = oracle.images[r["image_id"]]
        assert (bytes(r["bytes"]), r["w"], r["h"], r["fmt"], r["phash"]) == (
            ob, ow, oh, ofmt, oph,
        )
        assert r["caption"] == ocap
        # decoded-pixel gate vs the SOURCE pixels (BASELINE.json:L15)
        hi, pj, _ = synthweb.parse_url(__import__("pandas").Series([r["image_id"]]))
        src = synthweb.render_pixels(CFG, int(hi[0]), int(pj[0]))
        dec = codecs.decode(bytes(r["bytes"]), r["fmt"])
        if r["fmt"] == "qlossy":
            assert codecs.psnr(src, dec) >= 40.0
        else:
            assert np.array_equal(src, dec)


def test_metrics_and_manifests(run, spark):
    eng, stats, oracle = run
    assert [s["n_fetched"] for s in stats] == [m["n_fetched"] for m in oracle.metrics]
    assert [s["n_robots_blocked"] for s in stats] == [
        m["n_robots_blocked"] for m in oracle.metrics
    ]
    # manifests: version 0 (init) + one per wave, with per-partition lineage
    # that matches the written tables row for row
    assert eng.wh.last_version() == len(stats)
    for w in range(len(stats)):
        man = eng.wh.manifest(w + 1)
        assert man["kind"] == "wave"
        log = eng.wh.read(spark, "fetch_log", wave=w)
        assert man["partitions"] == {
            str(r["part_id"]): r["count"]
            for r in log.groupBy("part_id").count().collect()
        }
        assert sum(man["partitions"].values()) == man["n_fetched"]
        seen = eng.wh.read(spark, "seen", wave=w + 1)
        assert man["n_robots_blocked"] == seen.filter("blocked").count()
        assert man["n_links"] == eng.wh.read(spark, "edges", wave=w).count()


def test_export_graph(run, spark, tmp_path):
    """A5/C4: GraphViz export — edges kept iff BOTH endpoints rendered;
    the distributed (write.text) path is byte-identical to the
    driver-assembled path; nodes carry the thumbnail image attribute."""
    from rendler_spark.operators.export_graph import (
        export_dot, export_dot_distributed, rendered_edges,
    )

    eng, _, oracle = run
    edges = eng.wh.read(spark, "edges")
    images = eng.wh.read(spark, "images")
    got = {(r["src"], r["dst"]) for r in rendered_edges(edges, images).collect()}
    want = {
        (s, d) for s, d, _ in oracle.edges if s in oracle.images and d in oracle.images
    }
    assert got == want
    dot = export_dot(edges, images, str(tmp_path / "result.dot"))
    assert dot.startswith("digraph G {") and dot.rstrip().endswith("}")
    assert dot.count(" -> ") == len(want)
    assert dot.count('image="images/') == images.count()  # thumbnail attrs
    assert (tmp_path / "result.dot").exists()
    # distributed path: same bytes, no row ever collected to the driver
    dist = export_dot_distributed(edges, images, str(tmp_path / "dist"))
    assert dist == dot


def _explain(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.fixture(scope="module")
def multipart(spark, tmp_path_factory):
    """The t1 crawl with one URL per fetch task, so waves fetch on several
    partitions; records, per admission, the plan of the candidates it is
    handed and of the seen additions it returns (the seen-write input)."""
    wh = str(tmp_path_factory.mktemp("wh") / "t1_multipart")
    eng = CrawlEngine(spark, CFG, wh, rows_per_fetch_task=1)
    plans = []
    admit = eng._admit

    def recording_admit(candidates, seen):
        seen_add = admit(candidates, seen)
        plans.append((_explain(spark, candidates), _explain(spark, seen_add)))
        return seen_add

    eng._admit = recording_admit
    stats = eng.run(WAVES)
    return eng, stats, plans


def test_multi_partition_lineage(multipart, spark):
    """Per-partition lineage on waves that fetch on several partitions:
    each manifest's ``partitions`` matches fetch_log row for row."""
    eng, stats, _ = multipart
    assert len(stats) == WAVES
    assert max(len(s["partitions"]) for s in stats) > 1
    for s in stats:
        log = eng.wh.read(spark, "fetch_log", wave=s["wave"])
        assert s["partitions"] == {
            str(r["part_id"]): r["count"]
            for r in log.groupBy("part_id").count().collect()
        }, s["wave"]
    got = {r["url"] for r in eng.wh.read(spark, "seen").select("url").collect()}
    assert got == run_oracle(CFG, WAVES).seen


def test_wave_candidate_plan_has_no_python(multipart):
    """The fetch kernel is the wave's only Python stage: neither the
    candidate sub-plan (links → canonical URLs → first-wins) nor the
    admission plan the seen write runs (prefilter split, exact
    anti-join, robots gate) holds a Python eval — the kernel already
    probed the seen prefilter for every link."""
    _, _, plans = multipart
    assert len(plans) == WAVES + 1  # init + one per wave
    for cand, _ in plans[1:]:
        assert "MapInArrow" in cand, cand  # the plan shows the kernel's lineage
    for cand, seen_add in plans:
        for p in (cand, seen_add):
            assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_max_render_tasks_cap(spark, tmp_path):
    """B4: the reference's global render cutoff [upstream: python/rendler.py
    ~L120-135] as crawl_semantics rule 7 — a binding cumulative cap must
    split a wave deterministically and stop the crawl, matching the oracle
    simulator grown with the same knob."""
    cap = 9  # binds mid-wave-2 on t1 (uncapped fetches are 2, 5, 7, ...)
    eng = CrawlEngine(spark, CFG, str(tmp_path / "cap"), max_render_tasks=cap)
    stats = eng.run(6)
    oracle = run_oracle(CFG, 6, max_render_tasks=cap)
    assert sum(s["n_fetched"] for s in stats) == cap
    assert stats[-1]["n_total_fetched"] == cap
    rows = eng.wh.read(spark, "fetch_log").collect()
    got = sorted((r["wave"], r["host"], r["depth"], r["seq"], r["url"]) for r in rows)
    assert got == sorted(oracle.fetch_order)
    seen = {r["url"] for r in eng.wh.read(spark, "seen").select("url").collect()}
    assert seen == oracle.seen
    # the cap-deferred remainder stays in the frontier, resumable — and
    # matches the oracle's post-cap frontier exactly
    got_frontier = sorted(
        (r["url"], r["depth"], r["seq"])
        for r in eng.wh.read(spark, "frontier", wave=len(stats)).collect()
    )
    want_frontier = sorted((u, d, s) for u, _, d, s in oracle.frontier)
    assert got_frontier == want_frontier and len(got_frontier) > 0


def _rows(spark, eng, table, wave, where=None) -> int:
    """Spark count of one written partition; a zero-row partitioned write
    leaves no data file (and no schema) behind, so it counts 0."""
    if not any(eng.wh.part_dir(table, wave).rglob("*.parquet")):
        return 0
    df = eng.wh.read(spark, table, wave=wave)
    return (df.filter(where) if where else df).count()


def test_zero_addition_wave_counts_and_exhaustion(spark, tmp_path):
    """A tiny web whose crawl has a wave that admits nothing and then runs
    dry: every wave's footer-read counts equal the tables read back, the
    crawl stops on its own, and its seen set matches the oracle."""
    cfg = synthweb.WebConfig(n_hosts=2, pages_per_host=4, n_seeds=1)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "tiny"))
    stats = eng.run(50)
    assert any(s["n_new"] == 0 for s in stats), (
        "the tiny web no longer has a zero-addition wave"
    )
    assert stats[-1]["n_frontier_next"] == 0 and len(stats) < 50
    oracle = run_oracle(cfg, 50)
    got = {r["url"] for r in eng.wh.read(spark, "seen").select("url").collect()}
    assert got == oracle.seen
    for s in stats:
        w = s["wave"]
        assert s["n_new"] == _rows(spark, eng, "seen", w + 1), w
        assert s["n_robots_blocked"] == _rows(spark, eng, "seen", w + 1, "blocked"), w
        assert s["n_frontier_next"] == _rows(spark, eng, "frontier", w + 1), w


def test_wave_phases_time_and_name_their_jobs(spark, tmp_path):
    """The wave runner times every phase into ``phase_times`` and runs
    each phase's Spark jobs in the job group ``w<wave>/<phase>``; the
    fetch_log and edges writes run on pool threads, which set the group
    themselves.  The group is cleared when the wave ends."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    groups = ("w1/job_images_udf", "w1/job_edges", "w1/job_seen")
    before = {g: set(tracker.getJobIdsForGroup(g)) for g in groups}
    eng = CrawlEngine(spark, CFG, str(tmp_path / "phases"))
    assert len(eng.run(2)) == 2
    phases = (
        "job_images_udf", "job_edges", "admit_plan", "job_seen",
        "job_frontier", "job_bloom", "job_compact", "job_metrics_commit",
        "cleanup",
    )
    assert [tuple(p) for p in eng.phase_times] == [phases, phases]
    assert all(s >= 0 for p in eng.phase_times for s in p.values())
    jobs = {g: set(tracker.getJobIdsForGroup(g)) - before[g] for g in groups}
    assert all(jobs.values()), jobs
    assert len(jobs["w1/job_edges"]) >= 2, jobs  # one write per pool thread
    assert sc.getLocalProperty("spark.jobGroup.id") is None
