"""A6 / BASELINE.json:L14: exact resume from per-wave checkpoint.

Full run vs (partial run -> kill -> resume) must produce identical final
tables — content-identical row sets including image bytes.
"""

import shutil

import pytest

from rendler_spark import synthweb
from rendler_spark.engine import CrawlEngine
from rendler_spark.sources.tables import Warehouse

CFG = synthweb.WebConfig()
WAVES = 3
#: the manifest counts read back from the written partitions' footers
COUNT_KEYS = (
    "n_frontier", "n_fetched", "n_deferred", "n_links", "n_new",
    "n_robots_blocked", "n_frontier_next", "n_total_fetched", "partitions",
)


def _table_rows(spark, eng, table, cols):
    return sorted(
        tuple(bytes(r[c]) if isinstance(r[c], (bytes, bytearray)) else r[c] for c in cols)
        for r in eng.wh.read(spark, table).select(*cols).collect()
    )


@pytest.fixture(scope="module")
def full(spark, tmp_path_factory):
    """The uninterrupted reference crawl every resume is compared with."""
    eng = CrawlEngine(spark, CFG, str(tmp_path_factory.mktemp("full") / "wh"))
    eng.run(WAVES)
    return eng


def test_kill_and_resume_bit_identical(spark, tmp_path, full):
    part = CrawlEngine(spark, CFG, str(tmp_path / "part"))
    part.run(2)  # "crash" after wave-1 commit
    # simulate an uncommitted partial write of the next wave: garbage in
    # wave=2 dirs must be overwritten on resume (idempotent re-run)
    garbage = part.wh.part_dir("images", 2)
    garbage.mkdir(parents=True, exist_ok=True)
    (garbage / "junk.txt").write_text("partial uncommitted write")

    stats = CrawlEngine.resume(spark, CFG, str(tmp_path / "part"), WAVES)
    assert [s["wave"] for s in stats] == [2]

    resumed = CrawlEngine(spark, CFG, str(tmp_path / "part"))
    checks = {
        "seen": ("url", "depth", "seq", "blocked"),
        "edges": ("src", "dst", "wave"),
        "fetch_log": ("wave", "host", "depth", "seq", "url"),
        "images": ("image_id", "bytes", "w", "h", "fmt", "caption", "phash"),
        "frontier": ("url", "host", "depth", "seq"),
    }
    for table, cols in checks.items():
        assert _table_rows(spark, full, table, cols) == _table_rows(
            spark, resumed, table, cols
        ), table
    assert full.wh.last_version() == resumed.wh.last_version() == WAVES
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_snapshot_keep_bounds_manifests_and_stays_identical(spark, tmp_path, full):
    """snapshot_keep expires old manifests after each wave commit; the
    crawl's outputs are unchanged vs the default engine and resume from
    the latest (retained) manifest still works."""
    kept = CrawlEngine(spark, CFG, str(tmp_path / "kept"), snapshot_keep=2)
    kept.run(2)
    assert kept.wh.first_version() == kept.wh.last_version() - 1  # expired
    stats = CrawlEngine.resume(spark, CFG, str(tmp_path / "kept"), WAVES)
    assert [s["wave"] for s in stats] == [2]

    resumed = CrawlEngine(spark, CFG, str(tmp_path / "kept"))
    for table, cols in {
        "seen": ("url", "depth", "seq", "blocked"),
        "edges": ("src", "dst", "wave"),
        "images": ("image_id", "bytes", "caption", "phash"),
    }.items():
        assert _table_rows(spark, full, table, cols) == _table_rows(
            spark, resumed, table, cols
        ), table
    shutil.rmtree(tmp_path, ignore_errors=True)


#: where wave 1 is made to crash: each table write (images/edges/
#: fetch_log at wave 1, seen/frontier at wave 2), the Bloom fold, the commit
CRASH_AT = ("images", "fetch_log", "edges", "seen", "frontier", "_update_bloom", "commit")


@pytest.mark.parametrize("phase", CRASH_AT)
def test_failed_wave_releases_caches_and_resumes_exactly(
    spark, tmp_path, full, monkeypatch, phase
):
    """A wave that fails at any phase leaves no cached frame behind, and
    resuming from the last commit gives the uninterrupted crawl's tables
    and manifest counts.  Every crash after the first write leaves stale
    partition files behind, which the re-run must replace, not add to."""

    def persisted():  # other tests' leftovers may be there already
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    def crash(*a, **kw):
        raise OSError(f"injected {phase} failure")

    before = persisted()
    wh = str(tmp_path / "crash")
    eng = CrawlEngine(spark, CFG, wh)
    eng.init()
    eng.run_wave(0)
    if phase == "_update_bloom":
        monkeypatch.setattr(CrawlEngine, "_update_bloom", crash)
    elif phase == "commit":
        monkeypatch.setattr(Warehouse, "commit", crash)
    else:
        real = Warehouse.overwrite_partition
        at = 2 if phase in Warehouse.STATE_TABLES else 1

        def failing(self, table, wave, *a, **kw):
            if (table, wave) == (phase, at):
                crash()
            return real(self, table, wave, *a, **kw)

        monkeypatch.setattr(Warehouse, "overwrite_partition", failing)
    with pytest.raises(OSError, match="injected"):
        eng.run_wave(1)
    monkeypatch.undo()
    assert persisted() <= before
    assert eng.wh.last_version() == 1

    stats = CrawlEngine.resume(spark, CFG, wh, WAVES)
    assert [s["wave"] for s in stats] == [1, 2]
    resumed = CrawlEngine(spark, CFG, wh)
    for table, cols in {
        "seen": ("url", "depth", "seq", "blocked"),
        "frontier": ("url", "host", "depth", "seq"),
        "edges": ("src", "dst", "wave"),
        "fetch_log": ("wave", "host", "depth", "seq", "url", "part_id"),
        "images": ("image_id", "bytes", "w", "h", "fmt", "caption", "phash"),
    }.items():
        assert _table_rows(spark, full, table, cols) == _table_rows(
            spark, resumed, table, cols
        ), table
    for v in (2, 3):
        want, got = full.wh.manifest(v), resumed.wh.manifest(v)
        assert {k: got[k] for k in COUNT_KEYS} == {k: want[k] for k in COUNT_KEYS}, v
