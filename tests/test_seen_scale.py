"""Seen-table scale mechanics: shard sub-partitioning, the prefilter
fold, and wave compaction (VERDICT r1 #4).

The seen set is the one table every wave re-reads; these tests pin that
(a) it is written Hive-sub-partitioned by shard, so a shard predicate
prunes the scan, (b) the driver's prefilter fold of a written wave
partition builds the same shard blobs as the distributed build, and
(c) compaction snapshots replace the O(waves) delta re-scan without
changing semantics or breaking resume.
"""

import pyspark.sql.functions as F
import pytest

from oracle_rendler import run_oracle
from rendler_spark import synthweb
from rendler_spark.engine import SEEN_READ_SCHEMA, CrawlEngine
from rendler_spark.operators import seenfilter

CFG = synthweb.WebConfig()  # t1 smoke tier


def _explain(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_seen_sharded_and_shard_predicate_pruned(spark, tmp_path):
    """seen is written in shard sub-dirs, and a shard filter over the
    seen read reaches the parquet scan as a PartitionFilter (not a
    post-scan row filter)."""
    eng = CrawlEngine(spark, CFG, str(tmp_path / "wh"))
    eng.run(1)
    # Hive shard sub-dirs exist inside the wave partition
    shard_dirs = list((eng.wh.part_dir("seen", 0)).glob("shard=*"))
    assert shard_dirs, "seen/wave=0 not sub-partitioned by shard"
    # a shard predicate over the seen read is partition-pruned
    pruned = eng._read_seen(1).filter(F.col("shard").isin([1, 2, 3]))
    plan = _explain(pruned)
    part_section = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "shard" in part_section, plan


@pytest.mark.parametrize("kind", seenfilter.KINDS)
def test_driver_fold_matches_distributed_build(spark, tmp_path, kind):
    """The wave fold's pyarrow driver build and the applyInPandas build
    give byte-identical blobs, shard by shard, for either filter kind."""
    eng = CrawlEngine(spark, CFG, str(tmp_path / kind), filter_kind=kind)
    eng.run(1)
    n_rows = eng.wh.partition_rows("seen", 1)
    added = eng.wh.read(spark, "seen", wave=1, schema=SEEN_READ_SCHEMA)
    builds = []
    for fold_args in ((eng.wh.part_dir("seen", 1), n_rows), ()):
        eng._shard_blobs = {}
        eng._update_bloom(added, *fold_args)
        builds.append(eng._shard_blobs)
    driver, distributed = builds
    assert n_rows > 0 and len(driver) > 1
    assert driver.keys() == distributed.keys()
    for shard, blob in driver.items():
        assert blob == distributed[shard], shard


def test_compaction_preserves_semantics_and_resume(spark, tmp_path):
    """seen_compact snapshots: same seen set as the oracle, same rows as
    the raw wave union, resume keeps working past a compaction point."""
    wh = str(tmp_path / "whc")
    eng = CrawlEngine(spark, CFG, wh, seen_compact_every=2)
    eng.run(4)
    assert eng.wh.exists("seen_compact", 2) and eng.wh.exists("seen_compact", 4)
    raw = {
        (r["url"], r["blocked"])
        for r in eng.wh.read(spark, "seen", upto=4).select("url", "blocked").collect()
    }
    via_compact = {
        (r["url"], r["blocked"])
        for r in eng._read_seen(4).select("url", "blocked").collect()
    }
    assert raw == via_compact
    oracle = run_oracle(CFG, 4)
    assert {u for u, _ in via_compact} == oracle.seen
    # resume from the compacted state and keep crawling
    more = CrawlEngine.resume(spark, CFG, wh, 6, seen_compact_every=2)
    assert more and more[0]["wave"] == 4
    oracle6 = run_oracle(CFG, 6)
    eng2 = CrawlEngine(spark, CFG, wh, seen_compact_every=2)
    got = {r["url"] for r in eng2.wh.read(spark, "seen").select("url").collect()}
    assert got == oracle6.seen


def test_compaction_off_by_zero(spark, tmp_path):
    eng = CrawlEngine(spark, CFG, str(tmp_path / "wh0"), seen_compact_every=0)
    eng.run(2)
    assert not eng.wh.exists("seen_compact")
