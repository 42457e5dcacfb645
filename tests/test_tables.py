import json

import pytest

from rendler_spark.sources.tables import Warehouse


@pytest.fixture()
def wh(tmp_path):
    return Warehouse(tmp_path / "wh")


def _write(spark, wh, table, wave, n, partition_by=None):
    df = spark.range(n).withColumnRenamed("id", "v")
    if partition_by:
        import pyspark.sql.functions as F

        df = df.withColumn("bucket", F.pmod("v", F.lit(4)).cast("int"))
    wh.overwrite_partition(table, wave, df, partition_by=partition_by)


def test_partition_roundtrip_and_pruning(spark, wh):
    _write(spark, wh, "t", 0, 10)
    _write(spark, wh, "t", 1, 20)
    assert wh.read(spark, "t", wave=0).count() == 10
    assert wh.read(spark, "t", upto=1).count() == 30
    # wave surfaces as a partition column
    assert set(wh.read(spark, "t").select("wave").distinct().toPandas()["wave"]) == {0, 1}


def test_overwrite_is_idempotent(spark, wh):
    _write(spark, wh, "t", 0, 10)
    _write(spark, wh, "t", 0, 7)  # re-run of the same wave
    assert wh.read(spark, "t", wave=0).count() == 7


def test_sub_partitioning(spark, wh):
    _write(spark, wh, "t", 0, 40, partition_by=["bucket"])
    assert (wh.part_dir("t", 0) / "bucket=2").exists()
    df = wh.read(spark, "t", wave=0)
    assert df.count() == 40
    # bucket filter prunes to one subdir worth of rows
    assert df.filter("bucket = 2").count() == 10


def test_read_with_known_schema(spark, wh):
    """``read(schema=...)`` launches no schema-inference job (without it,
    Spark reads the footers in a job), and a file-less partition dir — a
    zero-row partitioned write — reads as an empty frame of that schema."""
    import pyspark.sql.functions as F

    schema = "v bigint, wave int, bucket int"  # partition cols in path order
    _write(spark, wh, "t", 0, 40, partition_by=["bucket"])
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("read_inferred", "read_inferred")
        inferred = wh.read(spark, "t", wave=0)
        sc.setJobGroup("read_known", "read_known")
        df = wh.read(spark, "t", wave=0, schema=schema)
    finally:
        sc._jsc.clearJobGroup()
    assert tracker.getJobIdsForGroup("read_inferred")
    assert tracker.getJobIdsForGroup("read_known") == []
    assert df.schema == inferred.schema
    assert df.schema.simpleString() == "struct<v:bigint,wave:int,bucket:int>"
    assert df.count() == 40 and df.filter("bucket = 2 AND wave = 0").count() == 10

    wh.overwrite_partition(
        "t", 1, spark.range(0).withColumnRenamed("id", "v")
        .withColumn("bucket", F.lit(0)), partition_by=["bucket"]
    )
    assert not any(wh.part_dir("t", 1).rglob("*.parquet"))
    empty = wh.read(spark, "t", wave=1, schema=schema)
    assert empty.schema == inferred.schema
    assert empty.count() == 0


def test_partition_rows_from_footers(spark, wh):
    """Footer counts: totals (sub-partitioned and empty writes too) and
    per-key counts; a row group that mixes keys fails loudly."""
    import pyspark.sql.functions as F

    _write(spark, wh, "t", 0, 40, partition_by=["bucket"])
    assert wh.partition_rows("t", 0) == 40
    wh.overwrite_partition(
        "t", 1, spark.range(0).withColumn("bucket", F.lit(0)), partition_by=["bucket"]
    )
    assert wh.partition_rows("t", 1) == 0
    keyed = spark.range(30).repartition(3).withColumn("part_id", F.spark_partition_id())
    wh.overwrite_partition("log", 0, keyed)
    want = {r["part_id"]: r["count"] for r in keyed.groupBy("part_id").count().collect()}
    assert wh.partition_rows("log", 0, by="part_id") == want
    wh.overwrite_partition("log", 1, keyed.coalesce(1))
    with pytest.raises(AssertionError, match="mixes part_id"):
        wh.partition_rows("log", 1, by="part_id")


def test_manifest_commit_and_last_version(spark, wh):
    assert wh.last_version() is None
    wh.commit(0, {"kind": "init"})
    wh.commit(1, {"kind": "wave", "n": 5})
    assert wh.last_version() == 1
    assert wh.manifest(1)["n"] == 5
    assert [m["version"] for m in wh.all_manifests()] == [0, 1]
    # manifest files are valid JSON on disk
    raw = json.loads((wh.root / "_manifests" / "v000001.json").read_text())
    assert raw["kind"] == "wave"


def test_truncate(spark, wh):
    for w in range(3):
        _write(spark, wh, "frontier", w, 5)
        _write(spark, wh, "images", w, 5)
        wh.commit(w, {"kind": "x"})
    wh.truncate(1)
    assert wh.last_version() == 1
    # state table keeps wave<=1; output table keeps wave<1
    assert wh.exists("frontier", 1) and not wh.exists("frontier", 2)
    assert wh.exists("images", 0) and not wh.exists("images", 1)


def test_read_as_of_time_travel(spark, wh):
    """VERSION AS OF semantics: state tables include their own version's
    wave; output tables only waves committed BY that version (wave w's
    outputs commit at w+1)."""
    _write(spark, wh, "seen", 0, 5)     # state table
    _write(spark, wh, "edges", 0, 3)    # output of wave 0
    wh.commit(0, {"kind": "init"})
    _write(spark, wh, "seen", 1, 7)
    _write(spark, wh, "edges", 1, 4)
    wh.commit(1, {})
    wh.commit(2, {})
    assert wh.read_as_of(spark, "seen", 0).count() == 5
    assert wh.read_as_of(spark, "seen", 1).count() == 12
    assert wh.read_as_of(spark, "edges", 1).count() == 3   # only wave 0
    assert wh.read_as_of(spark, "edges", 2).count() == 7


def test_expire_snapshots_bounds_metadata_keeps_resume(spark, wh):
    for v in range(6):
        _write(spark, wh, "seen", v, 2)
        wh.commit(v, {"n_frontier_next": v})
    removed = wh.expire_snapshots(keep_last=2)
    assert removed == 4
    assert wh.first_version() == 4 and wh.last_version() == 5
    assert [m["version"] for m in wh.all_manifests()] == [4, 5]
    # resume metadata (latest manifest) intact; data dirs untouched
    assert wh.manifest(5)["n_frontier_next"] == 5
    assert wh.read(spark, "seen").count() == 12
    # time travel within the retained horizon still works
    assert wh.read_as_of(spark, "seen", 4).count() == 10


def test_rewrite_data_files_binpacks_and_preserves_rows(spark, tmp_path):
    """Small-files maintenance: many files per wave dir (one stream
    micro-batch or high-parallelism write each) bin-pack down to the
    byte-target count; rows, schema, partition columns, and as-of reads
    are unchanged; sub-partitioned (shard=) tables rewrite per leaf."""
    import pyspark.sql.functions as F

    from rendler_spark.sources.tables import Warehouse

    wh = Warehouse(str(tmp_path / "wh_rw"))
    df = spark.range(0, 2000).select(
        F.col("id"), F.pmod("id", F.lit(4)).cast("int").alias("shard")
    )
    for wave in range(3):
        wh.overwrite_partition("seen", wave, df.repartition(8), ["shard"])
        wh.commit(wave, {"kind": "wave"})
    before = {
        (r["id"], r["shard"], r["wave"])
        for r in wh.read(spark, "seen").collect()
    }
    n_files_before = len(list((tmp_path / "wh_rw" / "seen").rglob("*.parquet")))
    stats = wh.rewrite_data_files(spark, "seen", target_bytes=128 << 20)
    assert stats["rewritten"] == 12  # 3 waves x 4 shard leaves
    assert stats["files_after"] < stats["files_before"] == n_files_before
    n_files_after = len(list((tmp_path / "wh_rw" / "seen").rglob("*.parquet")))
    assert n_files_after == stats["files_after"] == 12  # 1 file per leaf
    after = {
        (r["id"], r["shard"], r["wave"])
        for r in wh.read(spark, "seen").collect()
    }
    assert after == before
    assert wh.read_as_of(spark, "seen", 1).count() == 2 * 2000
    # idempotent: a second pass rewrites nothing
    assert wh.rewrite_data_files(spark, "seen")["rewritten"] == 0


def test_rewrite_data_files_crash_repair(spark, tmp_path):
    """Self-repair: a crash that left <dir>.__old__ without its main dir
    (or a stray .__rewrite__) is healed on the next call with no row
    loss."""
    import os
    import shutil

    from rendler_spark.sources.tables import Warehouse

    wh = Warehouse(str(tmp_path / "wh_cr"))
    df = spark.range(0, 500)
    wh.overwrite_partition("edges", 0, df.repartition(4))
    wh.commit(0, {"kind": "wave"})
    d = wh.part_dir("edges", 0)
    # simulate: crash after moving old aside, before new moved in
    os.replace(d, d.with_name(d.name + ".__old__"))
    shutil.os.makedirs(d.with_name(d.name + ".__rewrite__"))
    stats = wh.rewrite_data_files(spark, "edges")
    assert wh.read(spark, "edges").count() == 500
    assert not list((tmp_path / "wh_cr" / "edges").glob("*__old__*"))
    assert not list((tmp_path / "wh_cr" / "edges").glob("*__rewrite__*"))
    assert stats["rewritten"] == 1  # repaired dir then bin-packed 4->1
