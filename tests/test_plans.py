"""Physical-plan audits (the ".explain and iterate" discipline).

Correctness says the answer is right; these tests pin HOW Spark computes
it — the properties that decide whether the same query survives a 100x
scale-up: filters reaching the parquet scan, projection pruning the read
schema, the intended join strategies, top-k avoiding a full sort, and no
Python in JVM-expressible paths.
"""

import pytest

from rendler_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _formatted(spark, df):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _explain(spark, name):
    return _formatted(spark, QUERIES[name](spark, SF))


def test_filter_pushdown(spark):
    s = _explain(spark, "q_filter")
    assert "PushedFilters:" in s
    assert "l_shipdate" in s.split("PushedFilters:")[1][:400]
    assert "l_quantity" in s.split("PushedFilters:")[1][:400]


def test_projection_prunes_read_schema(spark):
    s = _explain(spark, "q_project")
    read = s.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read and "l_discount" in read
    assert "l_comment" not in read and "l_shipdate" not in read


def test_broadcast_join_strategy(spark):
    assert "BroadcastHashJoin" in _explain(spark, "q_broadcast_join")


def test_shuffle_hash_join_strategy(spark):
    assert "ShuffledHashJoin" in _explain(spark, "q_shuffle_join")


def test_merge_join_strategy(spark):
    assert "SortMergeJoin" in _explain(spark, "q_merge_join")


def test_anti_and_semi_join_strategies(spark):
    assert "LeftAnti" in _explain(spark, "q_anti_join")
    assert "LeftSemi" in _explain(spark, "q_semi_join")


def test_topk_avoids_full_sort(spark):
    s = _explain(spark, "q_topk")
    assert "TakeOrderedAndProject" in s
    assert "Exchange rangepartitioning" not in s  # no global sort shuffle


def test_partial_aggregation_present(spark):
    """Map-side combine: hash aggregate appears in partial+final pairs."""
    s = _explain(spark, "q_groupby_agg")
    assert s.count("HashAggregate") >= 2
    assert "partial" in s.lower()


def test_no_python_in_jvm_paths(spark):
    """Queries built from built-in functions must show NO Python eval."""
    for name in ("q_groupby_agg", "q_embed_norm", "q_string_fns", "q_session_gap"):
        s = _explain(spark, name)
        assert "ArrowEvalPython" not in s and "BatchEvalPython" not in s, name


def test_wholestage_codegen_spans(spark):
    df = QUERIES["q_groupby_agg"](spark, SF)
    df.collect()  # AQE final plan (with codegen ids) exists post-execution
    s = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark WholeStageCodegen spans in the plan string
    assert "isFinalPlan=true" in s and "*(" in s
    assert "*(2) HashAggregate" in s or "*(1) HashAggregate" in s


@pytest.mark.parametrize("name", ["q_limit", "q_order_by"])
def test_limits_are_limits(spark, name):
    s = _explain(spark, name)
    assert "TakeOrderedAndProject" in s or "GlobalLimit" in s


def test_range_join_avoids_nested_loop(spark):
    """The bucketized range join must plan as a hash equi-join; a naive
    non-equi condition would be a BroadcastNestedLoopJoin (quadratic)."""
    s = _explain(spark, "q_range_join")
    assert "BroadcastNestedLoopJoin" not in s
    assert ("BroadcastHashJoin" in s or "ShuffledHashJoin" in s
            or "SortMergeJoin" in s)


def test_embed_neardup_band_join_carries_no_vectors(spark):
    """The band self-join of embedding_near_duplicates must shuffle only
    (id, band, key) — full vectors and multi-word signatures are joined
    back AFTER pair dedup.  r2 carried both through the x8 band explode
    (~8x vector bytes of shuffle volume); this pins the slim plan: no
    exchange below the self-join materializes the embedding column."""
    import numpy as np
    import pandas as pd

    from rendler_spark.functions import similarity as S

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(64, 16)).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(64), "embedding": [v.tolist() for v in vecs]})
    )
    out = S.embedding_near_duplicates(df, "vec_id", "embedding", threshold=0.9)
    s = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # Every Exchange/BroadcastExchange whose Input carries the band
    # column feeds the candidate self-join; all must be vector- AND
    # signature-free (3 slim columns: id, band, key).  Strategy-agnostic:
    # at broadcast size the join plans as BroadcastExchange, at scale as
    # hashpartitioning — either way the Input list is what ships.
    exchange_blocks = [
        blk
        for blk in s.split("\n\n")
        if blk.startswith("(") and "Exchange" in blk.splitlines()[0]
    ]
    band_exchanges = [blk for blk in exchange_blocks if "band#" in blk]
    assert band_exchanges, "expected exchanges carrying the band key"
    for blk in band_exchanges:
        assert (
            "embedding" not in blk
            and "va#" not in blk
            and "vb#" not in blk
            and "sig" not in blk
        ), blk


def test_histogram_partial_aggregation(spark):
    s = _explain(spark, "q_histogram")
    assert s.count("HashAggregate") >= 2 and "partial" in s.lower()


def test_bm25_broadcasts_tiny_sides(spark):
    """The per-term idf and corpus stats must broadcast — never shuffle
    the tf table against 3-row frames."""
    s = _explain(spark, "q_bm25")
    assert "BroadcastHashJoin" in s or "BroadcastNestedLoopJoin" in s
    # the stats cross-join is a 1-row broadcast, not a partitioned join
    assert "CartesianProduct" not in s


def test_triangle_count_no_cartesian(spark):
    s = _explain(spark, "q_triangle_count")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_sample_det_is_scan_fused(spark):
    """Deterministic sampling must be a filter over the scan — no
    shuffle, no window, no join in the plan."""
    s = _explain(spark, "q_sample_det")
    assert "Exchange" not in s
    assert "Window" not in s and "Join" not in s


def test_corpus_mix_windows_are_salted(spark):
    """The corpus-mix top-K must never window on the bare language key:
    phase 1 partitions by (lang, salt)."""
    s = _explain(spark, "q_corpus_mix")
    assert "_salt" in s


def test_corpus_e2e_single_documents_scan(spark):
    """The e2e curation chain must feed every stage (quality, dedup, mix,
    pack) from ONE documents scan — a chain that re-reads the corpus per
    stage multiplies 100 TB of scan I/O by the stage count.  Also pins
    the salted mix windows inside the composition."""
    s = _explain(spark, "q_corpus_e2e")
    assert s.count("documents.parquet") == 1, s
    assert "_salt" in s


# ------------------------------------------------------- crawl wave plans


def test_robots_table_is_jvm_resident(spark):
    """The robots table plans as a LocalTableScan: the broadcast joins
    that read it every wave must not re-run a Python RDD."""
    from rendler_spark.operators.robots import robots_df
    from rendler_spark.synthweb import WebConfig

    s = _formatted(spark, robots_df(spark, WebConfig()))
    assert "LocalTableScan" in s and "ExistingRDD" not in s, s


def test_robots_table_rows_match_synthweb(spark):
    """Row for row: a missing crawl_delay stays null (not NaN) and an
    empty disallow list stays []."""
    from rendler_spark.operators.robots import robots_df
    from rendler_spark.synthweb import WebConfig, robots

    cfg = WebConfig(n_hosts=16)
    got = [tuple(r) for r in robots_df(spark, cfg).collect()]
    assert got == robots(cfg)
    assert any(d is None for _, _, d in got) and any(not a for _, a, _ in got)
