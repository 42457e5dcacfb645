"""Local twin of the driver's DuckDB-oracle harness (SURVEY.md §5.2.5).

Runs every ``queries()`` entry at sf0.001 and compares against its
``oracle_sql()`` twin: row count, column names, and exact sorted values
(floats to 1e-9 after both sides' own rounding).  Catching a mismatch here
is strictly cheaper than catching it in CORRECTNESS_r{N}.json.
"""

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from rendler_spark.queries import ORACLE, QUERIES, TABLES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:  # array cells (e.g. postings) -> sortable tuples
        if pdf[c].map(lambda v: isinstance(v, (list, np.ndarray))).any():
            pdf[c] = pdf[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def _cells_equal(a, b) -> bool:
    if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
        an = a is None or (isinstance(a, float) and math.isnan(a))
        bn = b is None or (isinstance(b, float) and math.isnan(b))
        return an == bn
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, ddb, name):
    got = _canon(QUERIES[name](spark, SF).toPandas())
    want = _canon(ddb.sql(ORACLE[name]).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} vs {len(want)}"
    for col in got.columns:
        ga, wa = got[col].tolist(), want[col].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(ga, wa)) if not _cells_equal(x, y)
        ]
        assert not bad, f"{name}.{col}: first mismatches {bad[:5]}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF)
    assert df.count() >= 0  # runs, stable schema
    assert len(df.columns) > 0


def test_approx_percentiles_bounded_error(spark):
    """q_percentiles_approx must land inside the exact quantile band:
    approx_percentile(accuracy=1000) guarantees rank error <= 1/1000, so
    with 10x slack each approx p-quantile must lie within the exact
    [p-0.01, p+0.01] quantile values of its group."""
    import pyspark.sql.functions as F

    approx = {
        r["l_returnflag"]: r
        for r in QUERIES["q_percentiles_approx"](spark, SF).collect()
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    specs = [("p50", "l_quantity", 0.5), ("p95", "l_quantity", 0.95),
             ("p99_price", "l_extendedprice", 0.99)]
    bands = li.groupBy("l_returnflag").agg(
        *[
            F.expr(f"percentile({col}, {max(p - 0.01, 0.0)})").alias(f"{name}_lo")
            for name, col, p in specs
        ],
        *[
            F.expr(f"percentile({col}, {min(p + 0.01, 1.0)})").alias(f"{name}_hi")
            for name, col, p in specs
        ],
    ).collect()
    assert approx and len(bands) == len(approx)
    for row in bands:
        a = approx[row["l_returnflag"]]
        for name, _col, _p in specs:
            assert row[f"{name}_lo"] <= a[name] <= row[f"{name}_hi"], (
                row["l_returnflag"], name, a[name], row[f"{name}_lo"], row[f"{name}_hi"]
            )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_contract_shape():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 35


def test_driver_window_composition():
    """The driver harness checks only the FIRST 50 registered queries;
    pin the r5 rotation: registration order starts with exactly WINDOW,
    the rotated-in r4 family + new r5 queries (first driver-visible this
    round) are inside it, the two r5-changed queries stay in for fresh
    driver rows, and the rotated-out long-stable rows sit past slot 50
    (each still covered by tools/check_correctness.py's full sweep)."""
    from rendler_spark.queries import DEFERRED, WINDOW

    names = list(QUERIES)
    assert len(names) >= 60
    assert names[:50] == WINDOW
    rotated_in_r5 = {
        "q_full_outer_join", "q_cross_join", "q_pivot", "q_rank_fns",
        "q_term_topk", "q_null_semantics", "q_edit_distance",
        "q_tpch_q4_shape", "q_bucketed_join", "q_percentiles_approx",
        "q_image_stats", "q_phash_neardup", "q_approx_distinct_rollup",
    }
    changed_r5 = {"q_anti_join", "q_inverted_index"}
    assert rotated_in_r5 | changed_r5 <= set(WINDOW)
    rotated_out_r5 = {
        "q_project", "q_inner_join", "q_broadcast_join", "q_semi_join",
        "q_asof_join", "q_range_join", "q_groupby_having", "q_dedup_minby",
        "q_rollup", "q_doc_token_count", "q_lang_pred", "q_dedup_exact",
        "q_string_fns",
    }
    assert rotated_out_r5 <= set(DEFERRED) == set(names[50:])
    # everything registered is either in the window or deferred, never lost
    assert set(WINDOW) | set(DEFERRED) == set(names)


def test_corpus_e2e_full_near_dup_stage_works(spark):
    """The full chain's LSH near-dup stage must remove every planted
    companion (exact-dedup-proof, embedding-collinear) BEFORE the mix,
    and the surviving corpus must equal the exact chain's output (the
    companions are the only delta between the two pipelines)."""
    full = QUERIES["q_corpus_e2e_full"](spark, SF).toPandas()
    exact = QUERIES["q_corpus_e2e"](spark, SF).toPandas()
    assert (full["doc_id"] >= 1_000_000).sum() == 0
    key = ["doc_id", "lang_pred", "quality", "shard", "chunk_id"]
    a = full[key].sort_values("doc_id").reset_index(drop=True)
    b = exact[key].sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_approx_distinct_rollup_bounded_error(spark):
    """HLL++ estimate within the documented default error (rsd=0.05,
    ~3 sigma headroom) of the exact distinct count in EVERY rollup cell —
    the mergeable-sketch property: subtotal and grand-total cells are
    merged partial sketches, and the bound must hold there too."""
    pdf = QUERIES["q_approx_distinct_rollup"](spark, SF).toPandas()
    assert len(pdf) > 10  # leaf cells + per-type subtotals + grand total
    # grand-total row present (both grouping cols NULL)
    gt = pdf[pdf["event_type"].isna() & pdf["day"].isna()]
    assert len(gt) == 1
    for _, row in pdf.iterrows():
        exact, approx = int(row["exact_users"]), int(row["approx_users"])
        assert abs(approx - exact) <= max(3, 0.15 * exact), (
            row["event_type"], row["day"], exact, approx
        )
    # subtotal consistency of the exact column: each type's subtotal
    # >= max of its leaves (distinct counts are subadditive upward)
    leaves = pdf[pdf["event_type"].notna() & pdf["day"].notna()]
    subs = pdf[pdf["event_type"].notna() & pdf["day"].isna()]
    for _, s in subs.iterrows():
        mx = leaves[leaves["event_type"] == s["event_type"]]["exact_users"].max()
        assert s["exact_users"] >= mx


def test_hll_sketch_rollup_persist_then_merge(spark, tmp_path):
    """The property that makes sketch rollups THE 100 TB distinct-count
    pattern: per-day sketches written to parquet, read back cold, and
    union-merged give the SAME estimate as a single-pass sketch over the
    raw data — reports never re-touch raw events.  Also: the estimate
    matches the exact distinct count within the documented HLL error
    (lgK=12 default: ~1.6% rsd, wide margin here)."""
    import pyspark.sql.functions as F

    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    path = str(tmp_path / "daily_sketches")
    daily.write.mode("overwrite").parquet(path)  # the materialized layer

    merged = (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"))
    )
    single_pass = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("est"),
        F.count_distinct("user_id").alias("exact"),
    )
    m = {r["event_type"]: r["est"] for r in merged.collect()}
    for r in single_pass.collect():
        assert m[r["event_type"]] == r["est"], (r, m)
        assert abs(r["est"] - r["exact"]) <= max(2, 0.05 * r["exact"]), r
    # the registered query runs and carries scalar columns only
    pdf = QUERIES["q_hll_sketch_rollup"](spark, SF).toPandas()
    assert len(pdf) > 0 and "est_users" in pdf.columns


def test_freq_items_superset_guarantee(spark):
    """The sketch's contract: every item with relative frequency >=
    support MUST appear in freqItems' output (false positives allowed,
    false negatives not).  Verified against exact counts."""
    import pyspark.sql.functions as F

    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "user_bucket", (F.col("user_id") % 10).cast("string")
    )
    total = ev.count()
    row = QUERIES["q_freq_items"](spark, SF).collect()[0]
    got_types = set(row["event_types_ge_10pct"].split(","))
    got_buckets = set(row["user_buckets_ge_10pct"].split(","))
    for col, got in (("event_type", got_types), ("user_bucket", got_buckets)):
        exact = {
            r[col]
            for r in ev.groupBy(col).count().collect()
            if r["count"] >= 0.1 * total
        }
        assert exact <= got, (col, exact, got)
    assert got_types and got_buckets


def test_session_gap_compares_exact_interval(spark, tmp_path):
    """q_session_gap and its DuckDB twin start a session on a gap of MORE
    than 600 s, compared exactly: 599.9 and 600.0 s continue a session,
    600.4 s (straddling a second boundary) and 600.83 s start one.
    Spark, DuckDB and a plain-Python reference must agree."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1)
    gaps = [599.9, 600.0, 600.4, 600.83]
    starts = {1: 0.5, 2: 0.25, 3: 0.9, 4: 0.1}  # user k has the one gap gaps[k-1]
    ts = {u: [s, s + gaps[u - 1]] for u, s in starts.items()}
    ts[5] = [0.3]  # user 5 chains every gap
    for g in gaps:
        ts[5].append(ts[5][-1] + g)
    rows = [(u, t0 + dt.timedelta(seconds=round(s, 6))) for u in ts for s in ts[u]]
    events = pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[0] for r in rows], pa.int64()),
        "event_type": pa.array(["view"] * len(rows)),
        "value": pa.array([1.0] * len(rows)),
        "props": pa.array(["{}"] * len(rows)),
    })
    pq.write_table(events, str(tmp_path / "events.parquet"))

    want = {}
    for u, _ in rows:
        stamps = sorted(r[1] for r in rows if r[0] == u)
        want[u] = 1 + sum(
            b - a > dt.timedelta(seconds=600) for a, b in zip(stamps, stamps[1:])
        )
    assert want == {1: 1, 2: 1, 3: 2, 4: 2, 5: 3}
    got = {
        r["user_id"]: r["n_sessions"]
        for r in QUERIES["q_session_gap"](spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    twin = dict(con.sql(ORACLE["q_session_gap"]).fetchall())
    assert got == twin == want
