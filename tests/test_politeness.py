import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from rendler_spark.operators.politeness import budget_flagged


def _frontier_pdf(seed=3, n=500, hosts=6):
    rng = np.random.default_rng(seed)
    h = rng.integers(0, hosts, n)
    # mega-host skew: half the rows land on host 0
    h[: n // 2] = 0
    return pd.DataFrame(
        {
            "url": [f"http://h{h[i]}.test/p{i}" for i in range(n)],
            "host": [f"h{x}.test" for x in h],
            "depth": rng.integers(0, 4, n).astype("int32"),
            "seq": rng.permutation(n).astype("int64"),
            "eff_budget": np.full(n, 7, dtype="int32"),
        }
    )


def _naive_fetch(pdf):
    out = set()
    for host, grp in pdf.groupby("host"):
        rows = grp.sort_values(["depth", "seq"]).head(int(grp["eff_budget"].iloc[0]))
        out.update(rows["url"])
    return out


def test_budget_flagged_exact_under_skew(spark):
    """Salted two-phase == naive per-host top-K, including on the skewed
    host — exactness is what lets the salting exist at all."""
    pdf = _frontier_pdf()
    df = spark.createDataFrame(pdf)
    for n_salt in (1, 4, 16):
        flagged = budget_flagged(df, n_salt=n_salt)
        got = {r["url"] for r in flagged.filter("_fetch").collect()}
        assert got == _naive_fetch(pdf), f"n_salt={n_salt}"
        # deferred = complement, nothing lost
        deferred = {r["url"] for r in flagged.filter("NOT _fetch").collect()}
        assert got | deferred == set(pdf["url"]) and not (got & deferred)


def test_budget_flagged_fetch_filter(spark):
    """The registry's form, ``.filter("_fetch")``: exactly the top-K,
    the deferred rows are the disjoint rest of the input, and Catalyst
    drops the deferred branch (flag literal False) from the plan."""
    pdf = _frontier_pdf(seed=11)
    flagged = budget_flagged(spark.createDataFrame(pdf), n_salt=8)
    fetch = flagged.filter("_fetch")
    got = [r["url"] for r in fetch.collect()]
    deferred = [r["url"] for r in flagged.filter("NOT _fetch").collect()]
    assert set(got) == _naive_fetch(pdf)
    assert sorted(got + deferred) == sorted(pdf["url"])
    assert "Union" not in fetch._jdf.queryExecution().optimizedPlan().toString()


def test_varying_budget_per_host(spark):
    pdf = _frontier_pdf(seed=5)
    # crawl-delay style: host 0 budget 2, others 7
    pdf.loc[pdf["host"] == "h0.test", "eff_budget"] = 2
    df = spark.createDataFrame(pdf)
    got = {r["url"] for r in budget_flagged(df, n_salt=8).filter("_fetch").collect()}
    assert got == _naive_fetch(pdf)
    h0 = sum(1 for u in got if u.startswith("http://h0.test"))
    assert h0 == 2


def test_mega_group_salt_bound_and_exactness(spark):
    """VERDICT r4 skew-stress: ONE host holding 10^5 rows (the corpus-mix
    case — a single language owning the corpus).  The salted two-phase
    top-K must (a) stay exact vs the naive per-host sort, (b) split the
    mega-host across all n_salt phase-1 window partitions with no
    partition holding more than ~2x the even share (xxhash spread — the
    bound that keeps any single window task from seeing the whole
    group), and (c) feed phase 2 at most n_salt * budget survivor rows."""
    n, n_salt, budget = 100_000, 8, 50
    pdf = pd.DataFrame(
        {
            "url": [f"http://mega.test/p{i}" for i in range(n)],
            "host": ["mega.test"] * n,
            "depth": (np.arange(n) * 7919 % 5).astype("int32"),
            "seq": np.random.default_rng(1).permutation(n).astype("int64"),
            "eff_budget": np.full(n, budget, dtype="int32"),
        }
    )
    df = spark.createDataFrame(pdf)
    flagged = budget_flagged(df, n_salt=n_salt)
    fetch, deferred = flagged.filter("_fetch"), flagged.filter("NOT _fetch")
    got = sorted(r["url"] for r in fetch.collect())
    want = sorted(
        pdf.sort_values(["depth", "seq"]).head(budget)["url"]
    )
    assert got == want  # (a) exact under extreme skew
    assert fetch.count() + deferred.count() == n
    # (b) phase-1 partition sizes: same salt expression as the operator
    sizes = (
        df.select(F.pmod(F.xxhash64("url"), F.lit(n_salt)).alias("s"))
        .groupBy("s")
        .count()
        .collect()
    )
    assert len(sizes) == n_salt
    assert max(r["count"] for r in sizes) <= 2 * n // n_salt
    # (c) phase 2 sees at most n_salt * budget rows of the mega host
    survivors = sum(min(budget, r["count"]) for r in sizes)
    assert survivors <= n_salt * budget


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=8, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=400),
    n_salt=st.sampled_from([1, 3, 8]),
    budget=st.integers(min_value=1, max_value=20),
    hosts=st.integers(min_value=1, max_value=5),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_budget_flagged_exact_property(spark, n, n_salt, budget, hosts, seed):
    """Property form of the exactness claim: for ANY frontier shape
    (row count, salt fan-out, budget, host spread, ordering), the salted
    two-phase result equals the naive per-host top-budget, and fetch and
    deferred split the input with nothing lost or repeated."""
    rng = np.random.default_rng(seed)
    h = rng.integers(0, hosts, n)
    pdf = pd.DataFrame(
        {
            "url": [f"http://h{h[i]}.test/p{i}" for i in range(n)],
            "host": [f"h{x}.test" for x in h],
            "depth": rng.integers(0, 4, n).astype("int32"),
            "seq": rng.permutation(n).astype("int64"),
            "eff_budget": np.full(n, budget, dtype="int32"),
        }
    )
    df = spark.createDataFrame(pdf)
    rows = [(r["url"], r["_fetch"]) for r in budget_flagged(df, n_salt=n_salt).collect()]
    assert {u for u, fetch in rows if fetch} == _naive_fetch(pdf)
    assert sorted(u for u, _ in rows) == sorted(pdf["url"])
