"""Per-host politeness budget: exact top-K per host, skew-proof.

Replaces RENDLER's Mesos offer-driven task launch order [upstream:
python/rendler.py resourceOffers ~L110-140] with the north rule's "per-host
politeness-aware priority queue (host-hash salted to kill skew)"
(BASELINE.json:L6).

A naive ``row_number() OVER (PARTITION BY host ORDER BY depth, seq)`` puts
a mega-host's entire backlog into ONE task — AQE cannot split a window
partition (SURVEY.md §4.2).  So the budget is taken in two exact phases:

  phase 1: rank within (host, salt) — NSALT-way parallel even for one host;
           rows ranked past the budget within their salt are already
           certainly past the budget within the host, and are deferred
           without ever reaching phase 2.
  phase 2: rank within host over the <= NSALT*budget phase-1 survivors —
           a tiny window — and keep the true top-budget rows.

The union of per-salt top-B supersets the per-host top-B, so the result is
EXACTLY the unsalted top-K (proved by inclusion both ways; tested against
the oracle's per-host sort).  Deferred rows keep their (depth, seq) and
re-enter the next wave unchanged — the deterministic "late data" policy.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def budget_flagged(
    df: DataFrame,
    host_col: str = "host",
    order_cols: tuple[str, ...] = ("depth", "seq"),
    budget_col: str = "eff_budget",
    url_col: str = "url",
    n_salt: int = 8,
) -> DataFrame:
    """df's rows (minus budget helper cols) plus a boolean ``_fetch``
    flag: True on each host's top-budget rows in ``order_cols`` order,
    False on the deferred rest.  The engine persists this frame once and
    filters it twice — one window computation per wave, not three;
    ``.filter("_fetch")`` alone prunes the deferred branch from the
    plan (its flag is the literal False)."""
    order = [F.col(c) for c in order_cols]
    keep = [c for c in df.columns if c not in (budget_col, "crawl_delay")]

    d1 = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_salt)))
    w1 = Window.partitionBy(host_col, "_salt").orderBy(*order)
    d1 = d1.withColumn("_r1", F.row_number().over(w1))

    over1 = (
        d1.filter(F.col("_r1") > F.col(budget_col))
        .select(*keep)
        .withColumn("_fetch", F.lit(False))
    )
    survivors = d1.filter(F.col("_r1") <= F.col(budget_col))
    w2 = Window.partitionBy(host_col).orderBy(*order)
    part2 = (
        survivors.withColumn("_r2", F.row_number().over(w2))
        .withColumn("_fetch", F.col("_r2") <= F.col(budget_col))
        .select(*keep, "_fetch")
    )
    return part2.unionByName(over1)

