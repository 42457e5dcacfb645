"""Cuckoo-filter prefilter: the north rule's named Bloom alternative.

Same contract as test_bloom.py (zero false negatives, FPR sanity) plus the
cuckoo-specific properties Bloom lacks: deletion and saturation-degrade.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from rendler_spark.operators import seenfilter
from rendler_spark.operators.cuckoo import CuckooFilter, build_blob, contains_blob

hash_sets = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=0, max_size=300
)


@settings(max_examples=40, deadline=None)
@given(members=hash_sets, probes=hash_sets)
def test_no_false_negatives(members, probes):
    m = np.array(members, dtype=np.int64)
    f = CuckooFilter(1 << 10, 4)
    f.insert_hashes(m)
    assert f.contains_hashes(m).all()  # every member found
    # blob round-trip preserves membership
    blob = f.to_bytes()
    assert contains_blob(blob, m).all()


def test_fpr_sane_at_low_load():
    rng = np.random.default_rng(3)
    members = rng.integers(-(2**63), 2**63 - 1, 2000, dtype=np.int64)
    others = rng.integers(-(2**63), 2**63 - 1, 20000, dtype=np.int64)
    others = np.setdiff1d(others, members)
    blob = build_blob(members, 1 << 11, 4)  # ~25% load
    fpr = contains_blob(blob, others).mean()
    assert fpr < 0.01, fpr  # 16-bit fingerprints: FPR ~ 2*b/2^16


def test_delete_preserves_other_members():
    rng = np.random.default_rng(4)
    keep = rng.integers(-(2**63), 2**63 - 1, 1000, dtype=np.int64)
    drop = rng.integers(-(2**63), 2**63 - 1, 1000, dtype=np.int64)
    drop = np.setdiff1d(drop, keep)
    f = CuckooFilter(1 << 11, 4)
    f.insert_hashes(keep)
    f.insert_hashes(drop)
    n = f.delete_hashes(drop)
    assert n == len(np.unique(drop))
    assert f.contains_hashes(keep).all()  # no false negatives after delete
    assert f.contains_hashes(drop).mean() < 0.02  # deleted mass gone (mod FPs)


def test_merge_is_union():
    rng = np.random.default_rng(5)
    a = rng.integers(-(2**63), 2**63 - 1, 500, dtype=np.int64)
    b = rng.integers(-(2**63), 2**63 - 1, 500, dtype=np.int64)
    blob = seenfilter.merge_blobs(
        "cuckoo", build_blob(a, 1 << 11), build_blob(b, 1 << 11)
    )
    assert contains_blob(blob, a).all() and contains_blob(blob, b).all()


def test_saturation_degrades_to_all_maybe():
    """Overfull filter must flip to all-True (prefilter no-op), never
    drop a member."""
    rng = np.random.default_rng(6)
    members = rng.integers(-(2**63), 2**63 - 1, 5000, dtype=np.int64)
    f = CuckooFilter(1 << 8, 4)  # 1024 slots << 5000 keys
    f.insert_hashes(members)
    assert f.saturated
    assert f.contains_hashes(members).all()
    probe = rng.integers(-(2**63), 2**63 - 1, 100, dtype=np.int64)
    assert f.contains_hashes(probe).all()


def test_engine_equivalent_under_cuckoo(spark, tmp_path):
    """filter_kind='cuckoo' must be invisible to crawl semantics: same
    seen set and fetch order as the sequential oracle."""
    from oracle_rendler import run_oracle
    from rendler_spark.engine import CrawlEngine
    from rendler_spark.synthweb import WebConfig

    cfg = WebConfig()
    e = CrawlEngine(spark, cfg, str(tmp_path / "cuckoo"), filter_kind="cuckoo")
    e.run(2)
    oracle = run_oracle(cfg, 2)
    seen = {r["url"] for r in e.wh.read(spark, "seen").select("url").collect()}
    assert seen == oracle.seen
    order = sorted(
        (r["wave"], r["host"], r["depth"], r["seq"], r["url"])
        for r in e.wh.read(spark, "fetch_log").collect()
    )
    assert order == sorted(oracle.fetch_order)
