"""Tests for the benchmark's own checker (no Spark needed):

    python3 -m pytest perfbench -q

The reference crawl must equal tests/oracle_rendler.py; every check must
pass an unmodified result and reject a corrupted one.
"""

import copy
import hashlib
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]

import check  # noqa: E402
import run  # noqa: E402
from oracle_rendler import run_oracle  # noqa: E402
from rendler_spark import synthweb  # noqa: E402

WEBS = [
    (synthweb.WebConfig(), 4),
    (synthweb.WebConfig(
        n_hosts=16, pages_per_host=32, max_links=15, n_seeds=8, budget=4,
        img_min=8, img_span=9, seed=7,
    ), 3),
]


def _oracle_canonical(cfg, waves) -> dict:
    res = run_oracle(cfg, waves)
    return {
        "fetch_order": sorted(res.fetch_order),
        "seen": sorted(res.seen),
        "blocked": sorted(res.blocked),
        "edges": sorted(res.edges),
        "images": {
            u: (check._digest(b), w, h, fmt, ph, cap)
            for u, (b, w, h, fmt, ph, cap) in res.images.items()
        },
        "frontier": sorted(res.frontier),
        "waves": [
            {k: m[k] for k in ("n_fetched", "n_links", "n_new", "n_robots_blocked")}
            for m in res.metrics
        ],
    }


@pytest.mark.parametrize("cfg,waves", WEBS)
def test_reference_equals_oracle_rendler(cfg, waves):
    want = _oracle_canonical(cfg, waves)
    got = check.crawl_expected(cfg, waves)
    for w in got["waves"]:
        w.pop("n_frontier_next")
    assert got == want


@pytest.fixture(scope="module")
def crawl():
    cfg, waves = WEBS[1]
    expected = check.crawl_expected(cfg, waves)
    return expected, copy.deepcopy(expected)


def test_crawl_check_passes_unmodified(crawl):
    expected, observed = crawl
    assert check.compare_crawl(expected, observed) == []


def _corrupt(observed: dict, how: str) -> dict:
    o = copy.deepcopy(observed)
    if how == "drop_seen":
        o["seen"] = o["seen"][1:]
    elif how == "dup_edge":
        o["edges"] = sorted(o["edges"] + o["edges"][:1])
    elif how == "image_byte":
        url = next(iter(o["images"]))
        o["images"][url] = ("0" * 32,) + o["images"][url][1:]
    elif how == "caption":
        url = next(iter(o["images"]))
        o["images"][url] = o["images"][url][:5] + ("x",)
    elif how == "fetch_order":
        wave, host, depth, seq, url = o["fetch_order"][0]
        o["fetch_order"][0] = (wave + 1, host, depth, seq, url)
    elif how == "frontier":
        o["frontier"] = o["frontier"][:-1]
    elif how == "wave_count":
        o["waves"][-1] = {**o["waves"][-1], "n_new": o["waves"][-1]["n_new"] + 1}
    return o


@pytest.mark.parametrize("how", [
    "drop_seen", "dup_edge", "image_byte", "caption", "fetch_order",
    "frontier", "wave_count",
])
def test_crawl_check_rejects_corruption(crawl, how):
    expected, observed = crawl
    assert check.compare_crawl(expected, _corrupt(observed, how))


def test_export_check(crawl):
    expected, _ = crawl
    want = check.export_expected(expected)
    rendered = set(expected["images"])
    kept = sorted({
        (s, d) for s, d, _ in expected["edges"] if s in rendered and d in rendered
    })
    lines = [f'  n{i} [label="{u}", image="images/n{i}.png"];' for i, u in enumerate(rendered)]
    lines += [f"  a{i} -> b{i};" for i in range(len(kept))]
    dot = "\n".join(["digraph G {", *lines, "}"])
    assert check.export_observed(dot) == want
    assert check.export_observed(dot.replace(" -> ", " - ", 1)) != want


def test_query_check_tolerance():
    want = pd.DataFrame({"k": ["A", "N"], "v": [3682066054.7044997, 0.5], "n": [3, 4]})
    same = want.iloc[::-1].reset_index(drop=True)  # row order does not matter
    assert check.compare_frames("q", same, want) == []
    ulp = want.copy()
    ulp.loc[0, "v"] = 3682066054.7045002  # 1-ULP decimal->double difference
    assert check.compare_frames("q", ulp, want) == []
    for row, value in ((0, 3682066054.7044997 * (1 + 1e-6)), (1, 0.5 + 1e-6)):
        off = want.copy()
        off.loc[row, "v"] = value
        assert check.compare_frames("q", off, want)
    assert check.compare_frames("q", want.iloc[:1], want)
    assert check.compare_frames("q", want.assign(n=[3, 5]), want)


def test_minhash_check():
    docs = pd.read_parquet(os.path.join(run.TABLES, "documents.parquet"))
    dup = docs.iloc[[0, 1]].assign(doc_id=[10_000_000, 10_000_001])
    dup.loc[dup.index[1], "text"] += " extra words here"
    docs = pd.concat([docs, dup], ignore_index=True)
    want = check.minhash_pairs_expected(docs)
    assert len(want) >= 2 and (want["jaccard_est"] == 1.0).any()
    assert check.compare_frames("q_minhash_pairs", want.copy(), want) == []
    off = want.copy()
    off.loc[0, "jaccard_est"] -= 1 / 64
    assert check.compare_frames("q_minhash_pairs", off, want)


def test_tables_match_their_sums():
    with open(os.path.join(run.TABLES, "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f)
    for name, digest in sums.items():
        with open(os.path.join(run.TABLES, name), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == digest, name


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
