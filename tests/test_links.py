"""The fetch kernel's link step (``links.canonical_links``) ≡ urlnorm,
per (page URL, href): same values at the same positions, so edges and
the ``seq`` lineage digits do not depend on where canonicalization runs.
The kernel's prefilter verdicts (``maybe``) line up with those links."""

from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from rendler_spark import synthweb, urlnorm
from rendler_spark.crawl_semantics import N_SHARDS
from rendler_spark.engine import FILTER_PARAMS, make_fetch_render_arrow
from rendler_spark.functions import links as linkfns
from rendler_spark.hashing import xxhash64_utf8
from rendler_spark.operators import seenfilter

SEP = linkfns.SEP


def _reference(base: pd.Series, packed: pd.Series) -> list[list[str]]:
    """One ``canonicalize_one`` call per (base, href); '' stays ''."""
    return [
        [urlnorm.canonicalize_one(b, h) if h else "" for h in p.split(SEP)]
        for b, p in zip(base, packed)
    ]


def test_canonical_links_synthweb_corpus():
    cfg = synthweb.WebConfig(n_hosts=24)
    n = synthweb.n_pages(cfg, np.arange(cfg.n_hosts)).astype(np.int64)
    hi = np.repeat(np.arange(cfg.n_hosts), n)
    pj = np.concatenate([np.arange(k) for k in n])
    assert len(hi) >= 400
    urls = synthweb.page_url(cfg, hi, pj)
    packed = linkfns.extract_links(synthweb.page_html(cfg, hi, pj))
    got = linkfns.canonical_links(urls, packed).to_pylist()
    assert got == _reference(urls, packed)
    # the web links only to its own canonical pages
    row, pos, t_hi, t_pj, _ = synthweb.link_targets(cfg, hi, pj)
    want = synthweb.page_url(cfg, t_hi, t_pj).tolist()
    assert [got[r][p] for r, p in zip(row, pos)] == want


ADVERSARIAL = [
    ("http://a.test/x/y", ""),  # a page without links
    ("http://a.test/x/y", "  /p1  " + SEP + " " + SEP + "#sec"),
    ("http://a.test/x/y", "mailto:x@y.test" + SEP + "javascript:void(0)" + SEP + "q"),
    ("https://a.test/d/e", "//c.test/p1" + SEP + "/top/p" + SEP + "../p0"),
    ("http://a.test/d/e", "./a/./b/../c" + SEP + "/x/../../y/." + SEP + "a//b"),
    ("http://a.test/", "HTTP://H242.TEST:80/private/p0" + SEP + "HTTPS://B.TEST:443/q"),
    ("http://a.test/", "http://b.test:8080/p255#sec1" + SEP + "ftp://f.test/x"),
    ("http://a.test/p", "p?b=2&a=1&c=0" + SEP + "/q?z=1&y=2#f" + SEP + "?k=v"),
    ("http://a.test/p", "a" + SEP + "" + SEP + "b" + SEP),  # empties keep positions
    ("http://a.test/p", SEP),
]


def test_canonical_links_adversarial():
    base = pd.Series([b for b, _ in ADVERSARIAL])
    packed = pd.Series([p for _, p in ADVERSARIAL])
    got = linkfns.canonical_links(base, packed).to_pylist()
    assert got == _reference(base, packed)
    assert got[0] == [""]
    assert got[8] == ["http://a.test/a", "", "http://a.test/b", ""]
    assert got[5] == ["http://h242.test/private/p0", "https://b.test/q"]


def test_canonical_links_index_and_empty_batch():
    """Positional over any pandas index; an empty batch is an empty list."""
    base = pd.Series(["http://a.test/x/", "http://b.test/"], index=[7, 3])
    packed = pd.Series(["p1" + SEP + "/p2", "../p3"], index=[7, 3])
    got = linkfns.canonical_links(base, packed).to_pylist()
    assert got == [["http://a.test/x/p1", "http://a.test/p2"], ["http://b.test/p3"]]
    empty = pd.Series([], dtype=str)
    assert linkfns.canonical_links(empty, empty).to_pylist() == []


def _page_batch(cfg: synthweb.WebConfig, n: int = 64) -> pa.RecordBatch:
    """A fetch-kernel input batch: the first ``n`` pages of the web."""
    hi = np.repeat(np.arange(cfg.n_hosts), 4)[:n]
    pj = np.tile(np.arange(4), cfg.n_hosts)[:n]
    urls = synthweb.page_url(cfg, hi, pj)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(urls, pa.string()),
            pa.array(urls.str.extract(r"^https?://([^/]*)")[0], pa.string()),
            pa.array(np.zeros(len(urls), np.int32), pa.int32()),
            pa.array([f"{i:x}" for i in range(len(urls))], pa.string()),
        ],
        names=["url", "host", "depth", "seq"],
    )


def test_fetch_kernel_flags_every_link():
    """The fetch kernel's ``maybe`` column is the seen-prefilter verdict of
    each ``dsts`` entry, position for position; every link in the filter
    is flagged (zero false negatives); without a probe every link is
    maybe-seen and every other column is unchanged."""
    cfg = synthweb.WebConfig()
    rb = _page_batch(cfg)
    [plain] = list(make_fetch_render_arrow(cfg)(iter([rb])))
    dsts = plain.column("dsts")
    known = [u for u in dsts.flatten().to_pylist() if u][::2]
    hashes = xxhash64_utf8(known)
    shard = np.mod(hashes, N_SHARDS)
    blobs = {
        int(s): seenfilter.build_blob("bloom", hashes[shard == s], FILTER_PARAMS)
        for s in np.unique(shard)
    }
    probe = (SimpleNamespace(value=blobs), "bloom", FILTER_PARAMS, N_SHARDS)
    [probed] = list(make_fetch_render_arrow(cfg, probe)(iter([rb])))

    maybe = probed.column("maybe")
    assert pc.list_value_length(maybe).equals(pc.list_value_length(dsts))
    flat_dst = dsts.flatten().to_pylist()
    flat_maybe = maybe.flatten().to_pylist()
    want = seenfilter.contains_sharded(
        "bloom", blobs, xxhash64_utf8(flat_dst), N_SHARDS, FILTER_PARAMS
    )
    assert flat_maybe == want.tolist()
    known_set = set(known)
    assert all(m for d, m in zip(flat_dst, flat_maybe) if d in known_set)
    assert not all(flat_maybe)  # the filter does route some links around

    assert all(plain.column("maybe").flatten().to_pylist())
    assert pc.list_value_length(plain.column("maybe")).equals(pc.list_value_length(dsts))
    for name in plain.schema.names:
        if name != "maybe":
            assert plain.column(name).equals(probed.column(name)), name
