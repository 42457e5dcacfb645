"""Output checks for the benchmark: the crawl against the reference loop,
the headline queries against their DuckDB twins, MinHash pairs against
a numpy recomputation.

Everything here is plain Python over pandas/pyarrow so it can be tested
without Spark (perfbench/test_check.py).

The crawl reference (``crawl_expected``) is ``tests/oracle_rendler.py``'s
sequential loop with the same budget, ordering and admission rules, but
it calls the pure world functions (synthweb, links, urlnorm) once per
wave on all of the wave's pages instead of once per page.  That makes it
fast enough to run on every benchmark run; test_check.py pins it equal to
``run_oracle`` on several webs.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.dataset as pads

from rendler_spark import synthweb, urlnorm
from rendler_spark.crawl_semantics import child_seq, seed_seq
from rendler_spark.functions import links as linkfns
from rendler_spark.functions import similarity

#: per-wave counts compared between the engine and the reference
WAVE_KEYS = ("n_fetched", "n_links", "n_new", "n_robots_blocked", "n_frontier_next")


def _digest(b: bytes) -> str:
    return hashlib.blake2b(b, digest_size=16).hexdigest()


# ------------------------------------------------------------- crawl


def fetch_pages(cfg: synthweb.WebConfig, urls: list[str]) -> list[tuple]:
    """What fetching each page yields, from the pure world functions:
    ``(image_row, links)`` per page, where image_row is (bytes digest, w,
    h, fmt, phash, caption) and links lists (pos, dst, host, path) for
    every href that canonicalizes to an http(s) URL."""
    s = pd.Series(urls, dtype=object)
    hi, pj, ok = synthweb.parse_url(s)
    assert ok.all()
    captions = synthweb.page_caption(cfg, hi, pj)
    hrefs = linkfns.extract_links_list(synthweb.page_html(cfg, hi, pj))
    counts = [len(h) for h in hrefs]
    flat = pd.Series([h for hs in hrefs for h in hs], dtype=object)
    dsts = urlnorm.canonicalize(pd.Series(np.repeat(s.to_numpy(), counts), dtype=object), flat)
    oks = urlnorm.is_http(dsts).to_numpy()
    hosts = urlnorm.host_of(dsts).to_numpy()
    paths = urlnorm.path_of(dsts).to_numpy()
    dsts = dsts.to_numpy()
    out, at = [], 0
    for i in range(len(urls)):
        b, w, h, fmt, ph = synthweb.render_encoded(cfg, int(hi[i]), int(pj[i]))
        links = [
            (pos, str(dsts[j]), str(hosts[j]), str(paths[j]))
            for pos, j in enumerate(range(at, at + counts[i]))
            if oks[j]
        ]
        out.append(((_digest(b), w, h, fmt, ph, str(captions.iloc[i])), links))
        at += counts[i]
    return out


def crawl_expected(cfg: synthweb.WebConfig, max_waves: int, pool=None) -> dict:
    """The reference crawl of ``max_waves`` waves, in the canonical form
    ``crawl_observed`` produces from an engine warehouse.  ``pool`` (a
    multiprocessing pool) spreads the per-page work of each wave."""
    robots = {h: (dis, delay) for h, dis, delay in synthweb.robots(cfg)}
    seen: set[str] = set()
    blocked: set[str] = set()
    frontier: list[tuple[str, str, int, str]] = []  # (url, host, depth, seq)
    fetch_order, edges, waves = [], [], []
    images: dict[str, tuple] = {}

    def admit(url: str, depth: int, seq: str, host: str, path: str) -> str:
        if url in seen:
            return "dup"
        seen.add(url)
        if any(path.startswith(p) for p in robots.get(host, ([], None))[0]):
            blocked.add(url)
            return "blocked"
        frontier.append((url, host, depth, seq))
        return "new"

    raw = pd.Series(synthweb.seeds(cfg), dtype=object)
    seed_urls = urlnorm.canonicalize(raw, raw)
    for k, (u, h, p) in enumerate(
        zip(seed_urls, urlnorm.host_of(seed_urls), urlnorm.path_of(seed_urls))
    ):
        admit(u, 0, seed_seq(k), str(h), str(p))

    for wave in range(max_waves):
        if not frontier:
            break
        byhost: dict[str, list] = defaultdict(list)
        for row in frontier:
            byhost[row[1]].append(row)
        fetch, defer = [], []
        for host, rows in byhost.items():
            rows.sort(key=lambda r: (r[2], r[3]))
            k = synthweb.effective_budget(cfg.budget, robots.get(host, ([], None))[1])
            fetch += rows[:k]
            defer += rows[k:]
        frontier = defer
        fetch.sort(key=lambda r: (r[1], r[2], r[3]))

        pages = [r[0] for r in fetch]
        if pool is None:
            fetched = fetch_pages(cfg, pages)
        else:
            step = max(1, -(-len(pages) // (4 * pool._processes)))
            parts = pool.starmap(
                fetch_pages, [(cfg, pages[i:i + step]) for i in range(0, len(pages), step)]
            )
            fetched = [r for part in parts for r in part]

        discoveries: list[tuple[int, str, str, str, str]] = []
        n_links = 0
        for (url, host, depth, seq), (image, links) in zip(fetch, fetched):
            fetch_order.append((wave, host, depth, seq, url))
            images[url] = image
            for pos, dst, d_host, d_path in links:
                n_links += 1
                edges.append((url, dst, wave))
                discoveries.append((depth + 1, child_seq(seq, pos), dst, d_host, d_path))

        discoveries.sort()
        tally: dict[str, int] = defaultdict(int)
        for d, s, u, h_, p_ in discoveries:
            tally[admit(u, d, s, h_, p_)] += 1
        waves.append({
            "n_fetched": len(fetch),
            "n_links": n_links,
            "n_new": tally["new"] + tally["blocked"],
            "n_robots_blocked": tally["blocked"],
            "n_frontier_next": len(frontier),
        })
    return {
        "fetch_order": sorted(fetch_order),
        "seen": sorted(seen),
        "blocked": sorted(blocked),
        "edges": sorted(edges),
        "images": images,
        "frontier": sorted(frontier),
        "waves": waves,
    }


def read_table(root: Path, table: str, columns: list[str], wave: int | None = None) -> pd.DataFrame:
    path = root / table if wave is None else root / table / f"wave={wave}"
    if not path.exists() or not any(path.rglob("*.parquet")):
        return pd.DataFrame({c: [] for c in columns})
    ds = pads.dataset(str(path), format="parquet", partitioning="hive")
    return ds.to_table(columns=columns).to_pandas()


def crawl_observed(wh_root: str, wave_stats: list[dict]) -> dict:
    """The engine's warehouse after ``len(wave_stats)`` waves, in the same
    canonical form as ``crawl_expected``."""
    root = Path(wh_root)
    n = len(wave_stats)
    log = read_table(root, "fetch_log", ["wave", "host", "depth", "seq", "url"])
    seen = read_table(root, "seen", ["url", "blocked"])
    edges = read_table(root, "edges", ["src", "dst", "wave"])
    imgs = read_table(root, "images", ["image_id", "bytes", "w", "h", "fmt", "phash", "caption"])
    front = read_table(root, "frontier", ["url", "host", "depth", "seq"], wave=n)
    images = {
        r.image_id: (_digest(bytes(r.bytes)), int(r.w), int(r.h), r.fmt, int(r.phash), r.caption)
        for r in imgs.itertuples(index=False)
    }
    return {
        "fetch_order": sorted(
            (int(r.wave), r.host, int(r.depth), r.seq, r.url)
            for r in log.itertuples(index=False)
        ),
        "seen": sorted(seen["url"]),
        "blocked": sorted(seen.loc[seen["blocked"].astype(bool), "url"]),
        "edges": sorted(
            (r.src, r.dst, int(r.wave)) for r in edges.itertuples(index=False)
        ),
        "images": images,
        "images_rows": len(imgs),
        "frontier": sorted(
            (r.url, r.host, int(r.depth), r.seq) for r in front.itertuples(index=False)
        ),
        "waves": [{k: int(s[k]) for k in WAVE_KEYS} for s in wave_stats],
    }


def export_expected(expected: dict) -> dict:
    """Node and edge counts of the GraphViz export of a reference crawl:
    one node per rendered page, one edge per distinct rendered->rendered
    link."""
    rendered = expected["images"]
    kept = {(s, d) for s, d, _ in expected["edges"] if s in rendered and d in rendered}
    return {"nodes": len(rendered), "edges": len(kept)}


def export_observed(dot_text: str) -> dict:
    lines = dot_text.splitlines()
    return {
        "nodes": sum('image="images/' in ln for ln in lines),
        "edges": sum(" -> " in ln for ln in lines),
    }


def compare_crawl(expected: dict, observed: dict) -> list[str]:
    """Mismatch messages (empty when the engine matches the reference)."""
    bad = []
    for key in ("fetch_order", "seen", "blocked", "edges", "frontier"):
        if expected[key] != observed[key]:
            e, o = pd.Series(expected[key], dtype=object), pd.Series(observed[key], dtype=object)
            bad.append(
                f"crawl.{key}: {len(o)} rows vs {len(e)} expected "
                f"({(~o.isin(e)).sum()} unexpected, {(~e.isin(o)).sum()} missing)"
            )
    if observed.get("images_rows", len(observed["images"])) != len(expected["images"]):
        bad.append(
            f"crawl.images: {observed.get('images_rows')} rows vs "
            f"{len(expected['images'])} expected"
        )
    diff = [u for u, v in expected["images"].items() if observed["images"].get(u) != v]
    diff += [u for u in observed["images"] if u not in expected["images"]]
    if diff:
        bad.append(f"crawl.images: {len(diff)} rows differ, first {diff[0]}")
    if expected["waves"] != observed["waves"]:
        bad.append(f"crawl.waves: {observed['waves']} vs {expected['waves']}")
    return bad


# ------------------------------------------------------------- queries


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].map(lambda v: isinstance(v, (list, np.ndarray))).any():
            pdf[c] = pdf[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def _cells_equal(a, b) -> bool:
    a_null = a is None or (isinstance(a, float) and math.isnan(a))
    b_null = b is None or (isinstance(b, float) and math.isnan(b))
    if a_null or b_null:
        return a_null == b_null
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare_frames(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive result comparison; floats equal to rel/abs 1e-9
    (the tolerance of tests/test_queries_oracle.py)."""
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return [f"{name}: columns {list(got.columns)} vs {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows vs {len(want)} expected"]
    bad = []
    for col in got.columns:
        for i, (x, y) in enumerate(zip(got[col].tolist(), want[col].tolist())):
            if not _cells_equal(x, y):
                bad.append(f"{name}.{col}[{i}]: {x!r} vs {y!r}")
                break
    return bad


def minhash_pairs_expected(
    docs: pd.DataFrame, threshold: float = 0.2, k: int = 64, bands: int = 16
) -> pd.DataFrame:
    """q_minhash_pairs recomputed in numpy: per-document MinHash
    signatures, banded LSH candidates (a shared band = identical
    signature slice), agreement-fraction estimate, threshold."""
    ids = docs["doc_id"].to_numpy(np.int64)
    sigs = np.stack([
        similarity.minhash_signature(similarity._shingle_hashes(t), k=k)
        for t in docs["text"]
    ])
    rows = k // bands
    cand: set[tuple[int, int]] = set()
    for b in range(bands):
        buckets: dict[bytes, list[int]] = defaultdict(list)
        for i, key in enumerate(sigs[:, b * rows:(b + 1) * rows]):
            buckets[key.tobytes()].append(i)
        for members in buckets.values():
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    i, j = members[x], members[y]
                    cand.add((i, j) if ids[i] < ids[j] else (j, i))
    out = []
    for i, j in sorted(cand):
        est = float((sigs[i] == sigs[j]).sum()) / k
        if est >= threshold:
            out.append((int(ids[i]), int(ids[j]), est))
    return pd.DataFrame(out, columns=["id_a", "id_b", "jaccard_est"])
