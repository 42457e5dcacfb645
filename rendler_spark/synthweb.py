"""Deterministic synthetic web — the crawl "world" (FIXTURES.md §1).

The sandbox has no network, and BASELINE.json mandates no external data, so
the HTTP fetch of RENDLER's CrawlExecutor [upstream: python/crawl_executor.py
~L45-55 `urllib2.urlopen(url)`] and the PhantomJS render of RenderExecutor
[upstream: python/render_executor.py ~L40-80] are replaced by a pure function
of the URL: ``page content = f(seed, host_id, page_id)`` via splitmix64
mixing (rendler_spark.hashing).  The Spark engine (inside pandas UDFs) and
the single-process oracle simulator (tests/oracle_rendler.py) both call the
functions in this module, so the "web" they observe is byte-identical.

Everything is vectorized over numpy arrays / pandas Series — callable
directly from pandas UDF batches with no per-row Python (BASELINE.json:L6).

URL grammar (canonical form):
    http://h{i}.test/p{j}            -- public page j of host i
    http://h{i}.test/private/p{j}    -- private page (robots-gated on some hosts)

Links inside pages are emitted in six dirty variants (mixed case, default
ports, root-relative, dot segments, fragments, protocol-relative) that all
canonicalize back to the grammar above — exercising the URL canonicalizer
exactly the way urljoin did in the reference [upstream: python/
crawl_executor.py ~L35-40].
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from rendler_spark import codecs
from rendler_spark.hashing import mix

# tag constants: every independent random decision mixes a distinct tag
_T_NLINKS, _T_CROSS, _T_MEGA, _T_THOST, _T_TPAGE, _T_VAR = 1, 2, 3, 4, 5, 6
_T_CAP, _T_PRIV, _T_FMT, _T_IMG, _T_W, _T_H = 7, 8, 9, 10, 11, 12

_WORDS = np.array(
    """alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima
    mike november oscar papa quebec romeo sierra tango uniform victor whiskey
    xray yankee zulu amber basalt cedar dune ember fjord glade harbor isle
    juniper karst lagoon mesa nectar onyx prairie quartz ridge summit tundra
    umbra vale willow xenon yarrow zenith arc bloom crest drift eddy flux
    grove haze inlet knoll marsh notch""".split()
)
assert len(_WORDS) == 64


@dataclass(frozen=True)
class WebConfig:
    """Synthetic-web parameters.  Defaults = FIXTURES.md t1 smoke tier."""

    n_hosts: int = 8
    pages_per_host: int = 16
    max_links: int = 8  # links per page drawn from [1, max_links]
    cross_pct: int = 25  # % of links that leave the host
    mega_factor: int = 4  # host 0 has mega_factor x pages and extra in-links
    seed: int = 42
    n_seeds: int = 2
    budget: int = 4  # politeness: fetches per host per wave
    private_mod: int = 8  # page private iff mix % private_mod == 0
    robots_mod: int = 4  # host i disallows /private/ iff i % robots_mod == 0
    delay_mod: int = 8  # host i has crawl_delay=2.0 iff i % delay_mod == 0
    img_min: int = 32  # image side range (FIXTURES.md §2.1: [32, 128])
    img_span: int = 97
    supersample: int = 1  # render quality: S^2 sub-pixel samples per pixel
    render_iters: int = 0  # iterative-refinement rounds after the base pass
    # (the reference rendered with a full WebKit engine at ~1s/page
    # [upstream: python/render.js via PhantomJS]; these knobs model that
    # render-dominated cost profile honestly — the bench tier uses them so
    # the fetch/render stage is the CPU sink, as it is in a real crawler.
    # supersample spends its cost in memory bandwidth (big canvases);
    # render_iters spends it in ALU on a cache-resident buffer, so it
    # parallelizes linearly across cores — use it for scaling benches)

    @classmethod
    def t2(cls) -> "WebConfig":
        """FIXTURES.md t2 correctness tier."""
        return cls(n_hosts=64, pages_per_host=128, max_links=12, n_seeds=4, budget=8)

    @classmethod
    def bench(cls, n_hosts: int = 256, pages_per_host: int = 512) -> "WebConfig":
        """Bench tier (sized down from FIXTURES.md bench for wall-clock)."""
        return cls(
            n_hosts=n_hosts, pages_per_host=pages_per_host,
            max_links=12, n_seeds=16, budget=32,
        )


# ------------------------------------------------------------- topology


def n_pages(cfg: WebConfig, hi) -> np.ndarray:
    """Pages on host hi (the mega host 0 has mega_factor x pages)."""
    hi = np.asarray(hi, dtype=np.uint64)
    return np.where(
        hi == 0, cfg.pages_per_host * cfg.mega_factor, cfg.pages_per_host
    ).astype(np.uint64)


def is_private(cfg: WebConfig, hi, pj) -> np.ndarray:
    return (mix(cfg.seed, _T_PRIV, hi, pj) % np.uint64(cfg.private_mod)) == 0


def page_url(cfg: WebConfig, hi, pj) -> pd.Series:
    """Canonical URL strings for (host_id, page_id) arrays — vectorized."""
    hi = np.asarray(hi, dtype=np.uint64)
    pj = np.asarray(pj, dtype=np.uint64)
    seg = np.where(is_private(cfg, hi, pj), "/private/p", "/p")
    h = pd.Series(hi).astype(str)
    p = pd.Series(pj).astype(str)
    return "http://h" + h + ".test" + pd.Series(seg) + p


_URL_RE = r"^http://h(\d+)\.test(?:/private)?/p(\d+)$"


def parse_url(urls: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Canonical URL -> (host_id, page_id, valid).  Vectorized regex."""
    ex = urls.str.extract(_URL_RE)
    valid = ex[0].notna().to_numpy()
    hi = pd.to_numeric(ex[0], errors="coerce").fillna(0).to_numpy(dtype=np.uint64)
    pj = pd.to_numeric(ex[1], errors="coerce").fillna(0).to_numpy(dtype=np.uint64)
    return hi, pj, valid


def hostname(hi) -> pd.Series:
    return "h" + pd.Series(np.asarray(hi, dtype=np.uint64)).astype(str) + ".test"


# ------------------------------------------------------------- links

# how many dirty href variants exist; all canonicalize to the canonical form
_N_VARIANTS = 6
_SAMEHOST_VARIANTS = np.array([0, 1, 2, 3, 4, 5], dtype=np.uint64)
_CROSSHOST_VARIANTS = np.array([0, 1, 4, 5], dtype=np.uint64)  # no root-relative


def link_count(cfg: WebConfig, hi, pj) -> np.ndarray:
    return 1 + (mix(cfg.seed, _T_NLINKS, hi, pj) % np.uint64(cfg.max_links))


def link_targets(cfg: WebConfig, hi, pj):
    """All outgoing links of pages (hi, pj): returns flat arrays
    (row, pos, t_hi, t_pj, href) with one element per link, vectorized.

    ``row`` indexes back into the input arrays; ``pos`` is the link's
    position within its page (drives the deterministic child ``seq``).
    Link targets mirror RENDLER's LinkParser world [upstream:
    python/crawl_executor.py ~L18-40] but with a skewed in-link
    distribution: half of cross-host links point at the mega host 0,
    producing the hot-host skew the salted politeness window must absorb
    (BASELINE.json:L6 "host-hash salted to kill skew").
    """
    hi = np.asarray(hi, dtype=np.uint64)
    pj = np.asarray(pj, dtype=np.uint64)
    n = link_count(cfg, hi, pj)
    L = int(cfg.max_links)
    N = len(hi)
    pos = np.tile(np.arange(L, dtype=np.uint64), N)
    row = np.repeat(np.arange(N), L)
    H = hi[row]
    P = pj[row]
    alive = pos < n[row]
    row, pos, H, P = row[alive], pos[alive], H[alive], P[alive]

    cross = (mix(cfg.seed, _T_CROSS, H, P, pos) % np.uint64(100)) < np.uint64(
        cfg.cross_pct
    )
    to_mega = (mix(cfg.seed, _T_MEGA, H, P, pos) % np.uint64(4)) < np.uint64(2)
    rand_host = mix(cfg.seed, _T_THOST, H, P, pos) % np.uint64(cfg.n_hosts)
    t_hi = np.where(cross, np.where(to_mega, np.uint64(0), rand_host), H)
    t_pj = mix(cfg.seed, _T_TPAGE, H, P, pos) % n_pages(cfg, t_hi)

    vmix = mix(cfg.seed, _T_VAR, H, P, pos)
    v = np.where(
        cross,
        _CROSSHOST_VARIANTS[(vmix % np.uint64(4)).astype(np.int64)],
        _SAMEHOST_VARIANTS[(vmix % np.uint64(6)).astype(np.int64)],
    )

    priv = is_private(cfg, t_hi, t_pj)
    th = pd.Series(t_hi).astype(str)
    tp = pd.Series(t_pj).astype(str)
    seg = pd.Series(np.where(priv, "/private/p", "/p")) + tp
    host = "h" + th + ".test"

    canonical = "http://" + host + seg
    upper = "HTTP://" + host.str.upper() + ":80" + seg
    rootrel = seg  # root-relative: resolves against the base host
    dots = "/x/.." + seg  # dot segments
    frag = canonical + "#sec1"
    protorel = "//" + host + seg

    href = canonical.copy()
    href[v == 1] = upper[v == 1]
    href[v == 2] = rootrel[v == 2]
    href[v == 3] = dots[v == 3]
    href[v == 4] = frag[v == 4]
    href[v == 5] = protorel[v == 5]
    return row, pos, t_hi, t_pj, href.reset_index(drop=True)


# ------------------------------------------------------------- content


def page_caption(cfg: WebConfig, hi, pj) -> pd.Series:
    """Deterministic 8-word caption — vectorized wordlist lookups."""
    hi = np.asarray(hi, dtype=np.uint64)
    pj = np.asarray(pj, dtype=np.uint64)
    parts = []
    for k in range(8):
        idx = (mix(cfg.seed, _T_CAP, hi, pj, k) % np.uint64(64)).astype(np.int64)
        parts.append(pd.Series(_WORDS[idx]))
    out = parts[0]
    for p in parts[1:]:
        out = out + " " + p
    return out


def image_params(cfg: WebConfig, hi, pj):
    """(w, h, fmt_idx) arrays; fmt in codecs.FORMATS order."""
    hi = np.asarray(hi, dtype=np.uint64)
    pj = np.asarray(pj, dtype=np.uint64)
    w = cfg.img_min + (mix(cfg.seed, _T_W, hi, pj) % np.uint64(cfg.img_span))
    h = cfg.img_min + (mix(cfg.seed, _T_H, hi, pj) % np.uint64(cfg.img_span))
    f = mix(cfg.seed, _T_FMT, hi, pj) % np.uint64(3)
    return w.astype(np.int64), h.astype(np.int64), f.astype(np.int64)


def render_coeffs(cfg: WebConfig, hi, pj) -> np.ndarray:
    """Per-image render coefficients for (host, page) ARRAYS — one (N, 5)
    mix instead of N scalar mixes (identical values; the batch kernel
    hoists this out of its per-image loop, guide §4.2)."""
    hi = np.asarray(hi, dtype=np.uint64)
    pj = np.asarray(pj, dtype=np.uint64)
    return mix(
        cfg.seed, _T_IMG, hi[:, None], pj[:, None], np.arange(5)[None, :]
    )


def canvas_int32_safe(W: int, H: int) -> bool:
    """True when render_pixels' base-pass math on a W x H canvas cannot
    leave int32: the largest value any term reaches — x*y, and
    a*x + b*y + ((x*y) >> 4)*d + s + 2*cc with every coefficient < 251 —
    is below 2^31."""
    xm, ym, c = W - 1, H - 1, 250
    return max(xm * ym, c * xm + c * ym + ((xm * ym) >> 4) * c + 3 * c) < 2**31


def render_pixels(
    cfg: WebConfig, hi: int, pj: int, *, _wh=None, _coeffs=None
) -> np.ndarray:
    """Deterministic RGB pixels for one page (numpy-vectorized per image).

    Replaces the PhantomJS screenshot [upstream: python/render.js ~L1-20].
    The per-image loop in the render UDF is per-ROW, but each call here does
    vectorized work over w*h*3 pixels — the interpreted-Python cost per row
    is O(1), satisfying the "vectorized UDF" constraint in spirit and in
    profile (pixel math dominates).

    ``_wh`` / ``_coeffs`` let a batch caller supply the already-computed
    image size and coefficient row (see render_coeffs); values are
    identical to the self-computed ones.
    """
    if _wh is None:
        w, h, _ = image_params(cfg, [hi], [pj])
        w, h = int(w[0]), int(h[0])
    else:
        w, h = _wh
    c = (
        _coeffs
        if _coeffs is not None
        else mix(cfg.seed, _T_IMG, np.uint64(hi), np.uint64(pj), np.arange(5))
    )
    a, b, cc, d, s = (int(x % np.uint64(251)) for x in c)
    S = max(1, int(cfg.supersample))
    # int32 is exact while every term stays below 2^31 (canvas_int32_safe);
    # larger canvases take int64, which computes the same exact values.
    # Assembling the (h, w) base before broadcasting the 3-channel term
    # halves the number of full-size passes; integer math is associative,
    # so the pixels are bit-identical to the one-expression form
    dt = np.int32 if canvas_int32_safe(w * S, h * S) else np.int64
    x = np.arange(w * S, dtype=dt)[None, :, None]
    y = np.arange(h * S, dtype=dt)[:, None, None]
    ch = np.arange(3, dtype=dt)[None, None, :]
    base = a * x + b * y + ((x * y) >> 4) * d + s
    px = (base + cc * ch) & 255
    if S > 1:
        # box-downsample the supersampled canvas (antialiased render)
        px = px.reshape(h, S, w, S, 3).mean(axis=(1, 3)).astype(np.int64)
    # iterative refinement: neighbor-mixing rounds on the final-size buffer
    # (int32, ~20-60 KB -> cache-resident; deterministic)
    R = int(cfg.render_iters)
    if R > 0:
        q = px.astype(np.int32)
        for r in range(R):
            q = (
                q * np.int32(31)
                + np.roll(q, 1, axis=0)
                + np.roll(q, -1, axis=1)
                + (q >> np.int32(3))
                + np.int32(17 * r + 1)
            ) & np.int32(255)
        px = q
    return px.astype(np.uint8)


def render_encoded(cfg: WebConfig, hi: int, pj: int) -> tuple[bytes, int, int, str, int]:
    """One page's encoded image row: (bytes, w, h, fmt, phash)."""
    px = render_pixels(cfg, hi, pj)
    _, _, f = image_params(cfg, [hi], [pj])
    fmt = codecs.FORMATS[int(f[0])]
    return codecs.encode(px, fmt), px.shape[1], px.shape[0], fmt, codecs.phash(px)


def page_html(cfg: WebConfig, hi, pj) -> pd.Series:
    """Full HTML for pages (hi, pj) — vectorized string assembly.

    Mirrors what RENDLER's crawl executor saw from urlopen: a page with
    anchors for LinkParser to collect [upstream: python/crawl_executor.py
    ~L18-40], plus a caption paragraph and an image reference (the payload
    graft: image+caption pairs, BASELINE.json graft_cell).
    """
    hi = np.asarray(hi, dtype=np.uint64)
    pj = np.asarray(pj, dtype=np.uint64)
    N = len(hi)
    cap = page_caption(cfg, hi, pj)
    url = page_url(cfg, hi, pj)
    row, pos, _, _, href = link_targets(cfg, hi, pj)

    # scatter hrefs into an (N, max_links) grid of anchor strings
    anchors = pd.DataFrame(
        {"row": row, "pos": pos, "a": '<a href="' + href + '">link</a>'}
    )
    grid = anchors.pivot(index="row", columns="pos", values="a").reindex(
        range(N), fill_value=""
    )
    body = pd.Series([""] * N)
    for col in sorted(grid.columns):
        body = body + grid[col].fillna("").reset_index(drop=True)

    return (
        "<html><head><title>" + url + "</title></head><body>"
        '<p class="caption">' + cap + "</p>"
        '<img src="' + url + '.img"/>' + body + "</body></html>"
    )


# ------------------------------------------------------------- seeds/robots


def seeds(cfg: WebConfig) -> list[str]:
    """Seed list: first non-private page of hosts 0..n_seeds-1.

    RENDLER took one CLI seed URL [upstream: python/rendler.py ~L38-46
    `crawlQueue = deque([seedUrl])`]; the north rule speaks of a seed list.
    """
    out = []
    for k in range(cfg.n_seeds):
        h = k % cfg.n_hosts
        for j in range(int(n_pages(cfg, [h])[0])):
            if not bool(is_private(cfg, [h], [j])[0]):
                out.append(str(page_url(cfg, [h], [j]).iloc[0]))
                break
    return out


def robots(cfg: WebConfig) -> list[tuple[str, list[str], float | None]]:
    """(host, disallow_prefixes, crawl_delay) per host — the robots "fetch".

    Absent in the reference; demanded by the north rule (BASELINE.json:L14
    "robots gating").  Rule per FIXTURES.md §1.
    """
    out = []
    for i in range(cfg.n_hosts):
        dis = ["/private/"] if i % cfg.robots_mod == 0 else []
        delay = 2.0 if i % cfg.delay_mod == 0 else None
        out.append((f"h{i}.test", dis, delay))
    return out


def effective_budget(budget: int, crawl_delay: float | None) -> int:
    """Per-host per-wave fetch budget under a crawl_delay (deterministic
    stand-in for wall-clock politeness: delay d divides the budget)."""
    if crawl_delay is None or crawl_delay <= 0:
        return budget
    return max(1, int(budget / crawl_delay))
