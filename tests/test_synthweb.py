import numpy as np
import pandas as pd

from rendler_spark import synthweb, urlnorm
from rendler_spark.functions import links as linkfns

CFG = synthweb.WebConfig()


def test_url_parse_inverse():
    hi = np.arange(CFG.n_hosts).repeat(4)
    pj = np.tile(np.arange(4), CFG.n_hosts)
    urls = synthweb.page_url(CFG, hi, pj)
    h2, p2, ok = synthweb.parse_url(urls)
    assert ok.all() and (h2 == hi).all() and (p2 == pj).all()


def test_mega_host_pages():
    assert int(synthweb.n_pages(CFG, [0])[0]) == CFG.pages_per_host * CFG.mega_factor
    assert int(synthweb.n_pages(CFG, [1])[0]) == CFG.pages_per_host


def test_world_deterministic():
    hi, pj = np.array([0, 3]), np.array([5, 7])
    assert synthweb.page_html(CFG, hi, pj).tolist() == synthweb.page_html(CFG, hi, pj).tolist()
    assert (synthweb.render_pixels(CFG, 3, 7) == synthweb.render_pixels(CFG, 3, 7)).all()
    assert synthweb.render_encoded(CFG, 3, 7) == synthweb.render_encoded(CFG, 3, 7)


def test_links_extract_and_canonicalize():
    """Every href in every variant canonicalizes back into the URL grammar
    and points at the target (t_hi, t_pj) the generator intended."""
    hi = np.arange(CFG.n_hosts).repeat(2)
    pj = np.tile(np.arange(2), CFG.n_hosts)
    urls = synthweb.page_url(CFG, hi, pj)
    html = synthweb.page_html(CFG, hi, pj)
    row, pos, t_hi, t_pj, href = synthweb.link_targets(CFG, hi, pj)
    extracted = linkfns.extract_links_list(html)
    # extraction recovers exactly the generated hrefs, in page order
    flat = [(r, p) for r, lst in enumerate(extracted) for p in range(len(lst))]
    assert flat == list(zip(row.tolist(), pos.tolist()))
    canon = urlnorm.canonicalize(urls.iloc[row].reset_index(drop=True), href)
    want = synthweb.page_url(CFG, t_hi, t_pj)
    assert canon.tolist() == want.tolist()


def test_seeds_valid_and_public():
    s = synthweb.seeds(CFG)
    assert len(s) == CFG.n_seeds
    hi, pj, ok = synthweb.parse_url(pd.Series(s))
    assert ok.all()
    assert not synthweb.is_private(CFG, hi, pj).any()


def test_effective_budget():
    assert synthweb.effective_budget(8, None) == 8
    assert synthweb.effective_budget(8, 2.0) == 4
    assert synthweb.effective_budget(8, 100.0) == 1


def test_caption_shape():
    cap = synthweb.page_caption(CFG, [1], [2]).iloc[0]
    assert len(cap.split(" ")) == 8


def _corner_value(W, H, dt):
    """render_pixels' base-pass value at the canvas' far corner with every
    coefficient at its maximum (250), evaluated in dtype ``dt``."""
    x, y, c = np.array([W - 1], dtype=dt), np.array([H - 1], dtype=dt), 250
    return int((c * x + c * y + ((x * y) >> 4) * c + c + c * 2)[0])


def test_render_int32_bound_at_largest_supersample():
    """Default sides span [img_min, img_min + img_span - 1] = [32, 128];
    supersample 91 is the largest that keeps the render math in int32.
    There the int32 corner value is exact; one step up it would wrap, and
    canvas_int32_safe sends that canvas to int64."""
    side = CFG.img_min + CFG.img_span - 1
    S = 91
    W = side * S
    assert synthweb.canvas_int32_safe(W, W)
    assert _corner_value(W, W, np.int32) == _corner_value(W, W, np.int64)
    W1 = side * (S + 1)
    assert not synthweb.canvas_int32_safe(W1, W1)
    assert _corner_value(W1, W1, np.int32) != _corner_value(W1, W1, np.int64)


def test_render_int64_fallback_is_bit_identical(monkeypatch):
    cfgs = [CFG, synthweb.WebConfig(supersample=3, render_iters=2)]
    pages = [(0, 0), (3, 7), (5, 11)]
    want = [synthweb.render_pixels(c, hi, pj) for c in cfgs for hi, pj in pages]
    monkeypatch.setattr(synthweb, "canvas_int32_safe", lambda W, H: False)
    got = [synthweb.render_pixels(c, hi, pj) for c in cfgs for hi, pj in pages]
    assert all(np.array_equal(a, b) for a, b in zip(got, want))
