"""Vectorized link extraction from HTML (SURVEY.md §2H H1).

The reference used a SAX HTMLParser subclass collecting every ``<a href>``
[upstream: python/crawl_executor.py ~L18-40 ``class LinkParser``]; the C++
port used regex over the body [upstream: cpp/crawl_executor.cpp ~L40-80].
We take the regex route, vectorized with ``pandas.Series.str.extractall``
(C-level regex engine, no per-row Python).

``canonical_links`` then resolves and canonicalizes every packed href
against its page URL (SURVEY.md §2H H2) inside the same fetch kernel, so a
wave crosses the JVM/Python boundary once.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from rendler_spark import urlnorm

_HREF_RE = r"""<a\s[^>]*href=["']([^"']+)["']"""

#: separator used to pack a page's links into one string column so the
#: JVM side can split+posexplode (keeps html Python-side only)
SEP = "\x1f"


def extract_links(html: pd.Series) -> pd.Series:
    """Per page: list of raw hrefs, packed as a SEP-joined string.

    Vectorized: extractall -> unstack to a bounded-width grid -> string
    concat.  Pages with no links yield ''.
    """
    m = html.str.extractall(_HREF_RE)[0]
    if m.empty:
        return pd.Series([""] * len(html), index=html.index)
    grid = m.unstack()
    out = pd.Series("", index=html.index, dtype=str)
    first = True
    for col in grid.columns:  # bounded by max links per page
        c = grid[col]
        present = c.notna()
        add = c.fillna("")
        if first:
            out = out.add(add, fill_value="")
            first = False
        else:
            out = out.add((SEP + c[present]).reindex(html.index, fill_value=""),
                          fill_value="")
    return out.reindex(html.index, fill_value="")


def extract_links_list(html: pd.Series) -> pd.Series:
    """Same extraction, returned as Python lists (for tests/oracle)."""
    packed = extract_links(html)
    return packed.map(lambda s: s.split(SEP) if s else [])


def canonical_links(base: pd.Series, packed: pd.Series) -> pa.ListArray:
    """Per page: its packed hrefs resolved against the page URL ``base``
    and canonicalized (``urlnorm.canonicalize``), position for position.

    Splitting matches the JVM's ``split(links, SEP)``: a page without
    links is one empty href.  An empty href maps to an empty entry, so
    link positions (the ``seq`` lineage digits) are unchanged; the
    caller's http(s) filter drops it with the non-http schemes.  Built
    from the split's offsets plus one flat string array: no per-page
    Python."""
    hrefs = pc.split_pattern(pa.array(packed, pa.string()), SEP)
    href = pc.list_flatten(hrefs).to_pandas()
    parent = pc.list_parent_indices(hrefs).to_numpy()
    dst = urlnorm.canonicalize(base.iloc[parent].reset_index(drop=True), href)
    dst = dst.where(href != "", "")
    return pa.ListArray.from_arrays(hrefs.offsets, pa.array(dst, pa.string()))
