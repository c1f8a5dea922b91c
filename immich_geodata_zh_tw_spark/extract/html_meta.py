"""Deterministic HTML text + geo-tag extraction.

Driver contract (BASELINE.json ``input_hint`` / ``north_star``): pages arrive
as ``(url, warc_ts, html:binary, text, lang)``; the engine must extract
``(lat, lon)`` from EXIF/meta tags in ``html`` via vectorized Arrow UDFs and
the extracted text must be **byte-identical per url** to the reference
extractor.  Per SURVEY.md §7.2 item 10, the extractor is implemented exactly
once as a plain pure function; the Arrow UDF and the pytest oracle both call
it, making byte-identity hold by construction — and the synthetic pages
generator writes the ``text`` column with the same function, so the invariant
is independently checkable row-by-row at any scale.

Recognized geo tags (FIXTURES.md §1):

* ``<meta name="geo.position" content="LAT;LON">``
* ``<meta name="ICBM" content="LAT, LON">``
* EXIF-ish ``<meta name="exif.gps" content="LAT LON">``

All parsing is stdlib ``re`` on bytes/str — no per-row JVM↔Python crossings
(the pandas UDF amortizes serde over Arrow batches of thousands of rows).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd

_SCRIPT_RE = re.compile(r"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"[ \t\r\f\v]*\n[ \t\r\f\v]*|[ \t\r\f\v]+")

_GEO_POSITION_RE = re.compile(
    rb'<meta\s+name="geo\.position"\s+content="(-?\d+(?:\.\d+)?);(-?\d+(?:\.\d+)?)"',
    re.IGNORECASE)
_ICBM_RE = re.compile(
    rb'<meta\s+name="ICBM"\s+content="(-?\d+(?:\.\d+)?),\s*(-?\d+(?:\.\d+)?)"',
    re.IGNORECASE)
_EXIF_RE = re.compile(
    rb'<meta\s+name="exif\.gps"\s+content="(-?\d+(?:\.\d+)?)\s+(-?\d+(?:\.\d+)?)"',
    re.IGNORECASE)

_ENTITIES = {"&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"', "&#39;": "'",
             "&nbsp;": " "}


def extract_text(html: bytes) -> str:
    """Strip an HTML page to its visible text — the per-url byte invariant.

    Deterministic, stdlib-only: decode utf-8 (replace), drop script/style and
    comments, drop tags, decode the five common entities, collapse runs of
    whitespace to single spaces and trim.
    """
    s = html.decode("utf-8", errors="replace")
    s = _SCRIPT_RE.sub(" ", s)
    s = _COMMENT_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    for ent, ch in _ENTITIES.items():
        s = s.replace(ent, ch)
    s = _WS_RE.sub(" ", s)
    return s.strip()


def extract_geo(html: bytes) -> tuple[float, float] | None:
    """First recognized geo meta tag → (lat, lon); None when absent/invalid."""
    for rx in (_GEO_POSITION_RE, _ICBM_RE, _EXIF_RE):
        m = rx.search(html)
        if m:
            lat = float(m.group(1))
            lon = float(m.group(2))
            if -90.0 <= lat <= 90.0 and -180.0 <= lon <= 180.0:
                return lat, lon
    return None


def extract_pages_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` kernel: pages batch → (url, lat, lon, text) batch.

    Schema: ``url string, lat double, lon double, text string`` (lat/lon NaN→
    null when no geo tag; lat/lon/text null for a null page).  Runs entirely
    inside one Arrow batch; no shuffle.
    """
    for pdf in batches:
        n = len(pdf)
        lat = np.full(n, np.nan)
        lon = np.full(n, np.nan)
        texts: list[str | None] = []
        for i, html in enumerate(pdf["html"].to_numpy()):
            if html is None:  # null page: null text, no tag to parse
                texts.append(None)
                continue
            geo = extract_geo(html)
            if geo is not None:
                lat[i], lon[i] = geo
            texts.append(extract_text(html))
        yield pd.DataFrame({
            "url": pdf["url"].to_numpy(),
            "lat": lat,
            "lon": lon,
            "text": texts,
        })


def extract_geo_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` kernel: geo tags ONLY — no text extraction.

    Column pruning cannot reach inside a mapInPandas kernel (the schema is
    fixed and the Python function does the work regardless of which output
    columns the plan consumes), so a consumer that drops ``text`` — the
    reverse-geocode flagship outputs no text column — must choose a
    text-free kernel explicitly.  At a global corpus with a Taiwan bbox the
    text pass is ~everything: tag-strip + entity + whitespace regexes over
    every page, for rows that are then bbox-filtered away.
    """
    for pdf in batches:
        n = len(pdf)
        lat = np.full(n, np.nan)
        lon = np.full(n, np.nan)
        for i, html in enumerate(pdf["html"].to_numpy()):
            if html is None:  # null page: no tag to parse
                continue
            geo = extract_geo(html)
            if geo is not None:
                lat[i], lon[i] = geo
        yield pd.DataFrame({
            "url": pdf["url"].to_numpy(),
            "lat": lat,
            "lon": lon,
        })


EXTRACTED_SCHEMA = "url string, lat double, lon double, text string"
EXTRACTED_GEO_SCHEMA = "url string, lat double, lon double"


def extract_pages(pages_df, *, with_text: bool = True):
    """Spark plan: pages DataFrame → extracted DataFrame.

    Column-pruned before the UDF so only (url, html) crosses the Arrow
    boundary — at 100 TB the ``text``/``lang`` columns never leave the JVM.
    ``with_text=False`` selects the geo-only extract (same rows, no ``text``
    column) for consumers that never output text — the byte-identical-text
    invariant stays pinned by the extractor's own tests either way.
    """
    pruned = pages_df.select("url", "html")
    if with_text:
        return pruned.mapInPandas(extract_pages_batches,
                                  schema=EXTRACTED_SCHEMA)
    # Examined and REJECTED (r6): nulling the payload JVM-side for pages
    # without a marker substring (lower(cast)+3×instr, then
    # when(has_marker, html)) — sound (any regex match implies the ASCII
    # literal), but a measured LOSS on this corpus: the lower() pass
    # allocates a full lowercase copy of every page JVM-side, and with
    # ~75 % of pages geo-bearing the saved Python payload never pays it
    # back (interleaved A/B, extract-only noop at 2 M pages/32 cores:
    # plain 0.87-0.99 s vs pre-nulled 1.30-1.55 s).  Worth revisiting
    # only for corpora whose geo-tag fraction is small.
    return pruned.mapInPandas(extract_geo_batches,
                              schema=EXTRACTED_GEO_SCHEMA)
