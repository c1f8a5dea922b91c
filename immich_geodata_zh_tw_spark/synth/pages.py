"""Deterministic Common-Crawl-style pages generator (FIXTURES.md §1).

Schema matches BASELINE.json ``input_hint``:
``url:string, warc_ts:timestamp, html:binary, text:string, lang:string``.

Mix per row (keyed by arithmetic hash of the row id — no RNG state, so the
driver-side pandas build and the distributed ``spark.range``-based build emit
byte-identical rows for the same ids):

* ~25 % no geo tag, ~15 % out-of-bbox coords, ~60 % inside the Taiwan bbox;
* of the in-bbox rows, ~30 % concentrate into two dense "Taipei / New Taipei"
  squares to exercise skew handling (FIXTURES.md §1, SURVEY.md §4 X12);
* geo tag style rotates between geo.position / ICBM / exif.gps;
* the ``text`` column is produced by the same ``extract_text`` the engine's
  Arrow UDF uses → the byte-identity invariant is independently checkable.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from . import TW_BBOX
from ..extract.html_meta import extract_text
from ..sources.pages import PAGES_COLUMNS, PAGES_SCHEMA
from .hashing import u01

_DENSE_SQUARES = [  # (lat0, lon0, size) — synthetic Taipei / New Taipei
    (25.00, 121.45, 0.10),
    (24.95, 121.35, 0.10),
]
_LANGS = ["zh-tw", "en", "ja", "ko"]
_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

_BODY_SNIPPETS = [
    "歡迎來到我們的網站 — 台北美食 &amp; 旅遊指南。",
    "Travel notes &lt;Taiwan&gt; with maps and photos.",
    "日本語のページです。写真と地図。",
    "서울 여행 기록, 사진 &quot;갤러리&quot;.",
]


def _geo_meta(style: int, lat: float, lon: float) -> str:
    if style == 0:
        return f'<meta name="geo.position" content="{lat:.6f};{lon:.6f}">'
    if style == 1:
        return f'<meta name="ICBM" content="{lat:.6f}, {lon:.6f}">'
    return f'<meta name="exif.gps" content="{lat:.6f} {lon:.6f}">'


def _build_html(i: int, lat: float | None, lon: float | None) -> bytes:
    style = int(u01([i], salt=3)[0] * 3)
    snippet = _BODY_SNIPPETS[int(u01([i], salt=4)[0] * len(_BODY_SNIPPETS))]
    meta = _geo_meta(style, lat, lon) if lat is not None else ""
    html = (
        "<!DOCTYPE html><html><head>"
        f"<title>page {i}</title>{meta}"
        "<script>var x = 1 < 2; /* stripped */</script>"
        "<style>.c{color:red}</style>"
        "</head><body>"
        f"<!-- comment {i} --><h1>Document {i}</h1>"
        f"<p>{snippet}</p>"
        f"<p>token{i % 97} value {i}</p>"
        "</body></html>"
    )
    return html.encode("utf-8")


def page_coords(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized deterministic (lat, lon) per id; NaN = no geo tag.

    The skew cluster routes 30 % of in-bbox rows into two dense squares.
    """
    ids = np.asarray(ids, dtype=np.int64)
    kind = u01(ids, salt=1)
    lat = np.full(len(ids), np.nan)
    lon = np.full(len(ids), np.nan)
    lat_min, lat_max, lon_min, lon_max = TW_BBOX

    u_lat = u01(ids, salt=5)
    u_lon = u01(ids, salt=6)
    # out-of-bbox rows: elsewhere in East Asia
    out = (kind >= 0.25) & (kind < 0.40)
    lat[out] = 30.0 + u_lat[out] * 15.0
    lon[out] = 125.0 + u_lon[out] * 20.0
    # in-bbox rows
    inb = kind >= 0.40
    dense = inb & (u01(ids, salt=2) < 0.30)
    spread = inb & ~dense
    lat[spread] = lat_min + u_lat[spread] * (lat_max - lat_min)
    lon[spread] = lon_min + u_lon[spread] * (lon_max - lon_min)
    which = u01(ids, salt=7) < 0.5
    for sq_i, (la0, lo0, size) in enumerate(_DENSE_SQUARES):
        sel = dense & (which if sq_i == 0 else ~which)
        lat[sel] = la0 + u_lat[sel] * size
        lon[sel] = lo0 + u_lon[sel] * size
    return np.round(lat, 6), np.round(lon, 6)


def pages_pdf(ids) -> pd.DataFrame:
    """Pages rows for the given ids (driver-side or inside one Arrow batch)."""
    ids = np.asarray(ids, dtype=np.int64)
    lat, lon = page_coords(ids)
    rows = []
    for j, i in enumerate(ids):
        la = None if np.isnan(lat[j]) else float(lat[j])
        lo = None if np.isnan(lon[j]) else float(lon[j])
        html = _build_html(int(i), la, lo)
        rows.append((
            f"https://example.org/site{int(i) % 1000}/page/{int(i)}",
            _EPOCH + dt.timedelta(seconds=int(i) % 31_536_000),
            html,
            extract_text(html),
            _LANGS[int(u01([i], salt=8)[0] * len(_LANGS))],
        ))
    return pd.DataFrame(rows, columns=PAGES_COLUMNS)


def pages_df(spark, n: int, partitions: int | None = None, start: int = 0):
    """Distributed deterministic pages table: ``spark.range`` → mapInPandas.

    Scales to any ``n`` without driver materialization — the bench-scale and
    test-scale tables are the same rows for the same ids.
    """
    rng = (spark.range(start, start + n, numPartitions=partitions)
           if partitions else spark.range(start, start + n))

    def gen(batches):
        for pdf in batches:
            yield pages_pdf(pdf["id"].to_numpy())

    return rng.mapInPandas(gen, schema=PAGES_SCHEMA)
