"""The flagship's fused kernel (``plans.geocode_kernel``) against brute
force: the text-free extract → in-bbox filter, then every point against
every polygon and every city.

The polygons are the 80-village tiling with its enclave multipolygon, one
village turned into a polygon with a hole and the hole added as a village of
its own.  Points sit on vertices, on shared edges (the hole's too), inside,
and outside the bbox; pages without a geo tag and with a null ``html`` ride
along.  The cities tables cover the village centroids, coordinate twins,
the three sparse tables whose rows take the full-array scan, one city in
the bbox (``auto_ring``'s grid), the centroids plus a far-away city, two
cities exactly equidistant from a meridian of vertices, and no city at
all."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from immich_geodata_zh_tw_spark.extract.html_meta import extract_pages
from immich_geodata_zh_tw_spark.functions.geo import in_bbox
from immich_geodata_zh_tw_spark.geo import pip, wkb
from immich_geodata_zh_tw_spark.geo.distance import haversine_np
from immich_geodata_zh_tw_spark.plans.geocode_kernel import (
    ADMIN_COLS, PLACE_COLS, GeocodeReference)
from immich_geodata_zh_tw_spark.plans.reverse_geocode import \
    reverse_geocode_pages
from immich_geodata_zh_tw_spark.synth import TW_BBOX, cities, polygons

COLS = ["url", "lat", "lon", *ADMIN_COLS, *PLACE_COLS, "knn_dist_km"]
PAGES_SCHEMA = "url string, html binary"


def _rect(lon0, lat0, lon1, lat1):
    return np.array([[lon0, lat0], [lon1, lat0], [lon1, lat1], [lon0, lat1],
                     [lon0, lat0]])


def _polys() -> pd.DataFrame:
    polys = polygons.admin_polygons_pdf(village_grid=2)[
        ["county", "township", "village", "geometry_wkb"]]
    lon0, lat0, lon1, lat1 = wkb.bounds_array([polys.at[5, "geometry_wkb"]])[0]
    hole = _rect(lon0 + (lon1 - lon0) / 4, lat0 + (lat1 - lat0) / 4,
                 lon0 + (lon1 - lon0) / 2, lat0 + (lat1 - lat0) / 2)
    polys.at[5, "geometry_wkb"] = wkb.encode_polygon(
        [_rect(lon0, lat0, lon1, lat1), hole[::-1]])
    island = polys.iloc[[5]].assign(village="島里",
                                    geometry_wkb=[wkb.encode_polygon([hole])])
    return pd.concat([polys, island], ignore_index=True)


POLYS = _polys()
VILLAGES = cities.cities_pdf(village_grid=2)


def _sparse(lat, lon) -> pd.DataFrame:
    n = len(lat)
    return pd.DataFrame({
        "geoname_id": range(1, n + 1), "name": list("abcde"[:n]),
        "admin1_code": [f"0{i}" for i in range(1, n + 1)],
        "latitude": lat, "longitude": lon})


def _mirror(lat: float = 23.5, lon: float = 121.0) -> pd.DataFrame:
    """Two cities mirrored about the meridian ``lon``, which 14 polygon
    vertices sit on, so those vertices are exactly as far from both; the
    offset is the smallest whose degrees → radians rounding keeps the mirror
    exact.  The higher geoname_id is listed first."""
    r = np.radians
    k = next(k for k in range(1, 64)
             if r(lon + k / 64) - r(lon) == r(lon) - r(lon - k / 64))
    return _sparse([lat, lat], [lon + k / 64, lon - k / 64]).assign(
        geoname_id=[2, 1])


CITIES = {
    "villages": VILLAGES,
    # every centroid three times over, ids above and below the original's
    "twins": pd.concat([VILLAGES,
                        VILLAGES.assign(geoname_id=VILLAGES["geoname_id"] + 10**6),
                        VILLAGES.assign(geoname_id=VILLAGES["geoname_id"] - 10**6)],
                       ignore_index=True).sample(frac=1.0, random_state=3),
    # the bbox corners: a res-6 one-ring guards their spacing
    "corners": _sparse([21.7, 25.3, 21.7, 25.3], [119.7, 119.7, 122.3, 122.3]),
    # two pairs 300 km apart: no res-8 ring place between the pairs
    "two_pairs": _sparse([25.0, 25.0, 22.2, 22.2], [121.3, 121.8, 120.4, 120.9]),
    # the corners and a city half a world away, which the grid pick ignores
    "far_city": _sparse([21.7, 25.3, 21.7, 25.3, -33.87],
                        [119.7, 119.7, 122.3, 122.3, 151.21]),
    # one city in the bbox: no spacing picks a res (auto_ring)
    "lone_city": _sparse([23.5, -33.87], [121.0, 151.21]),
    "villages_far": pd.concat([VILLAGES, VILLAGES.iloc[:1].assign(
        geoname_id=-1, latitude=-33.87, longitude=151.21)], ignore_index=True),
    "empty": VILLAGES.iloc[:0],
    # distance ties between distinct coordinates: the lower geoname_id wins
    "mirror": _mirror(),
}


def _vertices() -> np.ndarray:
    """(lon, lat) of every polygon vertex."""
    return np.unique(np.concatenate(
        [r for b in POLYS["geometry_wkb"] for r in wkb.decode(b)]), axis=0)


def _edge_points(t: float) -> np.ndarray:
    """(lon, lat) at fraction ``t`` along every polygon edge."""
    rings = [r for b in POLYS["geometry_wkb"] for r in wkb.decode(b)]
    a = np.concatenate([r[:-1] for r in rings])
    b = np.concatenate([r[1:] for r in rings])
    return a + t * (b - a)


def _page(i: int, point) -> tuple[str, bytes | None]:
    """Page ``i`` tagged with ``point`` ((lon, lat)); ``None``: no geo tag;
    ``"null"``: a null ``html``.  ``repr`` round-trips the float exactly."""
    url = f"https://example.org/p/{i}"
    if isinstance(point, str):
        return url, None
    meta = ("" if point is None else
            f'<meta name="geo.position" content="{point[1]!r};{point[0]!r}">')
    return url, f"<html><head>{meta}</head><body>{i}</body></html>".encode()


def _pages(points) -> pd.DataFrame:
    return pd.DataFrame([_page(i, p) for i, p in enumerate(points)],
                        columns=["url", "html"])


def reference_rows(spark, pages: pd.DataFrame,
                   cities_pdf: pd.DataFrame) -> pd.DataFrame:
    """Brute force: ``PolygonTable.contains`` of every extracted in-bbox
    point against every polygon, then the min (haversine km, geoname_id)
    over every city."""
    pts = (extract_pages(spark.createDataFrame(pages, PAGES_SCHEMA),
                         with_text=False)
           .filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
           .filter(in_bbox(F.col("lat"), F.col("lon"), TW_BBOX))
           .select("url", "lat", "lon").toPandas())
    n, m = len(pts), len(POLYS)
    pt, poly = np.repeat(np.arange(n), m), np.tile(np.arange(m), n)
    hit = pip.PolygonTable.from_wkb(POLYS["geometry_wkb"]).contains(
        poly, pts["lon"].to_numpy()[pt], pts["lat"].to_numpy()[pt])
    rows = pts.iloc[pt[hit]].reset_index(drop=True)
    for c in ADMIN_COLS:
        rows[c] = POLYS[c].to_numpy()[poly[hit]]
    if cities_pdf.empty:
        return rows.assign(**{c: None for c in PLACE_COLS}, knn_dist_km=np.nan)
    # distances to the distinct coordinates, so coordinate twins tie exactly
    xy, inv = np.unique(cities_pdf[["latitude", "longitude"]].to_numpy(),
                        axis=0, return_inverse=True)
    d = haversine_np(rows["lat"].to_numpy()[:, None],
                     rows["lon"].to_numpy()[:, None],
                     xy[None, :, 0], xy[None, :, 1])[:, inv.ravel()]
    ids = np.broadcast_to(cities_pdf["geoname_id"].to_numpy(), d.shape)
    best = np.lexsort((ids, d), axis=-1)[:, 0]
    for c in PLACE_COLS:
        rows[c] = cities_pdf[c].to_numpy()[best]
    rows["knn_dist_km"] = d[np.arange(len(rows)), best]
    return rows[COLS]


def assert_same_rows(got: pd.DataFrame, want: pd.DataFrame) -> None:
    def norm(df):
        df = df[COLS].sort_values(["url", *ADMIN_COLS]).reset_index(drop=True)
        return df.astype(object).where(df.notna(), None)
    got, want = norm(got), norm(want)
    pd.testing.assert_frame_equal(got.drop(columns="knn_dist_km"),
                                  want.drop(columns="knn_dist_km"))
    np.testing.assert_allclose(got["knn_dist_km"].astype(float),
                               want["knn_dist_km"].astype(float), rtol=1e-12)


def kernel_rows(ref: GeocodeReference, batches) -> pd.DataFrame:
    return pd.concat(list(ref.batches(iter(batches))), ignore_index=True)


@pytest.mark.parametrize("table", sorted(CITIES))
def test_kernel_and_plan_match_the_operators(spark, table):
    """Every vertex, two points on every edge, random points inside and
    outside the bbox, untagged and null pages; the kernel runs them as two
    batches and an empty one, the product plan as one DataFrame."""
    rng = np.random.default_rng(17)
    lat_min, lat_max, lon_min, lon_max = TW_BBOX
    inside = np.c_[rng.uniform(lon_min, lon_max, 200),
                   rng.uniform(lat_min, lat_max, 200)]
    outside = np.c_[rng.uniform(125.0, 140.0, 20), rng.uniform(30.0, 40.0, 20)]
    points = [*map(tuple, np.concatenate([_vertices(), _edge_points(0.5),
                                          _edge_points(1 / 3), inside,
                                          outside])),
              None, None, "null", "null"]
    pages = _pages(points)
    cts = CITIES[table]
    ref = GeocodeReference(POLYS, cts)
    want = reference_rows(spark, pages, cts)
    assert len(want) > 800
    half = len(pages) // 2
    assert_same_rows(kernel_rows(ref, [pages.iloc[:half], pages.iloc[:0],
                                       pages.iloc[half:]]), want)

    out = reverse_geocode_pages(spark, spark.createDataFrame(
        pages, PAGES_SCHEMA), POLYS, cts).toPandas()
    want = want.assign(knn_dist_km=want["knn_dist_km"].round(6))
    assert_same_rows(out, want)
    assert set(out["country_zh"]) == {"臺灣"}


def test_empty_input():
    ref = GeocodeReference(POLYS, VILLAGES)
    out = kernel_rows(ref, [_pages([]), _pages([None, "null"])])
    assert out.empty and list(out.columns) == COLS


_VERTS = _vertices()
_EDGES = _edge_points(0.5)
_point = st.one_of(
    st.sampled_from([tuple(p) for p in _VERTS]),
    st.sampled_from([tuple(p) for p in _EDGES]),
    st.tuples(st.floats(TW_BBOX[2], TW_BBOX[3]), st.floats(TW_BBOX[0], TW_BBOX[1])),
    st.tuples(st.floats(110.0, 130.0), st.floats(15.0, 30.0)),
    st.none(), st.just("null"))


@given(table=st.sampled_from(sorted(CITIES)),
       points=st.lists(_point, max_size=40),
       split=st.integers(0, 40))
@settings(max_examples=12, deadline=None)
def test_random_pages_match_the_operators(spark, table, points, split):
    pages = _pages(points)
    cts = CITIES[table]
    ref = GeocodeReference(POLYS, cts)
    assert_same_rows(kernel_rows(ref, [pages.iloc[:split], pages.iloc[split:]]),
                     reference_rows(spark, pages, cts))
