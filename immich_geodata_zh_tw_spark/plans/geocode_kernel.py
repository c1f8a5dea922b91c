"""The flagship's one Arrow pass: extract → bbox → PIP refine → kNN pick.

:class:`GeocodeReference` is built on the driver once per
``reverse_geocode_pages`` call and broadcast; its ``batches`` is the
``mapInPandas`` kernel.  Per batch of (url, html) it reads the geo tags, keeps
the points inside the bbox (``in_bbox`` semantics), assigns each its
containing polygons (``pipjoin.PolygonCover.hits``, one row per containing
polygon) and names each row by its nearest place
(``knn.NearestPlace.nearest``: min (haversine km, tie-break key), exact on
any cities table) — the same two objects ``pip_join`` and ``knn_join``
run.  Every row is the brute-force answer (the tests check every point
against every polygon and every place): the grids change the work, never
the answer.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from ..extract.html_meta import extract_geo_batches
from ..geo import grid, pip
from ..operators.knn import (NearestPlace, _places_side, auto_ring,
                             max_nn_spacing_km, min_cell_km, take_or_null)
from ..operators.pipjoin import PolygonCover
from ..synth import TW_BBOX

#: polygon attributes and place columns carried to the output; the first
#: place column is the kNN tie-break (a unique key)
ADMIN_COLS = ["county", "township", "village"]
PLACE_COLS = ["geoname_id", "name", "admin1_code"]


def grid_res(points_pdf: pd.DataFrame,
             bbox: tuple[float, float, float, float] = TW_BBOX) -> int | None:
    """The finest res in [4, MAX_RES] whose k=1 ring guard covers the max
    nearest-neighbour spacing of the ``points_pdf`` (latitude, longitude)
    inside ``bbox``, or None.

    A cost choice only, never an exactness one: every row whose nearest
    place may lie outside its ring takes the exact scan.  For a
    tiling-derived point set the spacing is about the covering radius, so
    nearly every row settles on a one-ring of about one place per cell; the
    polygon bbox centres pick the PIP res the same way.  At 8,000 villages
    both are 12 (spacing 3.88 km, guard 4.37 km), at 500 both are 10.  Every
    query lies in ``bbox``: a far-away point left in would set the spacing
    alone (8,000 villages plus Sydney: 98 s against 1.4 s for 200 k pages
    at 4 cores, every place in every ring of ``auto_ring``'s pick).
    """
    lat_min, lat_max, lon_min, lon_max = bbox
    inside = (points_pdf["latitude"].between(lat_min, lat_max)
              & points_pdf["longitude"].between(lon_min, lon_max))
    spacing_km = max_nn_spacing_km(points_pdf[inside])
    max_lat = max(abs(lat_min), abs(lat_max)) + 1.0
    return next((res for res in range(grid.MAX_RES, 3, -1)
                 if min_cell_km(res, max_lat) >= spacing_km), None)


class GeocodeReference:
    """The polygons (``geometry_wkb`` and :data:`ADMIN_COLS`) as a
    :class:`PolygonCover` and the cities (``latitude``, ``longitude`` and
    :data:`PLACE_COLS`) as a :class:`NearestPlace`, with their value
    arrays.  The WKB is decoded once; the vertex table's bboxes give the
    cover and the PIP res (``grid_res`` of their centres, else 4).  The
    places are one per distinct coordinate in tie-break order
    (``knn._places_side``); the kNN grid is ``grid_res`` of the cities at
    k=1, else ``auto_ring``'s (res, k)."""

    def __init__(self, polys_pdf: pd.DataFrame, cities_pdf: pd.DataFrame,
                 bbox: tuple[float, float, float, float] = TW_BBOX):
        self.bbox = bbox
        table = pip.PolygonTable.from_wkb(polys_pdf["geometry_wkb"])
        lon0, lat0, lon1, lat1 = np.nan_to_num(table.bbox).T
        pip_res = grid_res(pd.DataFrame({"latitude": (lat0 + lat1) / 2,
                                         "longitude": (lon0 + lon1) / 2}),
                           bbox) or 4
        self.cover = PolygonCover(table, pip_res)
        self.admin = {c: polys_pdf[c].to_numpy() for c in ADMIN_COLS}

        places, _ = _places_side(cities_pdf, "latitude", "longitude", PLACE_COLS)
        res = grid_res(cities_pdf, bbox)
        knn_res, k = (res, 1) if res is not None else auto_ring(places)
        self.near = NearestPlace(places["latitude"], places["longitude"],
                                 res=knn_res, k=k)
        self.places = {c: places[c].to_numpy() for c in PLACE_COLS}

    def schema(self) -> StructType:
        """The kernel's output schema; reference columns keep their Arrow types."""
        return from_arrow_schema(pa.schema({
            "url": pa.string(), "lat": pa.float64(), "lon": pa.float64(),
            **{c: pa.Array.from_pandas(v).type
               for c, v in (*self.admin.items(), *self.places.items())},
            "knn_dist_km": pa.float64()}))

    def geocode(self, ext: pd.DataFrame) -> pd.DataFrame:
        """Rows of the extracted (url, lat, lon) batch ``ext``: one per
        (in-bbox point, containing polygon), named by the nearest place."""
        lat, lon = ext["lat"].to_numpy(), ext["lon"].to_numpy()
        lat_min, lat_max, lon_min, lon_max = self.bbox
        q = np.flatnonzero((lat >= lat_min) & (lat <= lat_max)
                           & (lon >= lon_min) & (lon <= lon_max))
        i, poly = self.cover.hits(lat[q], lon[q])
        q = q[i]
        place, dist = self.near.nearest(lat[q], lon[q])
        return pd.DataFrame({
            "url": ext["url"].to_numpy()[q], "lat": lat[q], "lon": lon[q],
            **{c: v[poly] for c, v in self.admin.items()},
            # row -1 (no place at all): null
            **{c: take_or_null(v, place) for c, v in self.places.items()},
            "knn_dist_km": dist})

    def batches(self, pages: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """``mapInPandas`` kernel: (url, html) batches → geocoded rows."""
        for ext in extract_geo_batches(pages):
            yield self.geocode(ext)
