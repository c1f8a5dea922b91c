"""The flagship's one Arrow pass: extract → bbox → PIP refine → kNN pick.

:class:`GeocodeReference` is built on the driver once per
``reverse_geocode_pages`` call and broadcast; its ``batches`` is the
``mapInPandas`` kernel.  Per batch of (url, html) it reads the geo tags, keeps
the points inside the bbox (``in_bbox`` semantics), keeps the PIP candidates
of their cover cells that :meth:`geo.pip.PolygonTable.contains` accepts (one
row per containing polygon), and names each row by the min (haversine km,
tie-break key) over its k-ring places; a row the ring guard cannot settle
scans every place.  Every row is the row ``pipjoin.pip_join`` →
``knn.knn_join`` give at the same grids, on any cities table (the tests keep
that composition as the reference): the grids change the work, never the
answer.
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
from ..geo.distance import haversine_np
from ..operators.knn import (_guard_km_np, _kring_rows, _places_side,
                             auto_ring, max_nn_spacing_km, min_cell_km)
from ..operators.pipjoin import _cover
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


#: candidate pairs expanded per numpy step (8 MB per float64 temporary), so
#: a coarse grid or a full scan never holds a batch's cross product
_SCAN_PAIRS = 1_000_000


def _runs(keys: np.ndarray, q: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lo, cnt): ``q[i]``'s run of sorted ``keys`` is ``lo[i]:lo[i] + cnt[i]``."""
    lo = np.searchsorted(keys, q, "left")
    return lo, np.searchsorted(keys, q, "right") - lo


def _pairs(lo: np.ndarray, cnt: np.ndarray):
    """Chunks of (i, pos), ``i`` ascending, one pair per ``pos`` in
    ``lo[i]:lo[i] + cnt[i]``; a chunk holds about :data:`_SCAN_PAIRS`
    pairs, and at least one ``i``."""
    ends = np.cumsum(cnt)
    i0 = 0
    while i0 < cnt.size:
        done = ends[i0 - 1] if i0 else 0
        i1 = max(i0 + 1, int(np.searchsorted(ends, done + _SCAN_PAIRS, "right")))
        c = cnt[i0:i1]
        yield (np.repeat(np.arange(i0, i1), c),
               np.arange(int(c.sum())) + np.repeat(lo[i0:i1] - (np.cumsum(c) - c), c))
        i0 = i1


def _sorted_by_cell(cell: np.ndarray, row: np.ndarray):
    order = np.argsort(cell, kind="stable")
    return cell[order], row[order].astype(np.int32)


class GeocodeReference:
    """The polygons (``geometry_wkb`` and :data:`ADMIN_COLS`) and the
    cities (``latitude``, ``longitude`` and :data:`PLACE_COLS`) as flat
    arrays.  The WKB is decoded once; the vertex table's bboxes give the
    cover and the PIP res (``grid_res`` of their centres, else 4).  The
    places are one per distinct coordinate (``knn._places_side``) in
    tie-break order, so the lower row wins a distance tie; the kNN grid is
    ``grid_res`` of the cities at k=1, else ``auto_ring``'s (res, k)."""

    def __init__(self, polys_pdf: pd.DataFrame, cities_pdf: pd.DataFrame,
                 bbox: tuple[float, float, float, float] = TW_BBOX):
        self.bbox = bbox
        self.table = pip.PolygonTable.from_wkb(polys_pdf["geometry_wkb"])
        # NaN: a geometry without points, (0, 0) as in wkb.bounds_array
        bounds = np.nan_to_num(self.table.bbox)
        lon0, lat0, lon1, lat1 = bounds.T
        self.pip_res = grid_res(pd.DataFrame({"latitude": (lat0 + lat1) / 2,
                                              "longitude": (lon0 + lon1) / 2}),
                                bbox) or 4
        self.cover_cell, self.cover_row = _sorted_by_cell(
            *_cover(bounds, self.pip_res))
        self.admin = {c: polys_pdf[c].to_numpy() for c in ADMIN_COLS}

        places, _ = _places_side(cities_pdf, "latitude", "longitude", PLACE_COLS)
        places = places.sort_values(PLACE_COLS[0], kind="mergesort")
        res = grid_res(cities_pdf, bbox)
        self.knn_res, self.k = (res, 1) if res is not None else auto_ring(places)
        row, cell = _kring_rows(places, lat_col="latitude", lon_col="longitude",
                                res=self.knn_res, k=self.k)
        self.ring_cell, self.ring_row = _sorted_by_cell(cell, row)
        self.plat = places["latitude"].to_numpy(dtype=np.float64)
        self.plon = places["longitude"].to_numpy(dtype=np.float64)
        self.places = {c: places[c].to_numpy() for c in PLACE_COLS}

    def schema(self) -> StructType:
        """The kernel's output schema; reference columns keep their Arrow types."""
        return from_arrow_schema(pa.schema({
            "url": pa.string(), "lat": pa.float64(), "lon": pa.float64(),
            **{c: pa.Array.from_pandas(v).type
               for c, v in (*self.admin.items(), *self.places.items())},
            "knn_dist_km": pa.float64()}))

    def nearest(self, lat: np.ndarray, lon: np.ndarray):
        """(place row, km) of each query's nearest place, the lower row on
        a distance tie; (-1, NaN) when there is no place."""
        best = np.full(lat.size, -1)
        dist = np.full(lat.size, np.nan)

        def pick(q, j):  # per query q (ascending), the min (km, row) over j
            d = haversine_np(lat[q], lon[q], self.plat[j], self.plon[j])
            first = np.lexsort((j, d, q))[np.flatnonzero(np.diff(q, prepend=-1))]
            best[q[first]], dist[q[first]] = j[first], d[first]

        cells = grid.cell_of(lat, lon, self.knn_res)
        for i, pos in _pairs(*_runs(self.ring_cell, cells)):
            pick(i, self.ring_row[pos])
        todo = np.flatnonzero(~(dist <= _guard_km_np(lat, res=self.knn_res,
                                                     k=self.k)))
        for i, j in _pairs(np.zeros(todo.size, dtype=np.int64),
                           np.full(todo.size, self.plat.size)):
            pick(todo[i], j)
        return best, dist

    def geocode(self, ext: pd.DataFrame) -> pd.DataFrame:
        """Rows of the extracted (url, lat, lon) batch ``ext``: one per
        (in-bbox point, containing polygon), named by the nearest place."""
        lat, lon = ext["lat"].to_numpy(), ext["lon"].to_numpy()
        lat_min, lat_max, lon_min, lon_max = self.bbox
        q = np.flatnonzero((lat >= lat_min) & (lat <= lat_max)
                           & (lon >= lon_min) & (lon <= lon_max))
        qs, polys = [q[:0]], [self.cover_row[:0]]
        cells = grid.cell_of(lat[q], lon[q], self.pip_res)
        for i, pos in _pairs(*_runs(self.cover_cell, cells)):
            qi, poly = q[i], self.cover_row[pos]
            hit = self.table.contains(poly, lon[qi], lat[qi])
            qs.append(qi[hit])
            polys.append(poly[hit])
        q, poly = np.concatenate(qs), np.concatenate(polys)
        place, dist = self.nearest(lat[q], lon[q])
        return pd.DataFrame({
            "url": ext["url"].to_numpy()[q], "lat": lat[q], "lon": lon[q],
            **{c: v[poly] for c, v in self.admin.items()},
            # row -1 (no place at all): null, through a float column for ints
            **{c: pd.api.extensions.take(v, place, allow_fill=True)
               for c, v in self.places.items()},
            "knn_dist_km": dist})

    def batches(self, pages: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """``mapInPandas`` kernel: (url, html) batches → geocoded rows."""
        for ext in extract_geo_batches(pages):
            yield self.geocode(ext)
