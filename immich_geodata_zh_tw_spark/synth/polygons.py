"""Synthetic Taiwan-like admin polygon table (FIXTURES.md §6).

The reference consumes NLSC village shapefiles (core/geodata/taiwan.py:50,
attributes COUNTYNAME/TOWNNAME/VILLNAME) which are not redistributable; we
synthesize a deterministic nested rectangle grid over the Taiwan bbox:

* 5 counties (lat bands) × 4 townships each (lon strips) = 20 townships,
* each township tiled ``village_grid × village_grid`` into villages,
* village #0 of the first township is emitted as a two-part MultiPolygon
  (enclave) and one village polygon deliberately straddles a grid-cell
  boundary — both per FIXTURES.md §6.

Geometry is WKB binary (SURVEY.md §1.1); centroids of these polygons seed the
cities table, keeping point/polygon/name tables mutually consistent the way
NLSC data does for the reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import TW_BBOX
from ..geo import proj, wkb

COUNTIES = ["臺北市", "新北市", "臺中市", "臺南市", "高雄市"]
N_TOWNSHIPS_PER_COUNTY = 4


def _rect(lon0: float, lat0: float, lon1: float, lat1: float) -> np.ndarray:
    return np.array([[lon0, lat0], [lon1, lat0], [lon1, lat1], [lon0, lat1],
                     [lon0, lat0]])


def admin_polygons_pdf(village_grid: int = 5) -> pd.DataFrame:
    """Columns: county, township, village, geometry_wkb, centroid lat/lon."""
    lat_min, lat_max, lon_min, lon_max = TW_BBOX
    n_c = len(COUNTIES)
    lat_step = (lat_max - lat_min) / n_c
    lon_step = (lon_max - lon_min) / N_TOWNSHIPS_PER_COUNTY
    rows = []
    for ci, county in enumerate(COUNTIES):
        clat0 = lat_min + ci * lat_step
        for tj in range(N_TOWNSHIPS_PER_COUNTY):
            township = f"{county[:2]}{tj + 1:02d}區"
            tlon0 = lon_min + tj * lon_step
            vlat = lat_step / village_grid
            vlon = lon_step / village_grid
            for vi in range(village_grid):
                for vj in range(village_grid):
                    village = f"{township}{vi * village_grid + vj + 1:03d}里"
                    lo, la = tlon0 + vj * vlon, clat0 + vi * vlat
                    if ci == 0 and tj == 0 and vi == 0 and vj == 0:
                        # enclave: two disjoint halves as a MultiPolygon
                        half = vlon / 2.0
                        buf = wkb.encode_multipolygon([
                            [_rect(lo, la, lo + half * 0.9, la + vlat)],
                            [_rect(lo + half * 1.1, la, lo + vlon, la + vlat)],
                        ])
                    else:
                        buf = wkb.encode_polygon([_rect(lo, la, lo + vlon, la + vlat)])
                    clat, clon = proj.centroid_of_wkb(buf)
                    rows.append((county, township, village, buf, clat, clon))
    return pd.DataFrame(rows, columns=[
        "county", "township", "village", "geometry_wkb",
        "centroid_lat", "centroid_lon"])
