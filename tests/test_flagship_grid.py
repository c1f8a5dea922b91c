"""The flagship's computed grids (``plans.geocode_kernel.grid_res`` over
the cities and over the polygon bbox centres) and what they buy: every row
settles on its kNN one-ring, and few candidates per row.  The lattice
checks are driver-side numpy, no Spark session."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from immich_geodata_zh_tw_spark.geo import distance, grid, wkb
from immich_geodata_zh_tw_spark.operators.knn import _guard_km_np
from immich_geodata_zh_tw_spark.operators.pipjoin import polygon_cells_pdf
from immich_geodata_zh_tw_spark.plans.geocode_kernel import grid_res
from immich_geodata_zh_tw_spark.synth import TW_BBOX, cities, polygons


def bbox_centres(polys_pdf) -> pd.DataFrame:
    lon0, lat0, lon1, lat1 = wkb.bounds_array(polys_pdf["geometry_wkb"]).T
    return pd.DataFrame({"latitude": (lat0 + lat1) / 2,
                         "longitude": (lon0 + lon1) / 2})


@pytest.mark.parametrize("village_grid, res", [(2, 8), (5, 10), (20, 12)])
def test_pick(village_grid, res):
    """The cities and the polygon bbox centres pick the same res."""
    assert grid_res(cities.cities_pdf(village_grid)) == res
    assert grid_res(bbox_centres(
        polygons.admin_polygons_pdf(village_grid))) == res


def test_no_res_guards_a_two_place_table():
    """Taipei and Sydney: only Taipei lies in the bbox, so no spacing
    picks a res and the flagship's kNN takes auto_ring's (res, k)."""
    two = pd.DataFrame({"latitude": [25.03, -33.87],
                        "longitude": [121.56, 151.21]})
    assert grid_res(two) is None
    assert grid_res(two.iloc[:1]) is None  # no spacing at all


@pytest.mark.parametrize("village_grid", [2, 20])
def test_far_points_do_not_coarsen_the_pick(village_grid):
    """A place or polygon far outside the bbox leaves the pick alone: no
    query can lie near it."""
    cts = cities.cities_pdf(village_grid)
    far = cts.iloc[:1].assign(latitude=-33.87, longitude=151.21)
    assert grid_res(pd.concat([cts, far])) == grid_res(cts)
    centres = bbox_centres(polygons.admin_polygons_pdf(village_grid))
    assert (grid_res(pd.concat([centres, far[["latitude", "longitude"]]]))
            == grid_res(centres))


def lattice(step_frac: float, res: int):
    """Points every ``step_frac`` of a cell over the village tiling (the
    bbox), offset from cell boundaries by half a step."""
    lat_min, lat_max, lon_min, lon_max = TW_BBOX
    lat_step, lon_step = grid.cell_size_deg(res)
    lat = np.arange(lat_min + lat_step * step_frac / 2, lat_max,
                    lat_step * step_frac)
    lon = np.arange(lon_min + lon_step * step_frac / 2, lon_max,
                    lon_step * step_frac)
    glat, glon = np.meshgrid(lat, lon, indexing="ij")
    return glat.ravel(), glon.ravel()


def brute_nearest(lat, lon, plat, plon, chunk: int = 512,
                  band_deg: float = 0.25) -> np.ndarray:
    """Index of the nearest place of every point: haversine to every place
    within ``band_deg`` of latitude of a chunk of points, ``chunk`` points
    at a time.  A place outside the band is at least ``band_deg`` of arc
    away, so the band is asserted to hold each point's nearest."""
    order = np.argsort(plat, kind="stable")
    plat, plon = plat[order], plon[order]
    out = np.empty(lat.size, dtype=np.int64)
    for i0 in range(0, lat.size, chunk):
        qlat, qlon = lat[i0:i0 + chunk], lon[i0:i0 + chunk]
        lo = np.searchsorted(plat, qlat.min() - band_deg, "left")
        hi = np.searchsorted(plat, qlat.max() + band_deg, "right")
        d = distance.haversine_np(qlat[:, None], qlon[:, None],
                                  plat[None, lo:hi], plon[None, lo:hi])
        j = d.argmin(axis=1)
        assert (d[np.arange(j.size), j]
                < np.radians(band_deg) * distance.EARTH_RADIUS_KM).all()
        out[i0:i0 + chunk] = order[lo + j]
    return out


class TestPick:
    """At 8,000 villages the pick is res 12, where the k=1 guard (4.37 km)
    exceeds the spacing (3.88 km) by only 1.13×: pin on a lattice of 16
    points per cell that no row pays the kNN's full-array fallback."""

    VILLAGE_GRID = 20

    @pytest.fixture(scope="class")
    def case(self):
        cts = cities.cities_pdf(self.VILLAGE_GRID)
        res = grid_res(cts)
        lat, lon = lattice(0.25, res)
        return cts, res, lat, lon

    def test_every_row_settles_on_its_ring(self, case):
        cts, res, lat, lon = case
        plat = cts["latitude"].to_numpy()
        plon = cts["longitude"].to_numpy()
        near = brute_nearest(lat, lon, plat, plon)
        d = distance.haversine_np(lat, lon, plat[near], plon[near])
        assert lat.size > 90_000
        assert (d <= _guard_km_np(lat, res=res, k=1)).all()

    def test_candidates_per_row(self, case):
        """PIP candidates per point ≤ 5 and kNN candidates per query ≤ 15
        at the picks (a fixed res 10 gave 29.7 and 175)."""
        cts, res, lat, lon = case
        polys = polygons.admin_polygons_pdf(self.VILLAGE_GRID)
        polys.insert(0, "poly_id", range(len(polys)))
        pip_res = grid_res(bbox_centres(polys))
        cover = polygon_cells_pdf(polys, id_col="poly_id", res=pip_res)
        q = grid.cell_of(lat, lon, pip_res)
        per_cell = cover.groupby("cell").size()
        pip_cand = per_cell.reindex(q, fill_value=0).to_numpy()
        q = grid.cell_of(lat, lon, res)
        places = pd.Series(grid.cell_of(cts["latitude"].to_numpy(),
                                        cts["longitude"].to_numpy(), res))
        per_cell = places.value_counts()
        ring = grid.k_ring(q, 1)
        knn_cand = per_cell.reindex(ring.ravel(), fill_value=0).to_numpy()
        knn_cand = knn_cand.reshape(ring.shape).sum(axis=1)
        assert pip_cand.min() >= 1 and pip_cand.mean() <= 5
        assert knn_cand.min() >= 1 and knn_cand.mean() <= 15
