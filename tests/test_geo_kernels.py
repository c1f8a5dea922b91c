"""Unit tests for the dependency-free geometry kernels (SURVEY.md §5 item 1)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from immich_geodata_zh_tw_spark.geo import distance, grid, pip, proj, wkb


class TestGrid:
    def test_roundtrip_center(self):
        lat, lon = 25.04, 121.51  # Taipei
        c = grid.cell_of(lat, lon, 13)
        clat, clon = grid.cell_center(c)
        lat_step, lon_step = grid.cell_size_deg(13)
        assert abs(clat - lat) <= lat_step / 2
        assert abs(clon - lon) <= lon_step / 2

    def test_fields(self):
        c = grid.cell_of(25.04, 121.51, 13)
        assert grid.cell_res(c) == 13
        lat_min, lat_max, lon_min, lon_max = grid.cell_bounds(c)
        assert lat_min <= 25.04 < lat_max
        assert lon_min <= 121.51 < lon_max

    def test_nan_maps_to_minus_one(self):
        out = grid.cell_of(np.array([25.0, np.nan]), np.array([121.0, 121.0]), 10)
        assert out[0] > 0 and out[1] == -1

    def test_vectorized_matches_scalar(self):
        rng = np.random.default_rng(42)
        lats = rng.uniform(-89, 89, 100)
        lons = rng.uniform(-180, 180, 100)
        vec = grid.cell_of(lats, lons, 12)
        for i in range(100):
            assert vec[i] == grid.cell_of(lats[i], lons[i], 12)

    @given(st.floats(-89.9, 89.9), st.floats(-179.9, 179.9),
           st.integers(0, grid.MAX_RES))
    @settings(max_examples=200, deadline=None)
    def test_point_always_in_own_cell_bounds(self, lat, lon, res):
        c = grid.cell_of(lat, lon, res)
        lat_min, lat_max, lon_min, lon_max = grid.cell_bounds(c)
        assert lat_min - 1e-9 <= lat <= lat_max + 1e-9
        assert lon_min - 1e-9 <= lon <= lon_max + 1e-9

    def test_k_ring_counts_and_membership(self):
        c = grid.cell_of(25.04, 121.51, 13)
        ring = grid.k_ring(np.array([c]), 1)
        assert ring.shape == (1, 9)
        assert c in ring[0]
        assert len(set(ring[0].tolist())) == 9  # no pole clamping here

    def test_k_ring_pole_clamp(self):
        c = grid.cell_of(89.99, 0.0, 4)  # top row
        ring = grid.k_ring(np.array([c]), 1)
        assert (ring[0] == -1).sum() == 3  # rows above the pole dropped

    def test_k_ring_lon_wrap(self):
        c = grid.cell_of(0.0, 179.99, 4)
        ring = grid.k_ring(np.array([c]), 1)
        valid = ring[0][ring[0] >= 0]
        cols = grid.cell_col(valid)
        assert 0 in cols  # wrapped across the antimeridian

    def test_parent(self):
        c = grid.cell_of(25.04, 121.51, 13)
        p = grid.cell_to_parent(np.array([c]), 11)[0]
        assert p == grid.cell_of(25.04, 121.51, 11)

    def test_covering_cells(self):
        cells = grid.covering_cells(21.5, 25.5, 119.5, 122.5, 8)
        # every cell center (clamped into the bbox) must encode back to itself
        lat, lon = grid.cell_center(cells)
        back = grid.cell_of(lat, lon, 8)
        assert np.array_equal(np.sort(back), np.sort(cells))
        # a point inside the bbox must land in one of the covering cells
        assert grid.cell_of(23.3, 120.7, 8) in set(cells.tolist())


class TestWkbPip:
    def _square(self, lon0, lat0, size):
        return np.array([
            [lon0, lat0], [lon0 + size, lat0],
            [lon0 + size, lat0 + size], [lon0, lat0 + size], [lon0, lat0],
        ])

    def test_wkb_roundtrip_polygon(self):
        ring = self._square(121.0, 24.0, 0.5)
        buf = wkb.encode_polygon([ring])
        rings = wkb.decode(buf)
        assert len(rings) == 1
        assert np.allclose(rings[0], ring)

    def test_wkb_roundtrip_multipolygon(self):
        p1 = [self._square(121.0, 24.0, 0.5)]
        p2 = [self._square(120.0, 22.0, 0.3)]
        buf = wkb.encode_multipolygon([p1, p2])
        rings = wkb.decode(buf)
        assert len(rings) == 2

    def test_pip_square(self):
        buf = wkb.encode_polygon([self._square(121.0, 24.0, 1.0)])
        lon = np.array([121.5, 120.9, 122.1, 121.0001])
        lat = np.array([24.5, 24.5, 24.5, 24.0001])
        assert pip.contains_wkb(buf, lon, lat).tolist() == [True, False, False, True]

    def test_pip_hole(self):
        outer = self._square(0.0, 0.0, 10.0)
        hole = self._square(4.0, 4.0, 2.0)
        buf = wkb.encode_polygon([outer, hole])
        lon = np.array([5.0, 1.0, 11.0])
        lat = np.array([5.0, 1.0, 5.0])
        # center is inside the hole → outside
        assert pip.contains_wkb(buf, lon, lat).tolist() == [False, True, False]

    def test_pip_concave(self):
        # L-shape: point in the notch must be outside
        ring = np.array([[0, 0], [4, 0], [4, 4], [2, 4], [2, 2], [0, 2], [0, 0]],
                        dtype=float)
        buf = wkb.encode_polygon([ring])
        lon = np.array([1.0, 3.0, 1.0, 3.0])
        lat = np.array([1.0, 1.0, 3.0, 3.0])
        assert pip.contains_wkb(buf, lon, lat).tolist() == [True, True, False, True]

    @given(st.floats(0.1, 9.9), st.floats(0.1, 9.9))
    @settings(max_examples=100, deadline=None)
    def test_pip_matches_box_test(self, x, y):
        buf = wkb.encode_polygon([self._square(2.0, 3.0, 5.0)])
        expected = (2.0 < x < 7.0) and (3.0 < y < 8.0)
        got = pip.contains_wkb(buf, np.array([x]), np.array([y]))[0]
        if min(abs(x - 2), abs(x - 7)) > 1e-9 and min(abs(y - 3), abs(y - 8)) > 1e-9:
            assert bool(got) == expected


class TestProjDistance:
    def test_square_centroid(self):
        ring = np.array([[121.0, 24.0], [121.2, 24.0], [121.2, 24.2],
                         [121.0, 24.2], [121.0, 24.0]])
        lat, lon = proj.polygon_centroid([ring])
        assert lat == pytest.approx(24.1, abs=1e-9)
        assert lon == pytest.approx(121.1, abs=1e-9)

    def test_centroid_of_wkb_triangle(self):
        ring = np.array([[0.0, 0.0], [3.0, 0.0], [0.0, 3.0], [0.0, 0.0]])
        lat, lon = proj.centroid_of_wkb(wkb.encode_polygon([ring]))
        assert lat == pytest.approx(1.0, abs=1e-6)
        assert lon == pytest.approx(1.0, abs=1e-6)

    def test_haversine_known(self):
        # Taipei 101 → Kaohsiung ~300 km
        d = distance.haversine_np(25.0340, 121.5645, 22.6273, 120.3014)
        assert 290 < d < 310

    def test_haversine_zero(self):
        assert distance.haversine_np(25.0, 121.0, 25.0, 121.0) == 0.0


class TestHaversineParity:
    def test_column_matches_numpy(self, spark):
        import pandas as pd

        rng = np.random.default_rng(7)
        df = pd.DataFrame({
            "lat1": rng.uniform(21, 26, 50), "lon1": rng.uniform(119, 123, 50),
            "lat2": rng.uniform(21, 26, 50), "lon2": rng.uniform(119, 123, 50),
        })
        from pyspark.sql import functions as F
        sdf = spark.createDataFrame(df).withColumn(
            "d", distance.haversine_col(F.col("lat1"), F.col("lon1"),
                                        F.col("lat2"), F.col("lon2")))
        got = np.array([r["d"] for r in sdf.select("d").collect()])
        want = distance.haversine_np(df.lat1, df.lon1, df.lat2, df.lon2)
        # collect() order matches input order for a no-shuffle plan
        assert np.allclose(np.sort(got), np.sort(want), rtol=1e-12)
