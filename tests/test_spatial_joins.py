"""kNN join and PIP join vs brute-force oracles (SURVEY.md §5 item 3)."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from immich_geodata_zh_tw_spark.geo import distance, grid, pip, wkb
from immich_geodata_zh_tw_spark.operators import knn as knn_op
from immich_geodata_zh_tw_spark.operators import pipjoin
from immich_geodata_zh_tw_spark.synth import polygons


@pytest.fixture(scope="module")
def places_pdf():
    rng = np.random.default_rng(7)
    n = 200
    return pd.DataFrame({
        "place_id": np.arange(n),
        "pname": [f"place{i}" for i in range(n)],
        "latitude": rng.uniform(21.5, 25.5, n).round(8),
        "longitude": rng.uniform(119.5, 122.5, n).round(8),
    })


@pytest.fixture(scope="module")
def queries_pdf():
    rng = np.random.default_rng(11)
    n = 500
    lat = rng.uniform(21.0, 26.0, n)
    lon = rng.uniform(119.0, 123.0, n)
    # a few far-away isolated points to force escalation / brute-force path
    lat[:5] = [10.0, -30.0, 60.0, 21.0, 25.99]
    lon[:5] = [100.0, 150.0, -120.0, 119.0, 123.0]
    return pd.DataFrame({"qid": np.arange(n), "lat": lat, "lon": lon})


def brute_knn(queries_pdf, places_pdf):
    d = distance.haversine_np(
        queries_pdf["lat"].to_numpy()[:, None], queries_pdf["lon"].to_numpy()[:, None],
        places_pdf["latitude"].to_numpy()[None, :], places_pdf["longitude"].to_numpy()[None, :])
    best = np.argmin(d, axis=1)  # unique distances w.h.p. → argmin is the rule
    return pd.DataFrame({
        "qid": queries_pdf["qid"].to_numpy(),
        "place_id": places_pdf["place_id"].to_numpy()[best],
        "dist": d[np.arange(len(best)), best],
    })


class TestKnnJoin:
    def test_matches_bruteforce(self, spark, queries_pdf, places_pdf):
        q = spark.createDataFrame(queries_pdf)
        out = knn_op.knn_join(
            spark, q, places_pdf, query_id="qid",
            place_cols=["place_id", "pname"], res=10, k=1,
        ).toPandas().sort_values("qid").reset_index(drop=True)
        want = brute_knn(queries_pdf, places_pdf)
        assert len(out) == len(queries_pdf)
        assert out["place_id"].tolist() == want["place_id"].tolist()
        assert np.allclose(out["knn_dist_km"].to_numpy(), want["dist"].to_numpy(),
                           rtol=1e-9)

    def test_auto_ring_exact_and_guard_sufficient(self, spark, queries_pdf,
                                                   places_pdf):
        """res="auto" (the default) must pick a guard-sufficient (res, k)
        and return exactly the pinned-res result (exactness is res-
        independent by construction — this pins it)."""
        res, k = knn_op.auto_ring(places_pdf)
        assert 4 <= res <= 16 and 1 <= k <= 4
        spacing = knn_op.max_nn_spacing_km(places_pdf)
        assert k * knn_op.min_cell_km(
            res, abs(places_pdf["latitude"]).max()) >= spacing
        q = spark.createDataFrame(queries_pdf)
        auto = knn_op.knn_join(spark, q, places_pdf, query_id="qid",
                               place_cols=["place_id"])             .toPandas().sort_values("qid")
        pinned = knn_op.knn_join(spark, q, places_pdf, query_id="qid",
                                 place_cols=["place_id"], res=10, k=1)             .toPandas().sort_values("qid")
        assert auto["place_id"].tolist() == pinned["place_id"].tolist()
        assert np.allclose(auto["knn_dist_km"].to_numpy(),
                           pinned["knn_dist_km"].to_numpy(), rtol=1e-9)

    def test_duplicate_coordinate_places_exact_and_nondegenerate(
            self, spark, queries_pdf, places_pdf):
        """r6: exact coordinate duplicates (the driver's supplier places are
        mod-997 coordinate products, so any table beyond 997 rows stacks
        duplicates on every point) must neither change results nor zero the
        auto-ring spacing.  The min-tiebreak row among coordinate twins is
        the only possible 1-NN winner, so the reduction is exact; the brute
        reference over the FULL duplicated table pins it."""
        dup = pd.concat([
            places_pdf,
            places_pdf.assign(place_id=places_pdf["place_id"] + 1000),
            places_pdf.assign(place_id=places_pdf["place_id"] + 2000),
        ], ignore_index=True)
        # spacing measured over distinct points — identical to the base set
        assert (knn_op.max_nn_spacing_km(dup)
                == knn_op.max_nn_spacing_km(places_pdf))
        assert knn_op.auto_ring(dup) == knn_op.auto_ring(places_pdf)
        q = spark.createDataFrame(queries_pdf)
        out = knn_op.knn_join(
            spark, q, dup, query_id="qid", place_cols=["place_id", "pname"],
        ).toPandas().sort_values("qid").reset_index(drop=True)
        # brute reference over the raw duplicated table: min distance, ties
        # by min place_id — the duplicate of each winner with +1000/+2000
        # ids can never win
        want = brute_knn(queries_pdf, dup.sort_values("place_id")
                         .reset_index(drop=True))
        assert out["place_id"].tolist() == want["place_id"].tolist()
        assert np.allclose(out["knn_dist_km"].to_numpy(),
                           want["dist"].to_numpy(), rtol=1e-9)
        # static variant: the duplicated table must give exactly the base
        # table's rows (coverage may drop far-away queries EQUALLY — the
        # reduction removes only never-winning coordinate twins)
        st_dup = knn_op.knn_join_static(
            spark, q, dup, query_id="qid", place_cols=["place_id", "pname"],
            res=10, k=1).toPandas().sort_values("qid").reset_index(drop=True)
        st_base = knn_op.knn_join_static(
            spark, q, places_pdf, query_id="qid",
            place_cols=["place_id", "pname"],
            res=10, k=1).toPandas().sort_values("qid").reset_index(drop=True)
        pd.testing.assert_frame_equal(st_dup, st_base)

    def test_every_query_exactly_once(self, spark, queries_pdf, places_pdf):
        q = spark.createDataFrame(queries_pdf)
        out = knn_op.knn_join(spark, q, places_pdf, query_id="qid",
                              place_cols=["place_id"], res=8, k=1)
        counts = out.groupBy("qid").count().filter("count != 1").count()
        assert counts == 0
        assert out.count() == len(queries_pdf)

    def test_static_equals_escalating_on_tiling(self, spark):
        """The flagship's single-pass kNN must equal the exact escalating
        join when the ring-coverage precondition holds (village tiling)."""
        from immich_geodata_zh_tw_spark.synth import cities as cities_mod
        import pandas as pd

        cts = cities_mod.cities_pdf(village_grid=5)
        rng = np.random.default_rng(5)
        q = spark.createDataFrame(pd.DataFrame({
            "qid": np.arange(300),
            "lat": rng.uniform(21.5, 25.5, 300),
            "lon": rng.uniform(119.5, 122.5, 300)}))
        a = knn_op.knn_join(spark, q, cts, query_id="qid",
                            place_cols=["geoname_id"], place_lat="latitude",
                            place_lon="longitude", res=10, k=1).toPandas().sort_values("qid")
        b = knn_op.knn_join_static(spark, q, cts, query_id="qid",
                                   place_cols=["geoname_id"], res=10,
                                   k=1).toPandas().sort_values("qid")
        assert len(b) == 300  # coverage precondition held
        assert a["geoname_id"].tolist() == b["geoname_id"].tolist()

    def test_guard_detects_sparse_cities_and_falls_back(self, spark):
        """VERDICT.md round-1 item 5: a cities table sparser than the village
        tiling must NOT silently drop/mis-name rows — the flagship's kNN
        guard sends each row whose nearest city may lie outside its ring to
        the exact full-array scan, at any grid pick."""
        from immich_geodata_zh_tw_spark.extract.html_meta import extract_pages
        from immich_geodata_zh_tw_spark.functions.geo import in_bbox
        from immich_geodata_zh_tw_spark.plans.geocode_kernel import grid_res
        from immich_geodata_zh_tw_spark.plans.reverse_geocode import \
            reverse_geocode_pages
        from immich_geodata_zh_tw_spark.synth import TW_BBOX, pages, polygons

        p = pages.pages_df(spark, 400)
        expected = (extract_pages(p)
                    .filter(F.col("lat").isNotNull())
                    .filter(in_bbox(F.col("lat"), F.col("lon"), TW_BBOX))
                    .count())
        assert expected > 0
        polys = polygons.admin_polygons_pdf(village_grid=2)
        for lat, lon, res, ring_misses in [
            # four corners of the bbox: a res-6 one-ring guards their spacing
            # and covers the bbox
            ([21.7, 25.3, 21.7, 25.3], [119.7, 119.7, 122.3, 122.3], 6,
             False),
            # two pairs 300 km apart: res 8 guards their 51.5 km spacing,
            # but no city lies in a res-8 one-ring between the pairs
            ([25.0, 25.0, 22.2, 22.2], [121.3, 121.8, 120.4, 120.9], 8,
             True),
            # the corners plus a city half a world away: the pick ignores
            # the far city, which no page is near
            ([21.7, 25.3, 21.7, 25.3, -33.87],
             [119.7, 119.7, 122.3, 122.3, 151.21], 6, False),
            # one city in the bbox and one half a world away: no spacing
            # picks a res, so the kNN takes auto_ring's (res, k)
            ([23.5, -33.87], [121.0, 151.21], None, False),
        ]:
            n = len(lat)
            sparse = pd.DataFrame({
                "geoname_id": range(1, n + 1), "name": list("abcde"[:n]),
                "admin1_code": [f"0{i}" for i in range(1, n + 1)],
                "latitude": lat, "longitude": lon})
            assert grid_res(sparse) == res
            out = reverse_geocode_pages(spark, p, polys, sparse).toPandas()
            # every extracted in-bbox page row gets named (nothing dropped) …
            assert len(out) == expected
            # … and with the true nearest city (brute-force check)
            qlat, qlon = out["lat"].to_numpy(), out["lon"].to_numpy()
            d = distance.haversine_np(qlat[:, None], qlon[:, None],
                                      np.array(lat)[None, :],
                                      np.array(lon)[None, :])
            near = np.argmin(d, axis=1)
            assert out["geoname_id"].tolist() == (near + 1).tolist()
            if ring_misses:
                # some rows' nearest city lies outside their one-ring
                q = grid.cell_of(qlat, qlon, res)
                c = grid.cell_of(np.array(lat)[near], np.array(lon)[near], res)
                cheb = np.maximum(abs(grid.cell_row(q) - grid.cell_row(c)),
                                  abs(grid.cell_col(q) - grid.cell_col(c)))
                assert cheb.max() > 1

    def test_knn_join_is_one_plan_no_actions(self, spark, queries_pdf, places_pdf):
        """The general kNN must be a single narrow plan (round-1 ran per-round
        take(1) actions + a big-big left_anti): one Arrow pass over the
        queries, with no join and no exchange of any kind."""
        import re

        q = spark.createDataFrame(queries_pdf)
        out = knn_op.knn_join(spark, q, places_pdf, query_id="qid",
                              place_cols=["place_id"], res=10, k=1)
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted")
        assert plan.count("MapInPandas (") == 1, plan
        assert not re.search(r"\(\d+\) \w*Exchange\b", plan), plan
        assert "Join" not in plan and "ArrowEvalPython" not in plan, plan

    def test_empty_places_table_keeps_every_query(self, spark):
        """Every query row comes back, with no place and no distance, when
        the places table is empty or the query has a NULL or NaN
        coordinate; the ring-only join drops those rows.  A place with a NaN
        coordinate is never the nearest."""
        empty = pd.DataFrame({"place_id": pd.Series([], dtype="int64"),
                              "latitude": pd.Series([], dtype="float64"),
                              "longitude": pd.Series([], dtype="float64")})
        places = pd.DataFrame({"place_id": [1, 2, 3, 4],
                               "latitude": [23.0, 23.5, 24.0, np.nan],
                               "longitude": [121.0, 121.0, 121.0, 121.5]})
        q = spark.createDataFrame(
            [(0, 23.0, 121.0), (1, 24.0, 121.5), (2, None, 121.0),
             (3, 23.5, None), (4, float("nan"), 121.0)],
            "qid long, lat double, lon double")
        out = (knn_op.knn_join(spark, q, empty, query_id="qid",
                               place_cols=["place_id"], res=10, k=1)
               .toPandas().sort_values("qid"))
        assert out["qid"].tolist() == [0, 1, 2, 3, 4]
        assert out["place_id"].isna().all()
        assert out["knn_dist_km"].isna().all()
        out = (knn_op.knn_join(spark, q, places, query_id="qid",
                               place_cols=["place_id"], res=10, k=1)
               .toPandas().sort_values("qid"))
        assert out["qid"].tolist() == [0, 1, 2, 3, 4]
        assert out["place_id"].tolist()[:2] == [1, 3]
        assert out["place_id"].iloc[2:].isna().all()
        assert out["knn_dist_km"].iloc[2:].isna().all()
        out = (knn_op.knn_join_static(spark, q, places, query_id="qid",
                                      place_cols=["place_id"], res=10, k=1)
               .toPandas().sort_values("qid"))
        assert out["qid"].tolist() == [0]
        assert out["place_id"].tolist() == [1]

    def test_dense_single_cell(self, spark):
        # all queries and places inside one cell — degenerate skew case
        places = pd.DataFrame({
            "place_id": [1, 2, 3],
            "latitude": [25.001, 25.002, 25.003],
            "longitude": [121.501, 121.502, 121.503],
        })
        q = spark.createDataFrame(pd.DataFrame(
            {"qid": [0, 1], "lat": [25.0011, 25.0029], "lon": [121.5011, 121.5029]}))
        out = (knn_op.knn_join(spark, q, places, query_id="qid",
                               place_cols=["place_id"], res=10, k=1)
               .toPandas().sort_values("qid"))
        assert out["place_id"].tolist() == [1, 3]


    def test_pole_query_not_settled_by_far_column_candidate(self, spark):
        """Every longitude meets at the pole: a place there can be nearer
        than an in-ring candidate while sitting two cell columns away.  The
        guard must not settle the ring candidate (an 89.999° latitude cap
        did, at res 3: guard 0.044 km, ring candidate 0.024 km, true
        nearest 0.0096 km)."""
        places = pd.DataFrame({"place_id": [1, 2],
                               "latitude": [-90.0, -89.9997],
                               "longitude": [64.06131642329353, 103.24]})
        q = spark.createDataFrame(pd.DataFrame(
            {"qid": [0], "lat": [-89.99991342323736],
             "lon": [103.24353888242291]}))
        out = knn_op.knn_join(spark, q, places, query_id="qid",
                              place_cols=["place_id"], res=3, k=1).toPandas()
        d = distance.haversine_np(-89.99991342323736, 103.24353888242291,
                                  places["latitude"], places["longitude"])
        assert d[0] < d[1]
        assert out["place_id"].tolist() == [1]


class TestPipJoin:
    def test_points_in_synthetic_villages(self, spark):
        polys = polygons.admin_polygons_pdf(village_grid=3)
        polys = polys.reset_index().rename(columns={"index": "poly_id"})
        rng = np.random.default_rng(3)
        n = 300
        pts_pdf = pd.DataFrame({
            "pid": np.arange(n),
            "lat": rng.uniform(21.6, 25.4, n),
            "lon": rng.uniform(119.6, 122.4, n),
        })
        pts = spark.createDataFrame(pts_pdf)
        out = pipjoin.pip_join(
            spark, pts, polys, id_col="poly_id",
            attr_cols=["county", "township", "village"], res=9,
        ).toPandas().sort_values("pid")

        # oracle: brute-force PIP over all polygons
        want = {}
        for _, prow in polys.iterrows():
            inside = pip.contains_wkb(prow["geometry_wkb"],
                                      pts_pdf["lon"].to_numpy(),
                                      pts_pdf["lat"].to_numpy())
            for pid in pts_pdf["pid"].to_numpy()[inside]:
                assert pid not in want  # non-overlap invariant
                want[pid] = prow["poly_id"]
        assert dict(zip(out["pid"], out["poly_id"])) == want
        # sanity: nearly every in-bbox point is inside some village
        assert len(out) >= 0.95 * n

    def test_string_ids_in_any_order(self, spark):
        """Points get the id and attributes of their own polygon when the
        ids are strings and the table is not in id order."""
        polys = polygons.admin_polygons_pdf(village_grid=3).iloc[::-1]
        polys = polys.assign(poly_id=[f"v{i}" for i in range(len(polys))])
        rng = np.random.default_rng(4)
        pts_pdf = pd.DataFrame({"pid": np.arange(200),
                                "lat": rng.uniform(21.6, 25.4, 200),
                                "lon": rng.uniform(119.6, 122.4, 200)})
        out = pipjoin.pip_join(
            spark, spark.createDataFrame(pts_pdf), polys, id_col="poly_id",
            attr_cols=["village"], res=9).toPandas()
        want = {}
        for pid, village, buf in zip(polys["poly_id"], polys["village"],
                                     polys["geometry_wkb"]):
            inside = pip.contains_wkb(buf, pts_pdf["lon"], pts_pdf["lat"])
            want.update({p: (pid, village) for p in pts_pdf["pid"][inside]})
        assert len(want) > 150
        assert dict(zip(out["pid"], zip(out["poly_id"], out["village"]))) == want

    def test_enclave_multipolygon(self, spark):
        polys = polygons.admin_polygons_pdf(village_grid=5)
        polys = polys.reset_index().rename(columns={"index": "poly_id"})
        enc = polys.iloc[0]  # the two-part enclave village
        lon_min, lat_min, lon_max, lat_max = wkb.bounds_array(
            [enc["geometry_wkb"]])[0]
        # point in left part, point in the gap, point in right part
        lon_l = lon_min + 0.01 * (lon_max - lon_min)
        lon_r = lon_max - 0.01 * (lon_max - lon_min)
        lon_gap = (lon_min + lon_max) / 2
        lat_c = (lat_min + lat_max) / 2
        pts = spark.createDataFrame(pd.DataFrame(
            {"pid": [0, 1, 2], "lat": [lat_c] * 3, "lon": [lon_l, lon_gap, lon_r]}))
        out = pipjoin.pip_join(spark, pts, polys, id_col="poly_id",
                               attr_cols=["village"], res=9).toPandas()
        got = dict(zip(out["pid"], out["poly_id"]))
        assert got.get(0) == enc["poly_id"]
        assert got.get(2) == enc["poly_id"]
        assert 1 not in got  # gap belongs to no polygon


def reference_cover(polys_pdf, *, id_col, res):
    """One :func:`grid.covering_cells` call per polygon bbox."""
    cells, ids = [], []
    bounds = wkb.bounds_array(polys_pdf["geometry_wkb"])
    for pid, (lon_min, lat_min, lon_max, lat_max) in zip(polys_pdf[id_col],
                                                          bounds):
        c = grid.covering_cells(lat_min, lat_max, lon_min, lon_max, res)
        cells.extend(c.tolist())
        ids.extend([pid] * len(c))
    return cells, ids


def _box(lat0, lat1, lon0, lon1):
    return np.array([[lon0, lat0], [lon1, lat0], [lon1, lat1], [lon0, lat1]])


class TestPolygonCover:
    #: res 10 cells are exactly 0.17578125° on both axes (binary fraction)
    STEP = 180.0 / 1024

    def cover_polys(self):
        s = self.STEP
        lat0, lon0 = -90.0 + 640 * s, -180.0 + 1714 * s  # cell corners
        geoms = [
            # bbox edges exactly on cell boundaries: 2 × 3 cells, not 3 × 4
            wkb.encode_polygon([_box(lat0, lat0 + 2 * s, lon0, lon0 + 3 * s)]),
            # two parts and a hole: the cover is the union bbox's
            wkb.encode_multipolygon([
                [_box(21.9, 22.3, 120.1, 120.4),
                 _box(22.0, 22.1, 120.2, 120.3)],
                [_box(22.6, 22.7, 120.9, 121.3)]]),
            # degenerate ring (2 points): no edges, but its points count
            wkb.encode_polygon([np.array([[121.5, 24.0], [121.9, 24.4]])]),
            # zero-height bbox on a cell boundary: no cell at all
            wkb.encode_polygon([np.array([[lon0, lat0], [lon0 + s, lat0],
                                          [lon0 + 2 * s, lat0]])]),
            # a point-sized polygon inside one cell
            wkb.encode_polygon([_box(23.01, 23.01, 120.51, 120.51)]),
        ]
        return polygons.admin_polygons_pdf(village_grid=2).pipe(
            lambda df: pd.concat([
                df[["geometry_wkb"]],
                pd.DataFrame({"geometry_wkb": geoms})], ignore_index=True))

    def test_vertex_table_bboxes_give_the_same_cover(self):
        """pip_join covers the bboxes of its vertex table: the same cells as
        polygon_cells_pdf, a geometry without points included."""
        polys = self.cover_polys()
        polys.loc[len(polys)] = [struct.pack("<BII", 1, 3, 0)]  # no rings
        table = pip.PolygonTable.from_wkb(polys["geometry_wkb"])
        cell, row = pipjoin._cover(np.nan_to_num(table.bbox), 10)
        want = pipjoin.polygon_cells_pdf(polys.assign(i=range(len(polys))),
                                         id_col="i", res=10)
        assert cell.tolist() == want["cell"].tolist()
        assert row.tolist() == want["i"].tolist()

    @pytest.mark.parametrize("ids", ["int", "str"])
    def test_matches_per_polygon_loop(self, ids):
        polys = self.cover_polys()
        polys["poly_id"] = (np.arange(len(polys)) * 7 if ids == "int"
                            else [f"p{i}" for i in range(len(polys))])
        got = pipjoin.polygon_cells_pdf(polys, id_col="poly_id", res=10)
        cells, pids = reference_cover(polys, id_col="poly_id", res=10)
        assert got["cell"].tolist() == cells
        assert got["poly_id"].tolist() == pids
        assert got["poly_id"].dtype == polys["poly_id"].dtype
        # the edge-aligned box covers exactly its 2 × 3 cells
        n = len(polys) - 5
        assert (got["poly_id"] == polys["poly_id"][n]).sum() == 6
        assert (got["poly_id"] == polys["poly_id"][n + 3]).sum() == 0

    def test_empty_table(self):
        got = pipjoin.polygon_cells_pdf(
            pd.DataFrame({"poly_id": pd.Series([], dtype="int64"),
                          "geometry_wkb": pd.Series([], dtype=object)}),
            id_col="poly_id", res=10)
        assert len(got) == 0

    def test_spark_schema_of_integer_ids(self, spark):
        polys = self.cover_polys()
        polys.insert(0, "poly_id", range(len(polys)))
        cover = spark.createDataFrame(
            pipjoin.polygon_cells_pdf(polys, id_col="poly_id", res=10))
        assert cover.schema.simpleString() == "struct<cell:bigint,poly_id:bigint>"


class TestRasterVector:
    def test_wkt_ring_is_closed_and_ordered(self, spark):
        from immich_geodata_zh_tw_spark.operators import raster
        from immich_geodata_zh_tw_spark.geo import grid

        pts = spark.createDataFrame(pd.DataFrame(
            {"lat": [23.5], "lon": [121.0]}))
        r = raster.rasterize_points(pts, res=8)
        wkt = raster.raster_to_wkt(r, res=8).collect()[0]["wkt"]
        assert wkt.startswith("POLYGON((") and wkt.endswith("))")
        coords = [tuple(map(float, p.split())) for p in
                  wkt[len("POLYGON(("):-2].split(", ")]
        assert coords[0] == coords[-1]  # closed ring
        cell = int(grid.cell_of(23.5, 121.0, 8))
        lat_min, lat_max, lon_min, lon_max = (float(v) for v in
                                              grid.cell_bounds(cell))
        assert coords[0] == (lon_min, lat_min)
        assert coords[2] == (lon_max, lat_max)

    def test_bounds_contain_contributing_points(self, spark):
        from immich_geodata_zh_tw_spark.operators import raster

        rng = np.random.default_rng(2)
        pdf = pd.DataFrame({"lat": rng.uniform(21.5, 25.5, 500),
                            "lon": rng.uniform(119.5, 122.5, 500)})
        pts = spark.createDataFrame(pdf)
        r = raster.raster_bounds(
            raster.rasterize_points(pts, res=9), res=9).toPandas()
        # re-assign each point to its cell and check the box contains it
        from immich_geodata_zh_tw_spark.geo import grid
        cells = grid.cell_of(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), 9)
        by_cell = r.set_index("cell")
        for (la, lo), c in zip(pdf.to_numpy(), cells):
            row = by_cell.loc[int(c)]
            assert row["lat_min"] <= la <= row["lat_max"]
            assert row["lon_min"] <= lo <= row["lon_max"]


def test_auto_res_with_pinned_k_rejected(spark):
    import pandas as pd
    places = pd.DataFrame({"place_id": [1, 2],
                           "latitude": [24.0, 24.2],
                           "longitude": [121.0, 121.2]})
    q = spark.createDataFrame([(1, 24.1, 121.1)], "qid int, lat double, lon double")
    import pytest
    with pytest.raises(ValueError, match="pass an explicit res"):
        knn_op.knn_join(spark, q, places, query_id="qid",
                        place_cols=["place_id"], k=3)
