"""Extract stage + synthetic fixtures: determinism and the byte-identity
invariant (BASELINE.json input_hint)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from immich_geodata_zh_tw_spark.extract import html_meta
from immich_geodata_zh_tw_spark.synth import TW_BBOX, cities, pages, polygons
from immich_geodata_zh_tw_spark.geo import pip


class TestExtractor:
    def test_text_strips_tags_scripts_entities(self):
        html = (b"<html><head><script>bad()</script><style>x{}</style></head>"
                b"<body><!-- c --><h1>Hi &amp; bye</h1>  <p>a\n b</p></body></html>")
        assert html_meta.extract_text(html) == "Hi & bye a b"

    def test_geo_position(self):
        h = b'<meta name="geo.position" content="25.04;121.51">'
        assert html_meta.extract_geo(h) == (25.04, 121.51)

    def test_icbm(self):
        h = b'<meta name="ICBM" content="25.04, 121.51">'
        assert html_meta.extract_geo(h) == (25.04, 121.51)

    def test_exif(self):
        h = b'<meta name="exif.gps" content="-25.04 -121.51">'
        assert html_meta.extract_geo(h) == (-25.04, -121.51)

    def test_no_geo(self):
        assert html_meta.extract_geo(b"<html><body>hi</body></html>") is None

    def test_invalid_range_rejected(self):
        h = b'<meta name="geo.position" content="95.0;121.51">'
        assert html_meta.extract_geo(h) is None


class TestPagesSynth:
    def test_deterministic(self):
        a = pages.pages_pdf(np.arange(50))
        b = pages.pages_pdf(np.arange(50))
        pd.testing.assert_frame_equal(a, b)

    def test_byte_identity_invariant(self):
        pdf = pages.pages_pdf(np.arange(200))
        for _, row in pdf.iterrows():
            assert html_meta.extract_text(row["html"]) == row["text"]

    def test_mix_fractions(self):
        ids = np.arange(5000)
        lat, lon = pages.page_coords(ids)
        nan = np.isnan(lat)
        lat_min, lat_max, lon_min, lon_max = TW_BBOX
        inb = (~nan & (lat >= lat_min) & (lat <= lat_max)
               & (lon >= lon_min) & (lon <= lon_max))
        assert 0.20 < nan.mean() < 0.30
        assert 0.55 < inb.mean() < 0.65

    def test_skew_cluster_present(self):
        ids = np.arange(20000)
        lat, lon = pages.page_coords(ids)
        dense = ((lat >= 24.95) & (lat <= 25.10) & (lon >= 121.35) & (lon <= 121.55))
        inb = (~np.isnan(lat) & (lat >= TW_BBOX[0]) & (lat <= TW_BBOX[1])
               & (lon >= TW_BBOX[2]) & (lon <= TW_BBOX[3]))
        assert dense.sum() / inb.sum() >= 0.28

    def test_extract_roundtrip_geo(self):
        ids = np.arange(300)
        pdf = pages.pages_pdf(ids)
        lat, lon = pages.page_coords(ids)
        for j in range(len(ids)):
            got = html_meta.extract_geo(pdf["html"].iloc[j])
            if np.isnan(lat[j]):
                assert got is None
            else:
                assert got is not None
                assert abs(got[0] - lat[j]) < 1e-6
                assert abs(got[1] - lon[j]) < 1e-6

    def test_distributed_matches_driver(self, spark):
        sdf = pages.pages_df(spark, 100, partitions=7).toPandas()
        sdf = sdf.sort_values("url").reset_index(drop=True)
        want = pages.pages_pdf(np.arange(100)).sort_values("url").reset_index(drop=True)
        # timestamps: Spark returns tz-naive; compare as strings
        assert sdf["url"].tolist() == want["url"].tolist()
        assert sdf["text"].tolist() == want["text"].tolist()
        assert [bytes(b) for b in sdf["html"]] == [bytes(b) for b in want["html"]]


class TestPolygonsCities:
    def test_polygon_counts(self):
        pdf = polygons.admin_polygons_pdf(village_grid=5)
        assert pdf["county"].nunique() == 5
        assert pdf["township"].nunique() == 20
        assert len(pdf) == 20 * 25

    def test_centroids_inside_own_polygon(self):
        pdf = polygons.admin_polygons_pdf(village_grid=3)
        for _, row in pdf.iterrows():
            ok = pip.contains_wkb(row["geometry_wkb"],
                                  np.array([row["centroid_lon"]]),
                                  np.array([row["centroid_lat"]]))[0]
            # the enclave centroid may fall in the gap between its two parts
            if "001里" == row["village"][-4:] and row["township"] == "臺北01區":
                continue
            assert ok, row["village"]

    def test_polygons_tile_without_overlap(self):
        pdf = polygons.admin_polygons_pdf(village_grid=3)
        rng = np.random.default_rng(0)
        lats = rng.uniform(TW_BBOX[0] + 0.01, TW_BBOX[1] - 0.01, 200)
        lons = rng.uniform(TW_BBOX[2] + 0.01, TW_BBOX[3] - 0.01, 200)
        counts = np.zeros(200, dtype=int)
        for _, row in pdf.iterrows():
            counts += pip.contains_wkb(row["geometry_wkb"], lons, lats)
        # every probe point is in exactly one village (enclave gap: zero)
        assert counts.max() == 1
        assert (counts == 1).mean() > 0.97

    def test_cities_ids_sequential_and_sorted(self):
        c = cities.cities_pdf(village_grid=3)
        assert c["geoname_id"].tolist() == list(
            range(cities.BASE_GEONAME_ID, cities.BASE_GEONAME_ID + len(c)))
        assert c[["admin_1", "admin_2", "name"]].equals(
            c[["admin_1", "admin_2", "name"]].sort_values(
                ["admin_1", "admin_2", "name"], kind="mergesort").reset_index(drop=True))

    def test_admin1_codes_dense_rank(self):
        c = cities.cities_pdf(village_grid=3)
        codes = c.groupby("admin_1")["admin1_code"].first().sort_index()
        assert codes.tolist() == [f"TW.{i+1}" for i in range(5)]


class TestGeoOnlyKernel:
    def test_geo_only_matches_full_kernel(self, spark):
        """extract_pages(with_text=False) must agree with the full kernel on
        every (url, lat, lon) — it is the same geo scan minus the text pass."""
        from immich_geodata_zh_tw_spark.extract.html_meta import extract_pages
        from immich_geodata_zh_tw_spark.synth.pages import pages_df

        pages = pages_df(spark, 500, partitions=4)
        full = (extract_pages(pages).drop("text").toPandas()
                .sort_values("url").reset_index(drop=True))
        geo = (extract_pages(pages, with_text=False).toPandas()
               .sort_values("url").reset_index(drop=True))
        assert list(geo.columns) == ["url", "lat", "lon"]
        assert geo.equals(full)

    def test_null_html_row(self, spark):
        """A null ``html`` (nullable in the pages schema) gives null
        lat/lon on both kernels and null text on the full one."""
        from immich_geodata_zh_tw_spark.extract.html_meta import extract_pages

        df = spark.createDataFrame(
            [("u0", b'<meta name="ICBM" content="25.1, 121.5"><p>hi</p>'),
             ("u1", None)], "url string, html binary")
        full = (extract_pages(df).toPandas()
                .sort_values("url").reset_index(drop=True))
        geo = (extract_pages(df, with_text=False).toPandas()
               .sort_values("url").reset_index(drop=True))
        assert geo.equals(full.drop(columns="text"))
        assert full.loc[0, ["lat", "lon", "text"]].tolist() == [25.1, 121.5, "hi"]
        assert full.loc[1, ["lat", "lon", "text"]].isna().all()
