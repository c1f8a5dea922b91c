"""End-to-end enhance/translate pipeline (the reference's `main.py release`
semantics) over FIXTURES.md-style small tables — reference-invariant tests
(SURVEY.md §5 item 2)."""

from __future__ import annotations

from contextlib import contextmanager
from functools import reduce

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from immich_geodata_zh_tw_spark.plans import enhance


@pytest.fixture(scope="module")
def geodata(spark):
    rows = [
        # latitude, longitude, country, admin_1, admin_2, admin_3, admin_4
        (25.03, 121.51, "臺灣", "臺北市", "大安區", "甲里", None),
        (25.05, 121.55, "臺灣", "臺北市", "信義區", "乙里", None),
        (24.15, 120.67, "臺灣", "臺中市", "西屯區", "丙里", None),
        (22.63, 120.30, "臺灣", "高雄市", "前金區", "", None),      # null token
        (23.48, 120.45, "臺灣", "嘉義縣", "民雄鄉", "None", None),  # null token
    ]
    return spark.createDataFrame(pd.DataFrame(
        rows, columns=["latitude", "longitude", "country", "admin_1",
                       "admin_2", "admin_3", "admin_4"]))


@pytest.fixture(scope="module")
def tw_geodata(geodata):
    """``geodata`` as one country's rows of the enhance union."""
    return geodata.select(F.lit("TW").alias("country_code"), "*")


@pytest.fixture(scope="module")
def admin1(spark):
    rows = [("TW.01", "old_a", "old_a", "100"), ("JP.13", "東京都", "Tokyo", "200")]
    return spark.createDataFrame(pd.DataFrame(
        rows, columns=["id", "name", "asciiname", "geoname_id"]))


class TestAdmin1:
    def test_codes_and_ids(self, spark, tw_geodata, admin1):
        recs = enhance.generate_admin1_records(tw_geodata,
                                               bases={"TW": 1000})
        pdf = recs.toPandas().sort_values("id").reset_index(drop=True)
        # 4 distinct admin_1, alphabetical dense rank, width = len('4') = 1
        assert pdf["id"].tolist() == ["TW.1", "TW.2", "TW.3", "TW.4"]
        assert sorted(pdf["name"]) == ["嘉義縣", "臺中市", "臺北市", "高雄市"]
        assert sorted(int(i) for i in pdf["geoname_id"]) == [1000, 1001, 1002, 1003]

    def test_replace_by_prefix(self, spark, tw_geodata, admin1):
        recs = enhance.generate_admin1_records(tw_geodata,
                                               bases={"TW": 1000})
        merged = enhance.update_admin1(admin1, recs,
                                       country_codes=["TW"]).toPandas()
        assert "TW.01" not in set(merged["id"])      # old TW rows gone
        assert "JP.13" in set(merged["id"])          # other countries kept
        assert len(merged) == 5


class TestConvertAndMerge:
    def test_convert_schema_and_ids(self, spark, tw_geodata):
        a1 = enhance.generate_admin1_records(tw_geodata, bases={"TW": 1000})
        cities = enhance.convert_to_cities_schema(
            tw_geodata, bases={"TW": 2000}, admin1_codes=a1)
        pdf = cities.toPandas()
        assert len(pdf) == 5
        assert sorted(int(i) for i in pdf["geoname_id"]) == list(range(2000, 2005))
        # null tokens became null → name falls back to admin_2
        byname = pdf.set_index("admin2_code")["name"].to_dict()
        assert byname["前金區"] == "前金區"
        assert byname["大安區"] == "甲里"
        # admin1 code is the numeric suffix of the admin1 id
        assert set(pdf["admin1_code"]) <= {"1", "2", "3", "4"}
        assert (pdf["latitude"] == pdf["latitude"].round(8)).all()

    def test_global_max_and_merge_dedup(self, spark):
        cities = spark.createDataFrame(pd.DataFrame({
            "geoname_id": ["10", "11"],
            "latitude": [1.0, 2.0], "longitude": [1.0, 2.0],
            "population": [500, 600],
        }))
        extra = spark.createDataFrame(pd.DataFrame({
            "geoname_id": ["11", "12", "13", "14"],
            "latitude": [2.0, 1.0, 3.0, 3.0],
            "longitude": [2.0, 1.0, 3.0, 3.0],
            "population": [999, 700, 50, 800],
        }))
        assert enhance.global_max_geoname_id_df([cities, extra]).first().m == 14
        out = enhance.merge_extra_data(cities, extra, min_population=100).toPandas()
        got = dict(zip(out["geoname_id"], out["population"]))
        # id 11 not re-added (anti-join); id 13 below pop floor;
        # (1,1): existing 10 (pop 500) loses to new 12 (pop 700)
        assert got == {"12": 700, "11": 600, "14": 800}


def per_table_max(tables):
    """The per-table form of the global max id: one aggregate per table."""
    maxes = [t.agg(F.max(F.col("geoname_id").cast("long")).alias("m"))
             for t in tables]
    return reduce(DataFrame.unionByName, maxes).agg(F.max("m").alias("m"))


@contextmanager
def ansi(spark, on: bool):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(on).lower())
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def id_tables(spark, *columns):
    return [spark.createDataFrame([(v,) for v in ids], "geoname_id string")
            for ids in columns]


class TestGlobalMaxId:
    @pytest.mark.parametrize("columns, want", [
        ((["10", "11"], []), 11),             # one table empty
        ((["5", None], [None], ["3"]), 5),    # NULL ids are skipped
        (([], []), None),                     # all empty: m is NULL
        (([None], []), None),
    ])
    def test_union_form_equals_per_table_form(self, spark, columns, want):
        tables = id_tables(spark, *columns)
        got = enhance.global_max_geoname_id_df(tables).first().m
        assert got == per_table_max(tables).first().m == want

    def test_non_numeric_ids(self, spark):
        """Without ANSI casts a non-numeric id is NULL and skipped; with
        them (Spark's default) both forms fail the cast."""
        columns = (["abc", "7"], ["12x", None])
        with ansi(spark, False):
            tables = id_tables(spark, *columns)
            assert (enhance.global_max_geoname_id_df(tables).first().m
                    == per_table_max(tables).first().m == 7)
        with ansi(spark, True):
            tables = id_tables(spark, *columns)
            for form in (enhance.global_max_geoname_id_df, per_table_max):
                with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
                    form(tables).first()

    def test_ids_start_at_one_when_every_table_is_empty(self, spark,
                                                        geodata):
        admin1, _, city_bases = enhance.enhance_countries(
            {"TW": geodata}, id_tables(spark, [], []))
        assert sorted(int(r.geoname_id) for r in admin1.collect()) == [
            1, 2, 3, 4]
        assert city_bases == {"TW": 5}  # after the 4 admin1 ids


class TestTranslate:
    def test_priority_and_passthrough(self, spark):
        cities = spark.createDataFrame(pd.DataFrame({
            "geoname_id": ["1", "2", "3", "4", "5"],
            "name": ["Tokyo", "Seoul", "臺北", "Nagoya", "Osaka"],
            "country_code": ["JP", "KR", "TW", "JP", "JP"],
            "latitude": [35.0, 37.5, 25.0, 35.2, 34.7],
            "longitude": [139.0, 127.0, 121.5, 136.9, 135.5],
            "alternatenames": [None, None, None, "Nagoya,名古屋", None],
        }))
        metadata = spark.createDataFrame(pd.DataFrame({
            "country_code": ["JP", "JP"],
            "latitude": [35.0, 34.7], "longitude": [139.0, 135.5],
            "admin_2": ["東京都", "大裏區裏"],
        }))
        alt = spark.createDataFrame(pd.DataFrame({
            "geoname_id": ["2", "2", "3"],
            "lang": ["zh", "zh-TW", "zh-TW"],
            "name": ["首尔", "首爾", "XX桃園縣XX"],
            "is_preferred_name": [1, None, None],
        }))
        zh = enhance.pick_chinese_names(alt)
        out = enhance.translate_cities500(cities, metadata, zh).toPandas()
        got = dict(zip(out["geoname_id"], out["name"]))
        assert got["1"] == "東京都"   # metadata join wins
        assert got["2"] == "首爾"     # zh-TW outranks zh+preferred
        assert got["3"] == "臺北"     # TW passthrough keeps original
        assert got["4"] == "名古屋"   # F11 alternatenames scan fallback
        assert got["5"] == "大里區裏"  # 裏→里 fixup, FIRST occurrence only
        # asciiname mirrors the final name (reference translate.py:323-326)
        assert dict(zip(out["geoname_id"], out["asciiname"])) == got

    def test_taoyuan_rewrite(self, spark):
        alt = spark.createDataFrame(pd.DataFrame({
            "geoname_id": ["9"], "lang": ["zh-TW"], "name": ["桃園縣中壢市"],
            "is_preferred_name": [None],
        }))
        out = enhance.pick_chinese_names(alt).toPandas()
        assert out["alternate_name"].iloc[0] == "桃園市中壢市"
