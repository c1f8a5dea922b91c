"""Stage-gated release runner (reference main.py:189-271 --pass-* flags)."""

from __future__ import annotations

import pandas as pd
import pytest

from immich_geodata_zh_tw_spark.plans.release import run_release


@pytest.fixture()
def inputs(spark):
    tw_raw = spark.createDataFrame(pd.DataFrame({
        "COUNTYNAME": ["臺北市", "高雄市"], "TOWNNAME": ["中正區", "左營區"],
        "VILLNAME": ["建國里", "裏港里"],
        "latitude": [25.032, 22.690], "longitude": [121.519, 120.294],
    }))
    cities = spark.createDataFrame(pd.DataFrame({
        "geoname_id": ["100", "200"],
        "name": ["Old TW Row", "Paris"],
        "asciiname": ["Old TW Row", "Paris"],
        "alternatenames": [None, "paris,巴黎"],
        "latitude": [25.0, 48.85], "longitude": [121.5, 2.35],
        "feature_class": ["P", "P"], "feature_code": ["PPL", "PPL"],
        "country_code": ["TW", "FR"], "cc2": [None, None],
        "admin1_code": [None, "11"], "admin2_code": [None, None],
        "admin3_code": [None, None], "admin4_code": [None, None],
        "population": [100, 2000000], "elevation": [None, None],
        "dem": [0, 0], "timezone": ["Asia/Taipei", "Europe/Paris"],
        "modification_date": pd.to_datetime(["2026-01-01", "2026-01-01"]).date,
    }))
    admin1 = spark.createDataFrame(pd.DataFrame({
        "id": ["TW.99", "FR.11"], "name": ["stale", "Île-de-France"],
        "asciiname": ["stale", "Ile-de-France"], "geoname_id": ["9", "10"],
    }))
    metadata = spark.createDataFrame(pd.DataFrame({
        "country_code": ["FR"], "latitude": [48.85], "longitude": [2.35],
        "admin_2": ["巴黎市"],
    }))
    chinese = spark.createDataFrame(pd.DataFrame({
        "geoname_id": ["200"], "alternate_name": ["巴黎"],
    }))
    admin2 = spark.createDataFrame(pd.DataFrame({
        "id": ["FR.11.75"], "name": ["Paris"], "asciiname": ["Paris"],
        "geoname_id": ["5000"],  # the global max — must win the id scan
    }))
    return dict(country_inputs={"TW": tw_raw}, cities=cities, admin1=admin1,
                metadata=metadata, chinese_names=chinese, admin2=admin2)


class TestReleaseRunner:
    def test_full_run_produces_release(self, spark, tmp_path, inputs):
        res = run_release(spark, workdir=tmp_path, **inputs,
                          release_date="2026-08-16")
        translated = spark.read.parquet(res["translated"]).toPandas()
        # TW handler replaced the stale TW row with 2 village rows
        tw = translated[translated["country_code"] == "TW"]
        assert len(tw) == 2
        assert set(tw["name"]) == {"建國里", "里港里"}  # 裏→里 fixup applied
        # FR row translated via the metadata coordinate join
        fr = translated[translated["country_code"] == "FR"]
        assert fr["name"].tolist() == ["巴黎市"]
        # admin1 replace-by-key: stale TW.99 gone, new TW.* present, FR kept
        a1 = spark.read.parquet(res["admin1"]).toPandas()
        assert "TW.99" not in set(a1["id"])
        assert any(i.startswith("TW.") for i in a1["id"])
        assert "FR.11" in set(a1["id"])
        # admin2Codes participates in the global max-id scan
        # (geoname_ids.py:36-42): every allocated id clears its 5000
        a1_ids = a1["geoname_id"].astype("int64")
        assert (a1_ids[a1["id"].str.startswith("TW.")] > 5000).all()
        # pack artifacts exist, admin2Codes with real content
        # (pack_release.py:40 — was an empty placeholder in round 2)
        assert "FR.11.75" in (tmp_path / "admin2Codes.txt").read_text()
        import zipfile
        with zipfile.ZipFile(res["zip"]) as zf:
            assert "geodata/cities500.txt" in zf.namelist()
            a2 = [n for n in zf.namelist() if n.endswith("admin2Codes.txt")]
            assert a2 and zf.read(a2[0])  # non-empty in the archive too

    def test_cities500_txt_is_in_geonames_field_order(self, spark, tmp_path,
                                                      inputs):
        """cities500.txt is read by position (sources.geonames.read_cities_tsv,
        Immich's importer): its columns must be CITIES_SCHEMA's, in order."""
        from immich_geodata_zh_tw_spark.sources.geonames import (
            CITIES_SCHEMA, read_cities_tsv)

        res = run_release(spark, workdir=tmp_path, **inputs,
                          release_date="2026-08-16")
        translated = spark.read.parquet(res["translated"])
        assert translated.columns == CITIES_SCHEMA.fieldNames()
        txt = read_cities_tsv(spark, str(tmp_path / "cities500.txt"))
        got = sorted(txt.collect(), key=lambda r: r["geoname_id"])
        want = sorted(translated.collect(), key=lambda r: r["geoname_id"])
        assert [(r["geoname_id"], r["name"], r["latitude"], r["longitude"],
                 r["country_code"], r["population"]) for r in got] == [
            (r["geoname_id"], r["name"], r["latitude"], r["longitude"],
             r["country_code"], r["population"]) for r in want]
        fr = [r for r in got if r["country_code"] == "FR"]
        assert [(r["name"], r["timezone"]) for r in fr] == [
            ("巴黎市", "Europe/Paris")]

    def test_skip_stages_reuses_artifacts(self, spark, tmp_path, inputs):
        run_release(spark, workdir=tmp_path, **inputs,
                    skip={"translate", "pack"})
        # enhance artifacts exist; translate output doesn't yet
        assert (tmp_path / "cities500_enhanced").exists()
        assert not (tmp_path / "cities500_translated").exists()
        # second run skipping enhance picks up stage-1 artifacts (R6)
        res = run_release(spark, workdir=tmp_path, **inputs,
                          skip={"enhance"}, release_date="2026-08-16")
        assert spark.read.parquet(res["translated"]).count() == 3


class TestReleaseVersionWorkflow:
    """update_data.sh's regenerate-and-ship-delta loop: run a release,
    change an input, run again, diff the two versions, gate with the
    validator — the three operators composed as a user would."""

    def test_diff_and_validate_between_versions(self, spark, tmp_path,
                                                inputs):
        from pyspark.sql import functions as F

        from immich_geodata_zh_tw_spark.operators.merge import release_diff
        from immich_geodata_zh_tw_spark.operators.validate import (
            assert_valid, validate_geodata)

        res_v1 = run_release(spark, workdir=tmp_path / "v1", **inputs,
                             release_date="2026-08-16")
        v1 = spark.read.parquet(res_v1["translated"])
        # v2 input: Paris renamed upstream
        inputs2 = dict(inputs)
        inputs2["cities"] = inputs["cities"].withColumn(
            "name", F.when(F.col("geoname_id") == "200",
                           F.lit("Paris Renamed")).otherwise(F.col("name")))
        res_v2 = run_release(spark, workdir=tmp_path / "v2", **inputs2,
                             release_date="2026-08-17")
        v2 = spark.read.parquet(res_v2["translated"])

        # both versions pass the release gate
        for v in (v1, v2):
            assert_valid(v, min_rows=1, key_cols=["geoname_id"],
                         required_non_null=["name", "country_code"],
                         lat_col="latitude", lon_col="longitude",
                         bbox=(-90.0, 90.0, -180.0, 180.0))

        diff = release_diff(v1, v2, key="geoname_id",
                            compare_cols=["name", "country_code"])
        by_status = {r["geoname_id"]: r for r in diff.collect()}
        # FR row kept its zh translation (name comes from the metadata
        # join, not the raw name), TW villages unchanged — the rename of
        # the UNTRANSLATED field must not leak into the shipped names
        statuses = {r["status"] for r in by_status.values()}
        assert statuses == {"unchanged"}, by_status
        # but diffing the ENHANCED (pre-translate) tables shows the rename
        e1 = spark.read.parquet(str(tmp_path / "v1" / "cities500_enhanced"))
        e2 = spark.read.parquet(str(tmp_path / "v2" / "cities500_enhanced"))
        ediff = {r["geoname_id"]: r for r in release_diff(
            e1, e2, key="geoname_id", compare_cols=["name"]).collect()}
        assert ediff["200"]["status"] == "changed"
        assert ediff["200"]["changed_cols"] == ["name"]
        # validator catches a broken frame before pack would ship it
        broken = v2.withColumn("latitude", F.lit(float("nan")))
        got = {r["check"]: r for r in validate_geodata(
            broken, lat_col="latitude", lon_col="longitude").collect()}
        assert not got["coords_parseable"]["passed"]
