"""Stage-gated release runner (reference main.py:189-271 --pass-* flags)."""

from __future__ import annotations

import time

import pandas as pd
import pytest

from immich_geodata_zh_tw_spark.operators.registry import get_handler
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

    def test_translate_read_runs_no_schema_job_after_enhance(
            self, spark, tmp_path, inputs, monkeypatch):
        """When enhance ran in the same call, translate reads the enhance
        parquet with the schema it wrote: the read submits no Spark job.
        A run that skips enhance infers the schema (one job) and
        translates the same rows."""
        from pyspark.sql.readwriter import DataFrameReader

        sc = spark.sparkContext
        read = DataFrameReader.parquet
        group = {"id": None}

        def grouped_read(self, *paths, **options):
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", group["id"])
            try:
                return read(self, *paths, **options)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)

        monkeypatch.setattr(DataFrameReader, "parquet", grouped_read)
        group["id"] = full = f"read-full-{tmp_path.name}"
        full_res = run_release(spark, workdir=tmp_path / "full", **inputs,
                               release_date="2026-08-16")
        run_release(spark, workdir=tmp_path / "skip", **inputs,
                    skip={"translate", "pack"})
        group["id"] = skipped = f"read-skip-{tmp_path.name}"
        skip_res = run_release(spark, workdir=tmp_path / "skip", **inputs,
                               skip={"enhance"}, release_date="2026-08-16")
        monkeypatch.undo()
        tracker = sc.statusTracker()
        # job events reach the tracker asynchronously and in order: once
        # the later run's inference job shows, the full run's jobs have too
        deadline = time.monotonic() + 30
        while (not tracker.getJobIdsForGroup(skipped)
               and time.monotonic() < deadline):
            time.sleep(0.1)
        assert len(tracker.getJobIdsForGroup(skipped)) == 1
        assert list(tracker.getJobIdsForGroup(full)) == []
        rows = [sorted(spark.read.parquet(r["translated"]).collect())
                for r in (full_res, skip_res)]
        assert rows[0] == rows[1]

    def test_pack_only_run_repacks_the_stage_files(self, spark, tmp_path,
                                                   inputs):
        """A pack-only run over an earlier run's artifacts gives the same
        cities500.txt rows and the same admin1CodesASCII.txt bytes, and
        both files hold the rows Spark reads from the stage files (in
        part-file order, so only the multiset is compared)."""
        txt = {n: tmp_path / n for n in ("cities500.txt",
                                         "admin1CodesASCII.txt")}
        res = run_release(spark, workdir=tmp_path, **inputs,
                          release_date="2026-08-16")
        before = {n: p.read_bytes() for n, p in txt.items()}
        for p in txt.values():
            p.unlink()
        res = run_release(spark, workdir=tmp_path, **inputs,
                          skip={"enhance", "translate"},
                          release_date="2026-08-16")
        after = {n: p.read_bytes() for n, p in txt.items()}
        assert after["admin1CodesASCII.txt"] == before["admin1CodesASCII.txt"]
        assert (sorted(after["cities500.txt"].splitlines())
                == sorted(before["cities500.txt"].splitlines()))
        for src, name in ((res["translated"], "cities500.txt"),
                          (res["admin1"], "admin1CodesASCII.txt")):
            want = spark.read.parquet(src).toPandas().to_csv(
                sep="\t", header=False, index=False)
            assert (sorted(want.encode().splitlines())
                    == sorted(after[name].splitlines()))
        import zipfile
        with zipfile.ZipFile(res["zip"]) as zf:
            assert (zf.read("geodata/admin1CodesASCII.txt")
                    == after["admin1CodesASCII.txt"])


@pytest.fixture()
def three_countries(spark, inputs):
    """TW + KR + JP handler inputs: KR empty, JP one row, TW with a NULL
    admin_1, every null token, rows without a coordinate, and an admin_1
    name (中央) that JP shares."""
    tw = [  # COUNTYNAME, TOWNNAME, VILLNAME, latitude, longitude
        ("臺北市", "中正區", "建國里", 25.032, 121.519),
        ("臺北市", "大安區", "", 25.026, 121.543),
        ("中央", "東區", "甲里", 24.8, 120.97),
        ("中央", "None", "乙里", 24.81, 120.96),
        (None, "西區", "丙里", 23.48, 120.45),
        (None, "北區", None, 23.49, 120.46),
        ("", "南區", "丁里", 22.6, 120.3),
        ("None", "南區", "戊里", 22.61, 120.31),
        ("nan", "nan", "己里", 22.62, 120.32),
        ('""', "前鎮區", '""', 22.63, 120.33),
        ("新竹縣", "竹北市", "庚里", None, 121.0),   # dropped: no latitude
        ("臺北市", "信義區", "辛里", 25.03, None),   # dropped: no longitude
    ]
    jp = [("中央", None, "市1市", None, 35.68, 139.76)]
    tw_raw = spark.createDataFrame(tw, "COUNTYNAME string, TOWNNAME string, "
                                   "VILLNAME string, latitude double, "
                                   "longitude double")
    jp_raw = spark.createDataFrame(jp, "N03_001 string, N03_003 string, "
                                   "N03_004 string, N03_005 string, "
                                   "latitude double, longitude double")
    kr_raw = spark.createDataFrame([], "adm_nm string, sidonm string, "
                                   "sggnm string, latitude double, "
                                   "longitude double")
    return dict(inputs, country_inputs={"TW": tw_raw, "KR": kr_raw,
                                        "JP": jp_raw})


def reference_threading(geodata: dict[str, pd.DataFrame], max_id: int):
    """The reference's id threading (enhance_data.py, base.py) in pandas:
    from max id + 1, countries in sorted order, each first its admin1 rows
    (distinct admin_1, ascending, NULL first; codes zero-padded to the
    digits of their count), then its city rows (null tokens → NULL, rows
    without a coordinate dropped, ascending on the seven sort columns,
    NULLs first).  Returns ``{admin1 id: (name, geoname_id)}`` and
    ``{city geoname_id: (country, lat, lon, admin1_code, admin2_code)}``."""
    tokens = ["", "None", "nan", '""']
    sort_cols = ["country", "admin_1", "admin_2", "admin_3", "admin_4",
                 "latitude", "longitude"]
    current = max_id + 1
    admin1, cities = {}, {}
    for cc in sorted(geodata):
        g = geodata[cc]
        names = sorted(set(g["admin_1"]), key=lambda v: (v is not None, v))
        width = len(str(len(names)))
        code = {nm: str(i + 1).zfill(width) for i, nm in enumerate(names)}
        for i, nm in enumerate(names):
            admin1[f"{cc}.{code[nm]}"] = (nm, current + i)
        current += len(names)
        rows = g[g["latitude"].notna() & g["longitude"].notna()].copy()
        for c in ("admin_1", "admin_2", "admin_3", "admin_4"):
            rows[c] = rows[c].astype(object).where(~rows[c].isin(tokens),
                                                   None)
        rows = rows.sort_values(sort_cols, na_position="first")
        for i, r in enumerate(rows.itertuples()):
            cities[current + i] = (
                cc, r.latitude, r.longitude,
                None if r.admin_1 is None else code[r.admin_1], r.admin_2)
        current += len(rows)
    return admin1, cities


class TestReleaseThreading:
    def test_three_countries_match_reference_threading(
            self, spark, tmp_path, three_countries):
        res = run_release(spark, workdir=tmp_path, **three_countries,
                          skip={"translate", "pack"})
        geodata = {cc: get_handler(cc)(raw).toPandas()
                   for cc, raw in three_countries["country_inputs"].items()}
        want_a1, want_cities = reference_threading(geodata, max_id=5000)
        # TW: 3 names, 4 null tokens and the NULL are admin1 rows; JP: 1
        assert len(want_a1) == 9 and len(want_cities) == 11

        a1 = spark.read.parquet(res["admin1"]).toPandas()
        a1 = a1[a1["id"].str[:3].isin(["TW.", "KR.", "JP."])]
        got_a1 = {r.id: (r.name, int(r.geoname_id)) for r in a1.itertuples()}
        assert got_a1 == want_a1
        cities = spark.read.parquet(res["cities"]).toPandas()
        cities = cities[cities["country_code"].isin(["TW", "KR", "JP"])]
        got_cities = {int(r.geoname_id): (r.country_code, r.latitude,
                                          r.longitude, r.admin1_code,
                                          r.admin2_code)
                      for r in cities.itertuples()}
        assert len(cities) == len(got_cities)  # one row per id
        assert got_cities == want_cities
        # the stale TW rows are gone, the FR rows kept
        assert set(a1["id"]) == set(want_a1)
        assert "FR.11" in set(spark.read.parquet(res["admin1"])
                              .toPandas()["id"])

    def test_enhance_runs_one_driver_action_before_its_writes(
            self, spark, tmp_path, three_countries):
        """The id bases of every country come from ONE bounded action;
        the other SQL executions of the stage are its two writes."""
        store = spark._jsparkSession.sharedState().statusStore()
        bus = spark.sparkContext._jsc.sc().listenerBus()

        def execution_ids():
            bus.waitUntilEmpty()
            execs = store.executionsList()
            return {execs.apply(i).executionId():
                    execs.apply(i).description()
                    for i in range(execs.size())}

        before = execution_ids()
        run_release(spark, workdir=tmp_path, **three_countries,
                    skip={"translate", "pack"})
        new = {k: v for k, v in execution_ids().items() if k not in before}
        actions = [new[k].split(" at ")[0] for k in sorted(new)]
        assert actions == ["first", "parquet", "parquet"], new

    def test_admin1_write_shuffles_nothing(self, spark, tmp_path,
                                           three_countries):
        """The handler rows sit on one partition: the admin1 write's
        distinct and per-country windows find their distribution met, so
        its executed plan has no shuffle exchange above the handler
        union."""
        store = spark._jsparkSession.sharedState().statusStore()
        bus = spark.sparkContext._jsc.sc().listenerBus()

        def executions():
            bus.waitUntilEmpty()
            execs = store.executionsList()
            return [execs.apply(i) for i in range(execs.size())]

        before = {e.executionId() for e in executions()}
        run_release(spark, workdir=tmp_path, **three_countries,
                    skip={"translate", "pack"})
        writes = sorted((e for e in executions()
                         if e.executionId() not in before
                         and e.description().startswith("parquet at ")),
                        key=lambda e: e.executionId())
        plan = writes[1].physicalPlanDescription()  # cities, then admin1
        assert "Coalesce" in plan and "Window" in plan, plan
        assert "Exchange" not in plan, plan


class TestReleaseVersionWorkflow:
    """update_data.sh's regenerate-and-ship-delta loop: run a release,
    change an input, run again and diff the two versions, composed as a
    user would."""

    def test_diff_and_validate_between_versions(self, spark, tmp_path,
                                                inputs):
        from pyspark.sql import functions as F

        from immich_geodata_zh_tw_spark.operators.merge import release_diff

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
