"""Handler registry dispatch (reference base.py:725-760) and the release
pack sink (S10, reference pack_release.py:20-81)."""

from __future__ import annotations

import tarfile
import zipfile
from pathlib import Path

import pandas as pd
import pytest

from immich_geodata_zh_tw_spark.operators import registry
from immich_geodata_zh_tw_spark.sources import pack


class TestRegistry:
    def test_unknown_country_error_lists_available(self):
        with pytest.raises(ValueError, match="JP, KR, TW"):
            registry.get_handler("FR")

    def test_case_insensitive(self):
        assert registry.get_handler("tw") is registry.get_handler("TW")

    def test_tw_dispatch_emits_geodata_schema(self, spark):
        df = spark.createDataFrame(pd.DataFrame({
            "COUNTYNAME": ["臺北市"], "TOWNNAME": ["中正區"],
            "VILLNAME": ["建國里"], "latitude": [25.03], "longitude": [121.52],
        }))
        out = registry.get_handler("TW")(df)
        assert out.columns == registry.GEODATA_COLS
        row = out.collect()[0]
        assert (row.country, row.admin_1, row.admin_2, row.admin_3) == (
            "臺灣", "臺北市", "中正區", "建國里")

    def test_jp_dispatch_applies_r_rules(self, spark):
        df = spark.createDataFrame(pd.DataFrame({
            "N03_001": ["神奈川県"], "N03_003": [None],
            "N03_004": ["横浜市"], "N03_005": ["中区"],
            "latitude": [35.44], "longitude": [139.64],
        }))
        row = registry.get_handler("JP")(df).collect()[0]
        assert row.admin_2 == "横浜市中区"  # R3 政令市 ward concat

    def test_kr_dispatch_sejong_and_split(self, spark):
        df = spark.createDataFrame(pd.DataFrame({
            "sidonm": ["세종특별자치시", "경기도"],
            "sggnm": ["세종시의회", "수원시장안구"],
            "adm_nm": ["세종특별자치시 세종시의회 한솔동", "경기도 수원시장안구 정자동"],
            "latitude": [36.48, 37.3], "longitude": [127.28, 127.0],
        }))
        out = registry.get_handler("KR")(df).orderBy("latitude").collect()
        sejong, suwon = out[0], out[1]  # Sejong 36.48 < Suwon 37.3
        # Suwon: 시+구 split into city/district
        assert (suwon.admin_2, suwon.admin_3) == ("수원시", "장안구")
        # Sejong: institution sggnm → admin_3 (동) promoted to admin_2
        assert sejong.admin_2 == "한솔동"


class TestPackSink:
    def _write_sources(self, tmp: Path) -> dict[str, Path]:
        srcs = {}
        for key in pack.DATA_ARTIFACTS:
            p = tmp / f"src_{key}.txt"
            p.write_text(f"data for {key}\n")
            srcs[key] = p
        return srcs

    def test_pack_layout_and_archives(self, tmp_path):
        out = tmp_path / "output"
        srcs = self._write_sources(tmp_path)
        lic = tmp_path / "LICENSE"
        lic.write_text("MIT\n")
        res = pack.pack_release(out, data_files=srcs,
                                license_files={"LICENSE": lic},
                                release_date="2026-08-16")
        release = Path(res["release_dir"])
        assert (release / "geodata/cities500.txt").read_text() == "data for cities500\n"
        assert (release / "geodata/geodata-date.txt").read_text() == "2026-08-16"
        assert (release / "LICENSE").exists()
        with zipfile.ZipFile(res["zip"]) as zf:
            names = set(zf.namelist())
        assert "geodata/cities500.txt" in names
        assert "geodata/geodata-date.txt" in names
        with tarfile.open(res["gztar"]) as tf:
            assert any(m.name.endswith("geodata-date.txt") for m in tf.getmembers())

    def test_old_releases_removed(self, tmp_path):
        out = tmp_path / "output"
        out.mkdir()
        stale = out / "release_old.zip"
        stale.write_text("stale")
        (out / "release").mkdir()
        pack.pack_release(out, data_files=self._write_sources(tmp_path),
                          release_date="2026-08-16")
        assert not stale.exists()

    def test_missing_artifact_raises(self, tmp_path):
        with pytest.raises(ValueError, match="missing release artifacts"):
            pack.pack_release(tmp_path / "o", data_files={})
