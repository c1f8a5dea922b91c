"""Explicit partitioning evidence (north_rule: partitioning/shuffle handled
explicitly): bucketed co-located joins skip the shuffle; lat-band partitioned
tables prune files under bbox predicates."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        """Two tables bucketed on the join key co-locate: SortMergeJoin
        without Exchange (the 10^12-scale recipe for repeated big-big joins,
        SURVEY.md §4/X15)."""
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            left = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
            right = spark.range(0, 10_000).withColumn("w", F.col("id") + 1)
            for name, df in (("bk_left", left), ("bk_right", right)):
                spark.sql(f"DROP TABLE IF EXISTS {name}")
                (df.write.bucketBy(8, "id").sortBy("id")
                 .mode("overwrite").saveAsTable(name))
            j = spark.table("bk_left").join(spark.table("bk_right"), "id")
            plan = _plan(j)
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan  # co-located
            assert j.count() == 10_000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           str(64 * 1024 * 1024))
            spark.sql("DROP TABLE IF EXISTS bk_left")
            spark.sql("DROP TABLE IF EXISTS bk_right")


class TestPartitionPruning:
    def test_lat_band_partition_pruning(self, spark, tmp_path):
        """Pages partitioned by latitude band: a bbox filter prunes
        partitions at planning time (SURVEY.md §4 X13)."""
        path = str(tmp_path / "banded")
        pdf = pd.DataFrame({
            "pid": range(1000),
            "lat": [20.0 + (i % 40) * 0.25 for i in range(1000)],
            "lon": [120.0] * 1000,
        })
        df = spark.createDataFrame(pdf).withColumn(
            "lat_band", F.floor(F.col("lat")).cast("int"))
        df.write.partitionBy("lat_band").mode("overwrite").parquet(path)

        narrow = (spark.read.parquet(path)
                  .filter((F.col("lat_band") >= 24) & (F.col("lat_band") <= 25)))
        plan = _plan(narrow)
        # partition filters are applied at the scan, not as a post-filter
        assert "PartitionFilters: [isnotnull(lat_band" in plan.replace("#", "@") \
            or "PartitionFilters" in plan
        files_scanned = narrow.select(F.input_file_name()).distinct().count()
        all_files = (spark.read.parquet(path)
                     .select(F.input_file_name()).distinct().count())
        assert files_scanned < all_files / 3  # only 2 of 10 bands read
        assert narrow.count() == sum(1 for i in range(1000)
                                     if 24 <= 20.0 + (i % 40) * 0.25 < 26)


class TestScaleSafeSessionDefaults:
    """Round-5 6.4M-doc stress findings (BENCH/BASELINE.md): the reduce
    side must be sized by data/advisory, not cores, and the advisory must
    respect per-core execution memory — otherwise join+agg stages OOM at
    ~8× the committed scaling-run corpus."""

    def test_advisory_formula_reproduces_measured_cliff(self):
        from immich_geodata_zh_tw_spark.session import _advisory_partition_mb

        # sandbox shape (16g/32 cores): 64m advisory was the measured OOM
        # cliff, 16m ran clean — the derived value must land in (16, 64)
        derived = _advisory_partition_mb(16 * 1024, 32)
        assert 16 <= derived < 64
        # production-ish shapes (≥2g per core) stay on the Spark default
        assert _advisory_partition_mb(64 * 1024, 8) == 64
        assert _advisory_partition_mb(4 * 1024, 1) == 64
        # floor: never below the measured-safe 16m
        assert _advisory_partition_mb(1024, 32) == 16

    def test_mem_parse_matches_jvm_semantics(self):
        from immich_geodata_zh_tw_spark.session import _parse_mem_mb

        assert _parse_mem_mb("16g") == 16 * 1024
        assert _parse_mem_mb("512m") == 512
        # a bare number is MiB to the JVM (spark.driver.memory=16384 is
        # 16 GiB) — parsing it as bytes derived the advisory from ~0 MB
        assert _parse_mem_mb("16384") == 16384

    def test_session_starts_wide_and_advisory_bound(self, spark):
        init = int(spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"))
        # wide enough that a 100 GB shuffle at 64m advisory (~1600
        # partitions) is not cores-bound at any parallelism this repo uses
        assert init >= 1024
        adv = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        assert adv.endswith("m") and 16 <= int(adv[:-1]) <= 64


class TestLocalDimDf:
    def test_one_partition_and_rows(self, spark):
        from immich_geodata_zh_tw_spark.session import local_dim_df

        df = local_dim_df(spark, [("TW", 1), ("JP", 2)], "cc string, n long")
        assert df.rdd.getNumPartitions() == 1
        assert sorted(map(tuple, df.collect())) == [("JP", 2), ("TW", 1)]

    def test_malformed_row_raises_at_construction(self, spark):
        """Rows are checked on the driver when the frame is built, not on an
        executor at the first action."""
        from immich_geodata_zh_tw_spark.session import local_dim_df

        with pytest.raises(TypeError, match="LongType"):
            local_dim_df(spark, [("TW", 1), ("JP", "two")],
                         "cc string, n long")
        with pytest.raises(ValueError):  # wrong arity
            local_dim_df(spark, [("TW", 1, 3)], "cc string, n long")
