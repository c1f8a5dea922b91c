"""Manifest resumability: checkpoint cadence, resume and idempotent re-runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from immich_geodata_zh_tw_spark.sources import manifest


class TestManifest:
    def test_batch_cadence_preserves_work_on_failure(self, spark, tmp_path):
        """R3 checkpoint cadence (reference flush-every-N): with
        batch_size=2, a crash in the middle of the run loses at most one
        batch — earlier batches are already manifest-committed and a re-run
        picks up exactly the remainder."""
        out = str(tmp_path / "out")
        man = str(tmp_path / "manifest")
        df = (spark.range(0, 600)
              .withColumn("split", (F.col("id") % 6).cast("int")))
        calls = {"n": 0}

        def flaky(sub):
            calls["n"] += 1
            if calls["n"] == 3:  # third batch (splits 4,5) dies mid-run
                raise RuntimeError("simulated mid-run failure")
            return sub

        with pytest.raises(RuntimeError):
            manifest.checkpointed_run(spark, df, split_col="split",
                                      process=flaky, output_path=out,
                                      manifest_path=man, batch_size=2)
        # first two batches survived
        assert manifest.completed_splits(spark, man, "int") == {0, 1, 2, 3}
        r = manifest.checkpointed_run(spark, df, split_col="split",
                                      process=lambda s: s, output_path=out,
                                      manifest_path=man, batch_size=2)
        assert r["processed_splits"] == 2  # only the lost batch re-ran
        assert spark.read.parquet(out).count() == 600

    def test_full_then_resume(self, spark, tmp_path):
        out = str(tmp_path / "out")
        man = str(tmp_path / "manifest")
        df = (spark.range(0, 1000)
              .withColumn("split", (F.col("id") % 10).cast("int"))
              .withColumn("v", F.col("id") * 2))

        def process(sub):
            return sub.withColumn("v2", F.col("v") + 1)

        # first run: only splits 0-4 visible (simulates a partial run)
        r1 = manifest.checkpointed_run(
            spark, df.filter(F.col("split") < 5), split_col="split",
            process=process, output_path=out, manifest_path=man)
        assert r1["processed_splits"] == 5

        # second run over the full input: resumes, processes only 5-9
        r2 = manifest.checkpointed_run(
            spark, df, split_col="split", process=process,
            output_path=out, manifest_path=man)
        assert r2["processed_splits"] == 5

        final = spark.read.parquet(out)
        assert final.count() == 1000
        assert final.select(F.sum("v2")).first()[0] == sum(i * 2 + 1 for i in range(1000))

        # third run: nothing pending
        r3 = manifest.checkpointed_run(
            spark, df, split_col="split", process=process,
            output_path=out, manifest_path=man)
        assert r3["processed_splits"] == 0

        # manifest carries lineage + metrics per split: the input split's
        # order-insensitive row hash and the split's output row count
        m = spark.read.parquet(man).toPandas().set_index("split_id")
        assert sorted(m.index) == list(range(10))
        fp = (df.groupBy("split").agg(F.expr("bit_xor(xxhash64(id, split, v))"))
              .toPandas().set_index("split").iloc[:, 0])
        n = final.groupBy("split").count().toPandas().set_index("split")["count"]
        assert (m["input_fingerprint"] == fp[m.index]).all()
        assert (m["row_count"] == n[m.index]).all()
        assert (m["schema_version"] == manifest.MANIFEST_SCHEMA_VERSION).all()

    def test_split_without_output_rows_commits(self, spark, tmp_path):
        """A split whose ``process`` output is empty commits with row_count
        0 instead of running again on every resume."""
        kw = dict(split_col="split", output_path=str(tmp_path / "out"),
                  manifest_path=str(tmp_path / "manifest"),
                  process=lambda sub: sub.filter(F.col("split") != 3))
        df = (spark.range(0, 400)
              .withColumn("split", (F.col("id") % 4).cast("int")))
        r1 = manifest.checkpointed_run(spark, df, **kw)
        assert (r1["processed_splits"], r1["rows"]) == (4, 300)
        assert manifest.checkpointed_run(spark, df, **kw)["processed_splits"] == 0
        m = spark.read.parquet(kw["manifest_path"]).toPandas()
        assert dict(zip(m["split_id"], m["row_count"])) == {
            0: 100, 1: 100, 2: 100, 3: 0}

    def test_session_conf_untouched(self, spark, tmp_path):
        """The dynamic partition overwrite is an option of the write, not a
        session setting left behind for the caller's later writes."""
        key = "spark.sql.sources.partitionOverwriteMode"
        spark.conf.unset(key)
        before = spark.conf.get(key)
        df = spark.range(0, 8).withColumn("split", F.col("id") % 2)
        manifest.checkpointed_run(spark, df, split_col="split",
                                  process=lambda s: s,
                                  output_path=str(tmp_path / "out"),
                                  manifest_path=str(tmp_path / "manifest"))
        assert spark.conf.get(key) == before

    def test_unreadable_manifest_raises(self, spark, tmp_path):
        """Only a missing manifest means "nothing committed": one that
        exists but is not parquet raises before any split runs again."""
        man = tmp_path / "manifest"
        man.mkdir()
        (man / "part-00000.parquet").write_text("not parquet")
        calls = []
        df = spark.range(0, 8).withColumn("split", F.col("id") % 2)
        with pytest.raises(Exception, match="FAILED_READ_FILE"):
            manifest.checkpointed_run(spark, df, split_col="split",
                                      process=calls.append,
                                      output_path=str(tmp_path / "out"),
                                      manifest_path=str(man))
        assert calls == [] and not (tmp_path / "out").exists()

    @pytest.mark.parametrize(
        "split", ["CAST(NULL AS BIGINT)",
                  "CASE WHEN id < 4 THEN NULL ELSE id % 2 END"],
        ids=["all_null", "null_next_to_ids"])
    def test_null_split_ids_raise_before_any_write(self, spark, tmp_path,
                                                    split):
        """NULL split ids, alone or next to other ids, raise a ValueError
        naming the split column; nothing is written, no manifest row is
        committed.  A resume after earlier commits still sees them."""
        man, out = tmp_path / "manifest", tmp_path / "out"
        df = spark.range(0, 8).withColumn("split", F.expr(split))
        calls = []
        with pytest.raises(ValueError, match="'split'"):
            manifest.checkpointed_run(spark, df, split_col="split",
                                      process=calls.append,
                                      output_path=str(out),
                                      manifest_path=str(man))
        assert calls == [] and not out.exists() and not man.exists()
        committed = spark.range(10, 12).withColumn("split", F.col("id"))
        manifest.checkpointed_run(spark, committed, split_col="split",
                                  process=lambda s: s, output_path=str(out),
                                  manifest_path=str(man))
        with pytest.raises(ValueError, match="'split'"):
            manifest.checkpointed_run(spark, df.unionByName(committed),
                                      split_col="split", process=calls.append,
                                      output_path=str(out),
                                      manifest_path=str(man))
        assert calls == []

    def test_null_manifest_row_does_not_block_resume(self, spark, tmp_path):
        """A manifest that already holds an ok row with a NULL split_id
        (older code committed one for an all-NULL input) must not make
        ``NOT IN`` drop every row: new splits still run."""
        man = str(tmp_path / "manifest")
        spark.createDataFrame([(None, "ok")],
                              "split_id bigint, status string").write.parquet(man)
        assert manifest.completed_splits(spark, man, "bigint") == set()
        df = spark.range(0, 20).withColumn("split", F.col("id") % 2 + 1)
        r = manifest.checkpointed_run(spark, df, split_col="split",
                                      process=lambda s: s, manifest_path=man,
                                      output_path=str(tmp_path / "out"))
        assert (r["processed_splits"], r["rows"]) == (2, 20)
        assert manifest.completed_splits(spark, man, "bigint") == {1, 2}

    def test_int_manifest_resumes_bigint_splits(self, spark, tmp_path):
        """Manifests that stored a bigint split column's ids as int (the
        type partition discovery gives small ids) still resume it, and the
        new rows append next to the old ones."""
        man = str(tmp_path / "manifest")
        spark.range(0, 2).select(F.col("id").cast("int").alias("split_id"),
                                 F.lit("ok").alias("status")
                                 ).write.parquet(man)
        df = spark.range(0, 40).withColumn("split", F.col("id") % 4)
        r = manifest.checkpointed_run(spark, df, split_col="split",
                                      process=lambda s: s, manifest_path=man,
                                      output_path=str(tmp_path / "out"))
        assert (r["processed_splits"], r["rows"]) == (2, 20)
        assert manifest.completed_splits(spark, man, "bigint") == {0, 1, 2, 3}

    def test_rerun_is_idempotent(self, spark, tmp_path):
        out = str(tmp_path / "out")
        man = str(tmp_path / "manifest")
        df = (spark.range(0, 100)
              .withColumn("split", (F.col("id") % 4).cast("int")))
        process = lambda sub: sub  # noqa: E731
        manifest.checkpointed_run(spark, df, split_col="split", process=process,
                                  output_path=out, manifest_path=man)
        # wipe two manifest splits → those splits re-run and overwrite
        # (materialize before overwriting the path we read from)
        m_pdf = spark.read.parquet(man).filter(F.col("split_id") < 2).toPandas()
        spark.createDataFrame(m_pdf).write.mode("overwrite").parquet(man)
        manifest.checkpointed_run(spark, df, split_col="split", process=process,
                                  output_path=out, manifest_path=man)
        assert spark.read.parquet(out).count() == 100  # no duplicates
