"""Operator-level unit tests with tiny inline frames — mirrors the
reference's pytest style (tests/test_geodata_base.py, SURVEY.md §5)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


class TestIds:
    def test_sequential_ids_matches_scalable(self, spark):
        from immich_geodata_zh_tw_spark.operators import ids

        df = spark.createDataFrame(pd.DataFrame(
            {"name": ["c", "a", "b", "a"], "k": [1, 2, 3, 4]}))
        simple = ids.sequential_ids(df, ["name", "k"], base=100).toPandas()
        scalable = ids.sequential_ids_scalable(df, ["name", "k"], base=100).toPandas()
        a = simple.sort_values("k")[["k", "seq_id"]].reset_index(drop=True)
        b = scalable.sort_values("k")[["k", "seq_id"]].reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)
        assert sorted(simple["seq_id"]) == [100, 101, 102, 103]

    def test_scalable_ids_many_partitions_no_aqe_coalesce(self, spark):
        """Round-1 regression (ADVICE.md item 1): with AQE coalescing off the
        range shuffle yields several real partitions; ids must still be the
        exact sorted sequence (unique, gap-free) — the old implementation
        looked up offsets by the post-window-exchange pid and produced
        duplicate ids here."""
        from immich_geodata_zh_tw_spark.operators import ids

        n = 2000
        df = spark.createDataFrame(pd.DataFrame(
            {"name": [f"x{(i * 37) % n:05d}" for i in range(n)],
             "k": list(range(n))}))
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        old = spark.conf.get(key, "true")
        try:
            spark.conf.set(key, "false")
            out = ids.sequential_ids_scalable(
                df, ["name", "k"], base=1000).toPandas()
        finally:
            spark.conf.set(key, old)
        assert len(set(out["seq_id"])) == n  # unique
        got = out.sort_values(["name", "k"])["seq_id"].tolist()
        assert got == list(range(1000, 1000 + n))  # exact sorted sequence

    def test_scalable_ids_plan_has_no_python_udf(self, spark):
        """W1 must stay JVM-side (VERDICT.md round-1 item 3)."""
        from immich_geodata_zh_tw_spark.operators import ids

        df = spark.createDataFrame(pd.DataFrame(
            {"name": ["c", "a", "b"], "k": [1, 2, 3]}))
        out = ids.sequential_ids_scalable(df, ["name", "k"], base=10)
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted")
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        # round-2 VERDICT item 4: no full-table materialization either —
        # determinism comes from collected boundary literals, not persist
        assert "InMemoryRelation" not in plan
        assert "InMemoryTableScan" not in plan

    def test_dense_rank_width_from_count(self, spark):
        from immich_geodata_zh_tw_spark.operators import ids

        df = spark.createDataFrame(pd.DataFrame({"admin_1": [f"n{i:02d}" for i in range(12)]}))
        out = ids.dense_rank_codes(df, "admin_1", prefix="TW").toPandas()
        # 12 distinct → width 2, zero-padded (reference base.py:654)
        assert set(out["code"]) == {f"TW.{i + 1:02d}" for i in range(12)}
        # partitioned: each partition's width comes from its own count, so
        # 2 names next to 12 get width 1, not the global width 2
        two = spark.createDataFrame(pd.DataFrame({"admin_1": ["a", "b"]}))
        parts = (df.withColumn("grp", F.lit("big"))
                 .unionByName(two.withColumn("grp", F.lit("small"))))
        out = ids.dense_rank_codes(parts, "admin_1", prefix="X",
                                   partition_cols=["grp"]).toPandas()
        codes = out.groupby("grp")["code"].agg(set).to_dict()
        assert codes == {"big": {f"X.{i + 1:02d}" for i in range(12)},
                         "small": {"X.1", "X.2"}}

    def test_dense_rank_width_counts_null_rank(self, spark):
        """dense_rank ranks a NULL name but collect_set drops it: 9
        non-null names + NULL is TEN ranks → width 2.  The collect_set
        width alone gave 1, and lpad then TRUNCATED rank 10 to '1',
        colliding with rank 1's code."""
        from immich_geodata_zh_tw_spark.operators import ids

        df = spark.createDataFrame(
            [(f"n{i}",) for i in range(9)] + [(None,)], "admin_1 string")
        out = ids.dense_rank_codes(df, "admin_1", prefix="TW").toPandas()
        assert len(set(out["code"])) == 10  # no collisions
        assert set(out["code"]) == {f"TW.{i + 1:02d}" for i in range(10)}

    def test_dense_rank_explicit_width_never_truncates(self, spark):
        """zfill semantics: an explicit width smaller than the rank
        string pads nothing but must never cut digits (reference
        str.zfill never truncates)."""
        from immich_geodata_zh_tw_spark.operators import ids

        df = spark.createDataFrame(
            [(f"n{i:03d}",) for i in range(11)], "admin_1 string")
        out = ids.dense_rank_codes(df, "admin_1", prefix="X",
                                   width=1).toPandas()
        assert len(set(out["code"])) == 11
        assert "X.10" in set(out["code"]) and "X.11" in set(out["code"])


class TestDedup:
    def test_coordinate_dedup_rule(self, spark):
        """Keep max population, tie → min geoname_id (enhance_data.py:273-290)."""
        from immich_geodata_zh_tw_spark.operators import dedup

        df = spark.createDataFrame(pd.DataFrame({
            "latitude": [1.0, 1.0, 1.0, 2.0],
            "longitude": [1.0, 1.0, 1.0, 2.0],
            "population": [10, 50, 50, 7],
            "geoname_id": [1, 3, 2, 9],
        }))
        out = dedup.coordinate_dedup(df).toPandas().sort_values("latitude")
        assert out["geoname_id"].tolist() == [2, 9]  # pop 50, tie → min id 2

    def test_exact_dedup_groups(self, spark):
        from immich_geodata_zh_tw_spark.operators import dedup

        df = spark.createDataFrame(pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": ["x", "x", "y"]}))
        out = dedup.exact_dedup(df, "text", id_col="doc_id").toPandas()
        by_rep = out.set_index("rep_id")["dup_count"].to_dict()
        assert by_rep == {1: 2, 3: 1}

    def test_minhash_recall_and_precision(self, spark):
        """Near-duplicate texts (one word edited) must surface as candidate
        pairs; unrelated texts must not — guards the hash-family quality of
        the single-md5-pass slice scheme."""
        import numpy as np
        from immich_geodata_zh_tw_spark.operators import dedup

        rng = np.random.default_rng(42)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz    "))
        texts, truth = [], set()
        for g in range(30):
            base = "".join(rng.choice(letters, size=120))
            texts.append(base)                       # doc 2g
            texts.append(base[:60] + "zq" + base[62:])  # doc 2g+1: near-dup
            truth.add((2 * g, 2 * g + 1))
        df = spark.createDataFrame(pd.DataFrame(
            {"doc_id": range(len(texts)), "text": texts}))
        got = {tuple(r) for r in dedup.minhash_candidate_pairs(
            df, id_col="doc_id", text_col="text").toPandas().to_numpy()}
        recall = len(got & truth) / len(truth)
        assert recall >= 0.9, f"near-dup recall {recall:.2f}"
        false_pairs = got - truth
        assert len(false_pairs) <= 0.1 * len(truth), f"{len(false_pairs)} FPs"

    def test_minhash_bucket_cap_bounds_fanout(self, spark):
        """max_bucket_size caps pathological exact-dup buckets: m identical
        docs emit at most C(cap,2) pairs per band instead of C(m,2)."""
        from immich_geodata_zh_tw_spark.operators import dedup

        df = spark.createDataFrame(pd.DataFrame(
            {"doc_id": range(40), "text": ["same text for everyone here"] * 40}))
        capped = dedup.minhash_candidate_pairs(
            df, id_col="doc_id", text_col="text", max_bucket_size=5).toPandas()
        # cap=5 keeps ids 0..4 per bucket → exactly C(5,2)=10 distinct pairs
        assert len(capped) == 10
        assert capped["id_a"].max() <= 4 and capped["id_b"].max() <= 4

    def test_ngram_jaccard_scores_candidates(self, spark):
        """Exact Jaccard over LSH candidates: identical docs score 1.0,
        near-dups score high, unrelated pairs are filtered by threshold."""
        from immich_geodata_zh_tw_spark.operators import dedup

        base = "the quick brown fox jumps over the lazy dog again and again"
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3, 4],
            "text": [base, base, base.replace("lazy", "hazy"),
                     "completely unrelated content with nothing shared xyz"],
        }))
        out = dedup.ngram_jaccard_pairs(df, id_col="doc_id", text_col="text",
                                        threshold=0.3).toPandas()
        scores = {(r.id_a, r.id_b): r.jaccard for r in out.itertuples()}
        assert scores[(1, 2)] == 1.0
        assert scores[(1, 3)] > 0.6
        assert all(4 not in k for k in scores)

    @pytest.mark.parametrize("thr", [0.0, -0.5])
    def test_ngram_jaccard_refuses_non_positive_threshold(self, spark, thr):
        """A jaccard-0 pair shares no shingle: the kernel path would keep
        it and the join path would not, so only a positive threshold gives
        one answer on both sides of the broadcast-budget gate."""
        from immich_geodata_zh_tw_spark.operators import dedup

        df = spark.createDataFrame([(1, "a b c d e f")],
                                   "doc_id long, text string")
        with pytest.raises(ValueError, match="threshold must be > 0"):
            dedup.ngram_jaccard_pairs(df, id_col="doc_id", text_col="text",
                                      threshold=thr)

    def test_fused_kernel_matches_sql_specs(self, spark):
        """minhash_shingles_udf must equal BOTH split forms: bands ==
        minhash_bands_udf (itself bit-locked to DuckDB's band rows in
        TestMinhashKernel), hs == DuckDB running hashed_shingle_set_expr
        as a VALUE set (the SQL list keeps first-occurrence order, the
        kernel sorts; set equality is the contract the explode-join
        consumes)."""
        import duckdb

        from immich_geodata_zh_tw_spark.operators import dedup

        path = "/root/testdata/sf0.01/documents.parquet"
        d = spark.read.parquet(path)
        fused = (d.select("doc_id", dedup.minhash_shingles_udf(
            n_bands=4, shingle=5)(F.col("text")).alias("f"))
            .select("doc_id", F.col("f.bands").alias("bands"),
                    F.sort_array("f.hs").alias("hs")))
        split = d.select("doc_id", dedup.minhash_bands_udf(
            n_bands=4, shingle=5)(F.col("text")).alias("bands"))
        assert (fused.select("doc_id", "bands")
                .exceptAll(split).count() == 0)
        assert (split.exceptAll(fused.select("doc_id", "bands"))
                .count() == 0)
        got = {r.doc_id: r.hs and list(r.hs) for r in fused.collect()}
        want = dict(duckdb.sql(f"""
            SELECT doc_id,
                   list_sort({dedup.hashed_shingle_set_expr('text')})
            FROM read_parquet('{path}')""").fetchall())
        assert len(got) == d.count()
        assert got == want
        # null text → null struct fields
        edge = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": [None]}))
        row = (edge.select(dedup.minhash_shingles_udf()(F.col("text"))
                           .alias("f")).collect()[0].f)
        assert row.bands is None and row.hs is None

    def test_ngram_jaccard_kernel_path_matches_join_path(self, spark):
        """The r6 size-gated scoring kernel (broadcast hash-set dict +
        mapInPandas intersection) must return exactly the join-plan
        results.  The join path is forced by disabling the broadcast
        threshold — the same knob that gates the kernel
        (`_stats.broadcast_budget_ok`)."""
        from immich_geodata_zh_tw_spark.operators import dedup
        from immich_geodata_zh_tw_spark.operators._stats import (
            broadcast_budget_ok)

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        assert broadcast_budget_ok(d, fanout=4.0)
        thr_key = "spark.sql.autoBroadcastJoinThreshold"
        saved = spark.conf.get(thr_key)
        kern = (dedup.ngram_jaccard_pairs(d, id_col="doc_id",
                                          text_col="text", threshold=0.2)
                .toPandas().sort_values(["id_a", "id_b"])
                .reset_index(drop=True))
        try:
            spark.conf.set(thr_key, "-1")
            assert not broadcast_budget_ok(d, fanout=4.0)
            join = (dedup.ngram_jaccard_pairs(d, id_col="doc_id",
                                              text_col="text", threshold=0.2)
                    .toPandas().sort_values(["id_a", "id_b"])
                    .reset_index(drop=True))
        finally:
            spark.conf.set(thr_key, saved)
        pd.testing.assert_frame_equal(kern, join)
        spark.catalog.clearCache()

    def test_minhash_clusters_transitive(self, spark):
        """Label propagation must close transitively: doc A near-dups B, B
        near-dups C, but A and C share no band bucket — all three must land
        in one cluster (with the min id as its label)."""
        from immich_geodata_zh_tw_spark.operators import dedup

        base = ("the quick brown fox jumps over the lazy dog and then runs "
                "far away into the deep dark forest tonight")
        a = base
        b = base.replace("quick", "quack").replace("lazy", "hazy")
        c = b.replace("brown", "braun").replace("forest", "foresa")
        d_text = "completely unrelated content about spark plans and shuffles"
        df = spark.createDataFrame(pd.DataFrame(
            {"doc_id": [10, 11, 12, 13], "text": [a, b, c, d_text]}))
        out = dedup.minhash_clusters(df, id_col="doc_id", text_col="text"
                                     ).toPandas().set_index("doc_id")
        # a-b and b-c collide on some band; whether a-c does or not, all
        # three must share one component label
        labels = set(out.loc[[10, 11, 12]]["cluster_id"])
        assert labels == {10}
        assert out.loc[13]["cluster_id"] == 13  # unrelated doc stays alone

    def test_simhash_identical_texts_collide(self, spark):
        from immich_geodata_zh_tw_spark.operators import dedup

        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["the quick brown fox jumps", "the quick brown fox jumps",
                     "a completely different sentence entirely"]}))
        out = dedup.with_simhash(df, "text").toPandas().set_index("doc_id")
        assert out.loc[1, "simhash"] == out.loc[2, "simhash"]
        assert out.loc[1, "simhash"] != out.loc[3, "simhash"]


class TestSubstrDedup:
    """ExactSubstr removal (dedup.substr_dedup) — hand-computed interval
    cases: cross-doc repeat (both occurrences cut), within-doc repeat,
    overlapping-window coalescing, whole-doc coverage → '', short/unique
    docs pass through with zeros."""

    def _run(self, spark, texts, n):
        from immich_geodata_zh_tw_spark.operators import dedup

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
        return (dedup.substr_dedup(df, id_col="doc_id", text_col="text",
                                   gram_words=n)
                .toPandas().set_index("doc_id").sort_index())

    def test_cross_doc_repeat_cuts_both(self, spark):
        # docs 0 and 1 share the 3-gram 'a b c'; doc 2 is untouched
        out = self._run(spark, ["x a b c y", "z a b c", "p q r"], 3)
        assert out.loc[0, "clean_text"] == "x y"
        assert out.loc[0, "n_dup_intervals"] == 1
        assert out.loc[0, "n_removed_tokens"] == 3
        assert out.loc[1, "clean_text"] == "z"
        assert out.loc[2, "clean_text"] == "p q r"
        assert out.loc[2, "n_dup_intervals"] == 0

    def test_overlapping_windows_merge_to_one_interval(self, spark):
        # 'a b c d' repeats: two overlapping 3-gram windows ('a b c',
        # 'b c d') mark [1,3] and [2,4] → ONE merged interval of 4 tokens
        out = self._run(spark, ["a b c d x", "y a b c d"], 3)
        assert out.loc[0, "n_dup_intervals"] == 1
        assert out.loc[0, "n_removed_tokens"] == 4
        assert out.loc[0, "clean_text"] == "x"

    def test_within_doc_repeat_marks_both_copies(self, spark):
        # 'a b c' occurs twice inside one doc, separated by a unique gap
        # wide enough that the intervals stay distinct
        out = self._run(spark, ["a b c u v w x y z a b c"], 3)
        assert out.loc[0, "n_dup_intervals"] == 2
        assert out.loc[0, "n_removed_tokens"] == 6
        assert out.loc[0, "clean_text"] == "u v w x y z"

    def test_whole_doc_covered_yields_empty(self, spark):
        out = self._run(spark, ["a b c", "a b c"], 3)
        assert (out["clean_text"] == "").all()
        assert (out["n_removed_tokens"] == 3).all()

    def test_short_doc_passthrough(self, spark):
        # shorter than the gram → no windows → intact with zeros
        out = self._run(spark, ["a b", "a b"], 3)
        assert (out["clean_text"] == "a b").all()
        assert (out["n_dup_intervals"] == 0).all()

    def test_adjacent_intervals_coalesce(self, spark):
        # two marked runs meeting end-to-start merge into one interval:
        # 'a b c' [1,3] and 'd e f' [4,6] are adjacent → 1 interval, 6 cut
        out = self._run(
            spark, ["a b c d e f", "a b c x y z", "q r s d e f"], 3)
        assert out.loc[0, "n_dup_intervals"] == 1
        assert out.loc[0, "n_removed_tokens"] == 6
        assert out.loc[0, "clean_text"] == ""

    def test_plan_narrow_keys_single_semi_join(self, spark):
        """Scale pins: the gram string never rides a shuffle (128-bit
        xxhash pair only), the dup check is ONE left-semi hash join, and
        no single-partition exchange appears."""
        import io
        from contextlib import redirect_stdout

        from immich_geodata_zh_tw_spark.operators import dedup

        df = spark.createDataFrame(
            [(i, "a b c d e f g h") for i in range(10)],
            "doc_id long, text string")
        out = dedup.substr_dedup(df, id_col="doc_id", text_col="text",
                                 gram_words=3)
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        assert plan.count("LeftSemi") >= 1
        assert "SortMergeJoin" not in plan or "LeftSemi" in plan
        assert "Exchange SinglePartition" not in plan
        assert "xxhash64" in plan
    def test_sejong_normalization(self, spark):
        """Reference south_korea.py:173-221: Sejong rows whose sggnm is an
        institution (no 읍/면/동 suffix) promote admin_3 to admin_2; real
        읍/면/동 sggnm rows and non-Sejong rows are untouched."""
        from immich_geodata_zh_tw_spark.operators.admin_rules import sejong_normalize

        rows = [
            ("세종특별자치시", "세종시의회", "한솔동"),   # institution → promote
            ("세종특별자치시", "조치원읍", "교리"),       # real 읍 → keep
            ("경기도", "수원시장안구", "정자동"),         # not Sejong → keep
        ]
        df = spark.createDataFrame(pd.DataFrame(
            rows, columns=["sidonm", "sggnm", "admin_3"]))
        out = sejong_normalize(df).toPandas()
        got = list(zip(out["sggnm"], out["admin_3"]))
        assert got[0] == ("한솔동", None)
        assert got[1] == ("조치원읍", "교리")
        assert got[2] == ("수원시장안구", "정자동")

    def test_japan_r1_to_r5(self, spark):
        """One row per rule class (FIXTURES.md §7)."""
        from immich_geodata_zh_tw_spark.operators.admin_rules import japan_admin2_rules

        rows = [
            # pref, gun, muni, ward                          → expected admin_2
            ("東京都", None, "八王子市", None),               # R1 → 八王子市
            ("東京都", None, "奥多摩町", None),               # R2 → 奥多摩町
            ("神奈川県", None, "横浜市", "中区"),             # R3 → 横浜市中区
            ("北海道", "空知郡", "南幌町", None),             # R4 no dup → 南幌町
            ("北海道", "古宇郡", "泊村", None),               # R4 dup → 古宇郡泊村
            ("北海道", "国後郡", "泊村", None),               # R4 dup → 国後郡泊村
            ("島根県", "隠岐郡", None, None),                 # R5 → 隠岐郡
            ("東京都", "nan", "", None),                      # null tokens → null
        ]
        df = spark.createDataFrame(pd.DataFrame(
            rows, columns=["N03_001", "N03_003", "N03_004", "N03_005"]))
        out = japan_admin2_rules(df).toPandas()
        got = dict(zip(zip(out["N03_001"], out["N03_003"].fillna(""),
                           out["N03_004"].fillna("")), out["admin_2"]))
        assert got[("東京都", "", "八王子市")] == "八王子市"
        assert got[("東京都", "", "奥多摩町")] == "奥多摩町"
        assert got[("神奈川県", "", "横浜市")] == "横浜市中区"
        assert got[("北海道", "空知郡", "南幌町")] == "南幌町"
        assert got[("北海道", "古宇郡", "泊村")] == "古宇郡泊村"
        assert got[("北海道", "国後郡", "泊村")] == "国後郡泊村"
        assert got[("島根県", "隠岐郡", "")] == "隠岐郡"
        assert pd.isna(got[("東京都", "nan", "")])

    def test_korea_split(self, spark):
        from immich_geodata_zh_tw_spark.operators.admin_rules import (
            korea_split_city_district)

        df = spark.createDataFrame(pd.DataFrame(
            {"sggnm": ["수원시장안구", "안성시", "양평군"]}))
        out = korea_split_city_district(df).toPandas()
        assert out["city"].tolist() == ["수원시", "안성시", "양평군"]
        assert out["district"].tolist()[0] == "장안구"
        assert pd.isna(out["district"].tolist()[1])

    def test_strip_disambiguation(self, spark):
        from immich_geodata_zh_tw_spark.operators.admin_rules import (
            strip_disambiguation_suffix)

        df = spark.createDataFrame(pd.DataFrame({"n": ["西區 (光州)", "西區", "a (b) c"]}))
        out = df.select(strip_disambiguation_suffix(F.col("n")).alias("s")).toPandas()
        assert out["s"].tolist() == ["西區", "西區", "a (b) c"]


class TestTranslate:
    def test_priority_pick_with_preferred(self, spark):
        """Language priority beats preferred flag; preferred breaks ties
        within a language (alternate_names.py:61-85)."""
        from immich_geodata_zh_tw_spark.operators.translate import priority_pick

        df = spark.createDataFrame(pd.DataFrame({
            "geoname_id": [1, 1, 1, 2, 2],
            "lang": ["zh", "zh-TW", "en", "zh-Hans", "zh-Hans"],
            "name": ["甲", "乙", "c", "丙", "丁"],
            "is_preferred_name": [1, None, 1, None, 1],
        }))
        out = priority_pick(df, key="geoname_id", lang_col="lang",
                            preferred_col="is_preferred_name",
                            tiebreak=[F.col("name").asc()]).toPandas()
        got = dict(zip(out["geoname_id"], out["name"]))
        assert got[1] == "乙"   # zh-TW outranks zh despite preferred flag
        assert got[2] == "丁"   # same lang → preferred wins

    def test_extract_chinese_names_kernel_matches_expr(self, spark):
        """The hybrid Spark runs (JVM regex filters + memoized Arrow
        fixpoint kernel) must be VALUE-IDENTICAL to DuckDB running
        extract_chinese_names_sql on every branch: trad-first, s2t(first
        simp), later-trad-beats-earlier-simp, Han-contains fallback,
        dash-only candidate, word-fold conversions (头发→頭髮), empty/NULL
        inputs.  The regexes differ by engine (Java ``\\p{IsHan}``, RE2
        ``\\p{Han}``), so a case that differs is a cross-engine fault."""
        import duckdb

        from immich_geodata_zh_tw_spark.operators.translate import (
            extract_chinese_names, extract_chinese_names_sql)

        cases = ["Taipei,台北,臺北", "Taipei,台北,Tai-pei", "foo,bar",
                 "hello世界town,xyz", "", "头发屋,發街", "皇后區,queens",
                 "新营,Xinying,新營", None, "-,x", "干,乾", "里長,里长",
                 "发财,台北,發財", "a b,台 北", ",,,", "裏",
                 "Seoul,서울,汉城", "x,y,松岛,松島"]
        pdf = pd.DataFrame({"i": range(len(cases)), "alternatenames": cases})
        pdf["alternatenames"] = pdf["alternatenames"].astype(object)
        fast = (spark.createDataFrame(pdf)
                .select("i", extract_chinese_names("alternatenames")
                        .alias("picked"))
                .toPandas().set_index("i")["picked"])
        con = duckdb.connect()
        con.register("cases", pdf)
        spec = dict(con.execute(
            f"SELECT i, {extract_chinese_names_sql('alternatenames')} "
            f"FROM cases").fetchall())
        for i, case in enumerate(cases):
            assert (pd.isna(fast[i]) and spec[i] is None) or fast[i] == spec[i], (
                case, fast[i], spec[i])

    def test_null_token_normalization(self, spark):
        from immich_geodata_zh_tw_spark.operators.translate import (
            normalize_null_tokens)

        df = spark.createDataFrame(pd.DataFrame(
            {"v": ["", '""', "None", "nan", "ok"]}))
        out = df.select(normalize_null_tokens(F.col("v")).alias("v")).toPandas()
        assert out["v"].isna().tolist() == [True, True, True, True, False]


class TestSample:
    def test_diverse_sample_level_selection(self, spark):
        from immich_geodata_zh_tw_spark.operators.sample import diverse_sample

        pdf = pd.DataFrame({
            "a1": ["x"] * 6 + ["y"] * 6,
            "a2": ["p", "p", "q", "q", "r", "r"] * 2,
            "id": range(12),
        })
        df = spark.createDataFrame(pdf)
        # n=4 needs level 2 (2 distinct a1 < 4 ≤ 6 distinct (a1, a2))
        out = diverse_sample(df, ["a1", "a2"], n=4, order_col="id").toPandas()
        assert len(out) == 4
        assert out["id"].tolist() == [0, 2, 4, 6]  # first per group, group order

    def test_diverse_sample_reference_edge_cases(self, spark):
        """The reference's full O4 edge-case family
        (tests/test_geodata_base.py): normal / duplicate combos /
        insufficient / missing columns / empty / no admin columns /
        hierarchical / all-same-admin1 / nulls."""
        from immich_geodata_zh_tw_spark.operators.sample import diverse_sample

        def mk(a1, a2):
            return spark.createDataFrame(pd.DataFrame(
                {"a1": a1, "a2": a2, "id": range(len(a1))}))

        cols = ["a1", "a2"]
        # normal: all combos distinct, n == rows
        assert diverse_sample(
            mk(list("abcde"), list("vwxyz")), cols, n=5,
            order_col="id").count() == 5
        # duplicate combos: 10 rows, 3 combos → 3
        out = diverse_sample(
            mk(["t"] * 3 + ["n"] * 2 + ["c"] * 5,
               ["z"] * 3 + ["b"] * 2 + ["x"] * 5),
            cols, n=5, order_col="id").toPandas()
        assert len(out) == 3 and set(out["a1"]) == {"t", "n", "c"}
        # insufficient: 3 rows, n=5 → 3
        assert diverse_sample(mk(list("abc"), list("xyz")), cols, n=5,
                              order_col="id").count() == 3
        # missing columns: only a1 exists
        df_missing = spark.createDataFrame(
            pd.DataFrame({"a1": ["t", "t", "n"], "id": range(3)}))
        assert diverse_sample(df_missing, cols, n=5,
                              order_col="id").count() == 2
        # empty frame
        assert diverse_sample(
            spark.createDataFrame([], "a1 string, a2 string, id long"),
            cols, n=5, order_col="id").count() == 0
        # no admin columns at all → first n rows by order_col
        df_none = spark.createDataFrame(pd.DataFrame(
            {"lat": [25.0, 25.1, 25.2, 24.0, 22.0], "id": range(5)}))
        got = diverse_sample(df_none, cols, n=3, order_col="id").toPandas()
        assert got["id"].tolist() == [0, 1, 2]
        # hierarchical: 3 a1 < 5 ≤ 5 (a1, a2) combos
        out = diverse_sample(
            mk(["t", "t", "n", "n", "c"], ["p", "q", "r", "s", "u"]),
            cols, n=5, order_col="id").toPandas()
        assert len(out) == 5 and len(set(out["a1"])) == 3
        # all same a1: level 2 gives 5
        out = diverse_sample(
            mk(["t"] * 5, list("vwxyz")), cols, n=5,
            order_col="id").toPandas()
        assert len(out) == 5 and set(out["a1"]) == {"t"}
        # nulls are group values (polars-unique semantics)
        out = diverse_sample(
            mk(["t", "t", None, "n"], ["z", None, "b", "b"]),
            cols, n=5, order_col="id").toPandas()
        assert 0 < len(out) <= 5 and len(out) == 4


class TestRepetition:
    def test_gopher_repetition_hand_computed(self, spark):
        """Crafted docs with known n-gram structure (independent of the
        DuckDB oracle, which could share a misreading with the engine)."""
        from immich_geodata_zh_tw_spark.operators import textstats

        docs = spark.createDataFrame(
            pd.DataFrame({
                "doc_id": [1, 2, 3],
                "text": [
                    # 6 words, bigrams: ab,ba,ab,ba,ab -> top 'a b' 3/5;
                    # 5-grams: 'a b a b a','b a b a b' -> no dup
                    "a b a b a b",
                    # 4 words: too short for 5-grams -> NULL dup5
                    "x y x y",
                    # one word: no bigrams either
                    "lonely",
                ],
            }))
        got = (textstats.repetition_metrics(docs).toPandas()
               .set_index("doc_id").sort_index())
        assert got.loc[1, "n_words"] == 6
        assert got.loc[1, "top2gram_frac"] == 0.6          # 3/5
        assert got.loc[1, "dup5gram_frac"] == 0.0
        assert got.loc[2, "top2gram_frac"] == round(2 / 3, 6)
        assert pd.isna(got.loc[2, "dup5gram_frac"])
        assert pd.isna(got.loc[3, "top2gram_frac"])
        assert got.loc[3, "mean_word_len"] == 6.0
        # a doc that IS its own repetition: 'c d' * 5 -> dup5 = 1.0
        rep = spark.createDataFrame(
            pd.DataFrame({"doc_id": [9], "text": ["c d c d c d c d c d"]}))
        r = textstats.repetition_metrics(rep).toPandas().iloc[0]
        assert r["dup5gram_frac"] == 1.0
        assert r["top2gram_frac"] == round(5 / 9, 6)


class TestMinhashKernel:
    def test_arrow_bands_bit_identical_to_sql(self, spark):
        """The Arrow signature kernel must equal DuckDB's band rows (the
        oracles' minhash_bands_sql text) PER BAND VALUE — pair-set parity
        alone cannot catch signature drift (a byte-order slip yields
        wrong-but-consistent sigs with the SAME pair set)."""
        import duckdb

        from immich_geodata_zh_tw_spark.operators import dedup

        path = "/root/testdata/sf0.01/documents.parquet"
        d = spark.read.parquet(path)
        udf_bands = (d.select("doc_id", dedup.minhash_bands_udf(
            n_bands=4, shingle=5)(F.col("text")).alias("b"))
            .select("doc_id", F.posexplode("b").alias("band_idx", "sig"))
            .toPandas())
        sql_bands = duckdb.sql(f"""
            WITH hashed AS (
              SELECT doc_id, {dedup.minhash_md5s_sql('text')} AS mh
              FROM read_parquet('{path}'))
            {dedup.minhash_bands_sql('hashed')}""").df()
        key = ["doc_id", "band_idx", "sig"]
        got, want = (f[key].astype({"band_idx": "int64"})
                     .sort_values(key).reset_index(drop=True)
                     for f in (udf_bands, sql_bands))
        assert len(got) == 4 * d.count()
        pd.testing.assert_frame_equal(got, want)
        # edge rows: null text, empty text, shorter than one shingle
        edge = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2, 3], "text": [None, "", "ab"]}))
        got = (edge.select("doc_id", dedup.minhash_bands_udf()(
            F.col("text")).alias("b")).toPandas().set_index("doc_id"))
        assert got.loc[1, "b"] is None
        import hashlib
        h = hashlib.md5(b"").hexdigest()
        assert got.loc[2, "b"][0] == h[0:4] + h[4:8]  # one empty shingle
        h2 = hashlib.md5(b"ab").hexdigest()
        assert got.loc[3, "b"][3] == h2[24:28] + h2[28:32]

    def test_span_dedup_hand_computed(self, spark):
        """First corpus-wide occurrence wins; later copies vanish; a doc
        made entirely of seen spans disappears."""
        from immich_geodata_zh_tw_spark.operators import dedup

        docs = spark.createDataFrame(
            pd.DataFrame({
                "doc_id": [1, 2, 3],
                "text": [
                    "a b c d",            # spans (sw=2): 'a b', 'c d'
                    "c d e f a b",        # 'c d' dup, 'e f' new, 'a b' dup
                    "a b c d",            # all spans seen -> doc vanishes
                ],
            }))
        got = (dedup.span_dedup(docs, id_col="doc_id", text_col="text",
                                span_words=2).toPandas()
               .set_index("doc_id").sort_index())
        assert got.loc[1, "clean_text"] == "a b c d"
        assert got.loc[1, "n_kept"] == 2
        assert got.loc[2, "clean_text"] == "e f"
        assert got.loc[2, "n_kept"] == 1
        assert 3 not in got.index

    def test_decontaminate_hand_computed(self, spark):
        from immich_geodata_zh_tw_spark.operators import dedup

        train = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [
                "p q r s t",        # shares gram 'p q r' with eval
                "x y z w v",        # clean
                "a b",              # too short for 3-grams -> clean
            ]}))
        eval_df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [100], "text": ["o p q r s"]}))  # grams opq pqr qrs
        got = (dedup.ngram_decontaminate(train, eval_df, id_col="doc_id",
                                         text_col="text", ngram_words=3)
               .toPandas().set_index("doc_id").sort_index())
        assert bool(got.loc[1, "contaminated"]) is True
        assert got.loc[1, "n_shared_grams"] == 2  # 'p q r', 'q r s'
        assert bool(got.loc[2, "contaminated"]) is False
        assert bool(got.loc[3, "contaminated"]) is False
        assert len(got) == 3  # every train doc appears exactly once


class TestAdmin1Translate:
    def test_gate_branches(self, spark):
        """Reference translate.py:392-407 branch-by-branch (ref cited in
        operator docstring): empty alt keeps base, simplified converts,
        traditional + non-Chinese pass verbatim, missing keeps base."""
        from immich_geodata_zh_tw_spark.operators.translate import translate_admin1

        admin1 = spark.createDataFrame(pd.DataFrame({
            "geoname_id": [1, 2, 3, 4, 5, 6],
            "name": ["Base1", "Base2", "Base3", "Base4", "Base5", "Base6"]}))
        alt = spark.createDataFrame(pd.DataFrame({
            "geoname_id": [1, 2, 3, 4, 5],
            "alt_name": ["头发街",        # simplified -> s2t
                         "臺北",          # traditional -> verbatim
                         "Taipei City",  # non-Chinese -> verbatim
                         "",             # empty -> keep base
                         "皇后区"]}))     # simplified w/ word fixup
        got = (translate_admin1(admin1, alt).toPandas()
               .set_index("geoname_id").sort_index())
        assert got.loc[1, "name"] == "頭髮街"
        assert got.loc[2, "name"] == "臺北"
        assert got.loc[3, "name"] == "Taipei City"
        assert got.loc[4, "name"] == "Base4"
        assert got.loc[5, "name"] == "皇后區"   # 后->後->后 via word fixup, 区->區
        assert got.loc[6, "name"] == "Base6"   # no alt row at all
        assert (got["asciiname"] == got["name"]).all()


class TestMixtureWeightsDeterminism:
    def test_bit_stable_across_parallelism(self, spark):
        """Round-3 VERDICT item 2: the sqrt-mass normalizer must be
        order-free — run the query 5× under different shuffle-partition
        settings and assert bit-identical weights every time."""
        import pandas as pd

        from immich_geodata_zh_tw_spark.operators import textstats

        pdf = pd.DataFrame({
            "doc_id": range(400),
            "source": [f"dom{i % 7}" for i in range(400)],
            "text": [" ".join(f"w{(i * j) % 97}" for j in range(5 + i % 40))
                     for i in range(400)],
        })
        df = spark.createDataFrame(pdf)
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        results = []
        try:
            for parts in ("1", "3", "4", "7", "16"):
                spark.conf.set(key, parts)
                out = (textstats.mixture_weights(df, group_col="source")
                       .toPandas().sort_values("source").reset_index(drop=True))
                results.append(out)
        finally:
            spark.conf.set(key, old)
        for other in results[1:]:
            pd.testing.assert_frame_equal(results[0], other)
        # weights are a proper distribution at 6-dp grain
        assert abs(results[0]["weight"].sum() - 1.0) < 5e-6

    def test_alpha_temperature(self, spark):
        """α generalization: α=1 is token-proportional, α=0 is uniform,
        and the explicit α=0.5 matches the sqrt default bit-for-bit."""
        import pandas as pd

        from immich_geodata_zh_tw_spark.operators import textstats

        pdf = pd.DataFrame({
            "doc_id": range(60),
            "source": ["a"] * 30 + ["b"] * 20 + ["c"] * 10,
            "text": ["w " * (4 if i < 30 else 9 if i < 50 else 16)
                     for i in range(60)],
        })
        df = spark.createDataFrame(pdf)

        def w(alpha):
            out = (textstats.mixture_weights(df, group_col="source",
                                             alpha=alpha)
                   .toPandas().set_index("source").sort_index())
            return out

        prop = w(1.0)
        tot = prop["n_tokens"].sum()
        for s in "abc":
            assert abs(prop.loc[s, "weight"]
                       - prop.loc[s, "n_tokens"] / tot) < 2e-6
        flat = w(0.0)
        assert (abs(flat["weight"] - 1 / 3) < 2e-6).all()
        pd.testing.assert_frame_equal(
            w(0.5), (textstats.mixture_weights(df, group_col="source")
                     .toPandas().set_index("source").sort_index()))


class TestBoundedBoundarySample:
    def test_fraction_bounded_by_target(self):
        """Round-3 VERDICT item 3: driver-side sample is a fixed SIZE, not a
        fixed fraction — at 10^12 rows the expected collect stays ~100 k."""
        from immich_geodata_zh_tw_spark.operators.ids import \
            _bounded_sample_fraction

        for n in (0, 10, 100_000, 10**9, 10**12):
            f = _bounded_sample_fraction(n, 100_000)
            assert 0.0 < f <= 1.0
            if n:
                assert n * f <= 100_000 + 1e-6  # expected sample ≤ target
        assert _bounded_sample_fraction(50, 100_000) == 1.0

    def test_small_target_still_exact(self, spark):
        """Any boundary set is correct — a tiny sample must not change the
        output sequence."""
        import pandas as pd

        from immich_geodata_zh_tw_spark.operators import ids

        n = 500
        df = spark.createDataFrame(pd.DataFrame(
            {"name": [f"x{(i * 13) % n:04d}" for i in range(n)],
             "k": list(range(n))}))
        out = ids.sequential_ids_scalable(
            df, ["name", "k"], base=10, sample_target=20).toPandas()
        got = out.sort_values(["name", "k"])["seq_id"].tolist()
        assert got == list(range(10, 10 + n))


class TestReliableCheckpoint:
    def test_clusters_identical_with_reliable_checkpoint(self, spark, tmp_path):
        """Round-3 VERDICT item 5: the reliable-checkpoint knob must not
        change results; it only swaps localCheckpoint for a durable
        checkpoint() every N rounds (executor-loss tolerance at scale)."""
        import pandas as pd

        from immich_geodata_zh_tw_spark.operators import dedup

        base = "the quick brown fox jumps over the lazy dog " * 3
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3, 4, 5],
            "text": [base, base + "tail", base + "tail2",
                     "completely different text about spark engines",
                     "completely different text about spark engines!"],
        })
        df = spark.createDataFrame(pdf)
        sc = spark.sparkContext
        old_dir = sc._jsc.sc().getCheckpointDir()
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        try:
            plain = (dedup.minhash_clusters(df, id_col="doc_id",
                                            text_col="text")
                     .toPandas().sort_values("doc_id").reset_index(drop=True))
            durable = (dedup.minhash_clusters(df, id_col="doc_id",
                                              text_col="text",
                                              reliable_checkpoint_every=1)
                       .toPandas().sort_values("doc_id").reset_index(drop=True))
        finally:
            pass  # checkpoint dir is harmless to leave set in tests
        pd.testing.assert_frame_equal(plain, durable)


class TestSequencePack:
    def test_hand_computed_packing(self, spark):
        """Concat-and-chop: domain stream offsets and pack spans match a
        hand computation, including a doc spanning a pack boundary and an
        empty doc."""
        import pandas as pd

        from immich_geodata_zh_tw_spark.operators import textstats

        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3, 4, 10],
            "source": ["a", "a", "a", "a", "b"],
            "text": ["w1 w2 w3", "w1 w2 w3 w4 w5 w6", "", "w1 w2",
                     "x1 x2 x3 x4"],
        })
        df = spark.createDataFrame(pdf)
        got = (textstats.sequence_pack(df, budget=4)
               .toPandas().sort_values(["source", "doc_id"])
               .reset_index(drop=True))
        # domain a: tokens 3,6,0,2 → starts 0,3,9,9
        assert got["tok_start"].tolist() == [0, 3, 9, 9, 0]
        assert got["pack_first"].tolist() == [0, 0, 2, 2, 0]
        # doc 2 spans tokens [3,9) → packs 0..2; empty doc stays at its slot
        assert got["pack_last"].tolist() == [0, 2, 2, 2, 0]

    def test_bucketization_invariant(self, spark):
        """Any coarse-bucket granularity must give identical output (exact
        integer cumsums) — the property that lets the scalable two-pass
        replace a whole-domain window."""
        import pandas as pd

        from immich_geodata_zh_tw_spark.operators import textstats

        pdf = pd.DataFrame({
            "doc_id": range(200),
            "source": [f"s{i % 3}" for i in range(200)],
            "text": [" ".join("w" * 1 for _ in range(1 + i % 17))
                     for i in range(200)],
        })
        df = spark.createDataFrame(pdf)
        outs = []
        for nb in (1, 7, 4096):
            outs.append(textstats.sequence_pack(df, budget=32,
                                                coarse_buckets=nb)
                        .toPandas().sort_values(["source", "doc_id"])
                        .reset_index(drop=True))
        for other in outs[1:]:
            pd.testing.assert_frame_equal(outs[0], other)

    def test_no_whole_domain_window_partition(self, spark):
        """The plan must window by (domain, bucket), never by domain alone
        over the data — the whole-domain sort is the 100-TB serialization
        hazard the two-pass design removes."""
        import pandas as pd

        from immich_geodata_zh_tw_spark.operators import textstats

        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": range(50), "source": ["a"] * 50,
            "text": ["w x y"] * 50}))
        out = textstats.sequence_pack(df, budget=8)
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted")
        import re
        # every Window over the data includes the bucket column __b in its
        # partition spec (the offsets window runs over tiny bucket rows)
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        data_specs = [sp for sp in specs if "doc_id" in sp]
        assert data_specs, plan
        assert all("__b" in sp for sp in data_specs), data_specs


class TestPiiRedaction:
    """Round-4 PII operator (C4/RefinedWeb redaction classes) — hand-written
    strings through BOTH dialects of the shared SQL; the cross-engine value
    check rides the doc_text_profile oracle-parity test."""

    CASES = [
        ("mail a@b.org and c.d+e@sub.ex.com now",
         {"email": 2, "phone": 0, "ipv4": 0},
         "mail <EMAIL> and <EMAIL> now"),
        ("tel +886-2-1234-5678 or +1-800-555-0199",
         {"email": 0, "phone": 2, "ipv4": 0},
         "tel <PHONE> or <PHONE>"),
        ("host 10.0.0.1 and 192.168.255.254 up",
         {"email": 0, "phone": 0, "ipv4": 2},
         "host <IP> and <IP> up"),
        # ordering: the address consumes its dotted domain — ipv4 count on
        # the RAW text may see digit-dotted domains, but redaction runs
        # email-first so nothing is double-redacted
        ("u@10.0.0.1.example.net said hi", {"email": 1}, "<EMAIL> said hi"),
        ("no pii here", {"email": 0, "phone": 0, "ipv4": 0}, "no pii here"),
    ]

    def test_duckdb_counts_and_redaction(self):
        import duckdb

        from immich_geodata_zh_tw_spark.operators import textstats
        con = duckdb.connect()
        for text, counts, redacted in self.CASES:
            for kind, want in counts.items():
                got = con.sql(
                    f"SELECT {textstats.pii_count_sql(kind, 't', dialect='duckdb')}"
                    f" FROM (SELECT '{text}' AS t)").fetchone()[0]
                assert got == want, (text, kind, got, want)
            got_red = con.sql(
                f"SELECT {textstats.redact_pii_sql('t', dialect='duckdb')}"
                f" FROM (SELECT '{text}' AS t)").fetchone()[0]
            assert got_red == redacted, (text, got_red)

    def test_spark_matches_duckdb(self, spark):
        from pyspark.sql import functions as F

        from immich_geodata_zh_tw_spark.operators import textstats
        df = spark.createDataFrame(
            [(t,) for t, _, _ in self.CASES], ["t"])
        rows = df.select(
            "t", F.expr(textstats.redact_pii_sql("t")).alias("red"),
            *[F.expr(textstats.pii_count_sql(k, "t", dialect="spark"))
              .alias(k) for k in ("email", "phone", "ipv4")]).collect()
        by_text = {r["t"]: r for r in rows}
        for text, counts, redacted in self.CASES:
            r = by_text[text]
            assert r["red"] == redacted, (text, r["red"])
            for kind, want in counts.items():
                assert r[kind] == want, (text, kind, r[kind], want)


class TestDomainCap:
    """C4-style per-host cap: the salted two-phase top-K must equal the
    single-window reference verdict for any salt count, including skewed
    domains (one mega-host) and domains under the cap."""

    def _mkdf(self, spark):
        import pandas as pd

        rows = []
        # mega-host: 40 docs, host b: 5 docs (over cap), host c: 2 (under)
        for i in range(40):
            rows.append(("mega", 1000 + i, (i * 7) % 13))
        for i in range(5):
            rows.append(("b", 2000 + i, i % 3))
        for i in range(2):
            rows.append(("c", 3000 + i, 9))
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["host", "doc_id", "score"]))

    def _reference(self, pdf, cap):
        import numpy as np

        pdf = pdf.sort_values(["host", "score", "doc_id"],
                              ascending=[True, False, True])
        pdf["rk_all"] = pdf.groupby("host").cumcount() + 1
        pdf["kept"] = pdf["rk_all"] <= cap
        pdf["rk"] = np.where(pdf["kept"], pdf["rk_all"], np.nan)
        return pdf[["doc_id", "host", "rk", "kept"]]

    def test_matches_single_window_reference(self, spark):
        import pandas as pd

        from immich_geodata_zh_tw_spark.operators.sample import domain_cap
        from pyspark.sql import functions as F

        df = self._mkdf(spark)
        want = self._reference(df.toPandas(), cap=4)
        for n_salts in (1, 3, 16):
            got = domain_cap(
                df, "host", "doc_id", cap=4,
                order_cols=[F.col("score").desc(), F.col("doc_id").asc()],
                n_salts=n_salts).toPandas()
            a = got.sort_values("doc_id").reset_index(drop=True)
            b = want.sort_values("doc_id").reset_index(drop=True)
            assert a["kept"].tolist() == b["kept"].tolist(), n_salts
            pd.testing.assert_series_equal(
                a["rk"].astype("float64"), b["rk"].astype("float64"),
                check_names=False)
            assert set(a["host"]) == {"mega", "b", "c"}
            # every domain keeps exactly min(cap, its size)
            kept_per = a[a["kept"]].groupby("host").size().to_dict()
            assert kept_per == {"mega": 4, "b": 4, "c": 2}

    def test_stratified_hash_sample_deterministic(self, spark):
        import duckdb

        from immich_geodata_zh_tw_spark.operators.sample import (
            stratified_hash_sample, stratified_hash_sample_pred)

        df = self._mkdf(spark)
        got = {r["host"]: (r["n_total"], r["n_sampled"])
               for r in stratified_hash_sample(
                   df, "host", "doc_id", one_in=16).collect()}
        pdf = df.toPandas()
        pred = stratified_hash_sample_pred("doc_id", one_in=16)
        con = duckdb.connect()
        con.register("t", pdf)
        want = {h: (int(n), int(s)) for h, n, s in con.sql(
            f"SELECT host, count(*), count(*) FILTER (WHERE {pred})"
            " FROM t GROUP BY 1").fetchall()}
        assert got == want
        assert got["mega"][0] == 40

    def test_one_in_validation(self):
        import pytest

        from immich_geodata_zh_tw_spark.operators.sample import (
            stratified_hash_sample_pred)

        with pytest.raises(ValueError):
            stratified_hash_sample_pred("x", one_in=10)
        assert "1, 2" in stratified_hash_sample_pred("x", one_in=256)


class TestVocabInduction:
    def test_global_topk_matches_single_window(self, spark):
        import pandas as pd

        from immich_geodata_zh_tw_spark.operators.sample import (
            global_topk_ranked)
        from pyspark.sql import functions as F

        pdf = pd.DataFrame({
            "tok": [f"t{i:03d}" for i in range(200)],
            "freq": [(i * 13) % 50 for i in range(200)]})
        df = spark.createDataFrame(pdf)
        want = (pdf.sort_values(["freq", "tok"], ascending=[False, True])
                .head(25).reset_index(drop=True))
        for n_salts in (1, 4, 64):
            got = (global_topk_ranked(
                df, "tok", k=25,
                order_cols=[F.col("freq").desc(), F.col("tok").asc()],
                n_salts=n_salts)
                .orderBy("__rk").toPandas())
            assert got["tok"].tolist() == want["tok"].tolist(), n_salts
            assert got["__rk"].tolist() == list(range(1, 26))

    def test_vocab_and_oov(self, spark):
        import pandas as pd

        from immich_geodata_zh_tw_spark.operators import textstats

        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["a b a c", "b b z", ""]}))
        vocab = textstats.vocab_table(df, "text", k=3, n_salts=2)
        v = {r["token"]: (r["token_id"], r["freq"]) for r in vocab.collect()}
        # freq: b=3, a=2, c=1, z=1 → top-3 by (freq desc, token): b, a, c
        assert v == {"b": (0, 3), "a": (1, 2), "c": (2, 1)}
        st = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_ratio"])
              for r in textstats.oov_stats(df, vocab).collect()}
        assert st[1] == (4, 0, 0.0)
        assert st[2] == (3, 1, round(1 / 3, 6))
        assert 3 not in st  # zero-token doc absent by contract


class TestReleaseDiff:
    def test_classification_and_changed_cols(self, spark):
        import pandas as pd

        from immich_geodata_zh_tw_spark.operators.merge import release_diff

        old = spark.createDataFrame(pd.DataFrame({
            "geoname_id": [1, 2, 3, 4],
            "name": ["臺北", "高雄", "臺南", "桃園"],
            "admin1": ["TW.1", "TW.2", "TW.3", None]}))
        new = spark.createDataFrame(pd.DataFrame({
            "geoname_id": [1, 2, 4, 5],
            "name": ["臺北", "高雄市", "桃園", "新竹"],
            "admin1": ["TW.1", "TW.2", "TW.6", "TW.7"]}))
        got = {r["geoname_id"]: r for r in release_diff(
            old, new, key="geoname_id",
            compare_cols=["name", "admin1"]).collect()}
        assert got[1]["status"] == "unchanged" and got[1]["changed_cols"] is None
        assert got[2]["status"] == "changed"
        assert got[2]["changed_cols"] == ["name"]
        assert got[3]["status"] == "removed" and got[3]["new_name"] is None
        # NULL -> value must count as a change (null-safe compare)
        assert got[4]["status"] == "changed"
        assert got[4]["changed_cols"] == ["admin1"]
        assert got[5]["status"] == "added" and got[5]["old_name"] is None
        assert got[5]["new_name"] == "新竹"

    def test_diff_reconstructs_new_snapshot(self, spark):
        """Apply-invariant: old + diff == new.  Keep old values for
        unchanged keys, take new_* for added/changed, drop removed —
        exactly the consumer contract a weekly-release delta must honor
        (any classification or value error breaks the reconstruction)."""
        import pandas as pd

        from immich_geodata_zh_tw_spark.operators.merge import release_diff

        old = spark.createDataFrame(pd.DataFrame({
            "geoname_id": list(range(12)),
            "name": [f"n{i}" for i in range(12)],
            "admin1": [None if i % 5 == 0 else f"A{i % 3}"
                       for i in range(12)]}))
        new_pdf = pd.DataFrame({
            "geoname_id": [i for i in range(14) if i % 7 != 1],
            "name": [f"n{i}" if i % 3 else f"N{i}"
                     for i in range(14) if i % 7 != 1],
            "admin1": [None if i % 4 == 0 else f"A{i % 3}"
                       for i in range(14) if i % 7 != 1]})
        new = spark.createDataFrame(new_pdf)
        diff = release_diff(old, new, key="geoname_id",
                            compare_cols=["name", "admin1"]).collect()
        rebuilt = {}
        for r in diff:
            if r["status"] == "removed":
                continue
            src = "new" if r["status"] in ("added", "changed") else "old"
            rebuilt[r["geoname_id"]] = (r[f"{src}_name"], r[f"{src}_admin1"])
        want = {int(r.geoname_id): (r.name,
                                    None if pd.isna(r.admin1) else r.admin1)
                for r in new_pdf.itertuples()}
        assert rebuilt == want


class TestGopherCharFracs:
    def test_hand_computed(self, spark):
        """Crafted docs with known coverage, independent of the DuckDB
        oracle (which could share a misreading with the engine)."""
        from immich_geodata_zh_tw_spark.operators import textstats

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3, 4],
            "text": [
                # 6 alternating words: top2 ('a','b')×3 → 3·2/6 = 1.0;
                # top3 tie (aba×2, bab×2) → min gram, 2·3/6 = 1.0;
                # top4 (abab×2) → 2·4/6 > 1 (the published count×len
                # formulation double-counts overlap — documented);
                # no duplicated 5-gram
                "a b a b a b",
                # dup5: only 'z z z z z' repeats (starts 6,7) →
                # union [6,11] = 6 of 12 chars; dup6: nothing repeats
                "p q r p q r z z z z z z",
                # overlap-correct: both 5-gram starts are the same gram;
                # union [0,5] = all 6 chars, not 10
                "z z z z z z",
                # shorter than every n except 2
                "a b",
            ]}))
        got = (textstats.gopher_char_fracs(docs).toPandas()
               .set_index("doc_id").sort_index())
        assert got.loc[1, "top2gram_char_frac"] == 1.0
        assert got.loc[1, "top3gram_char_frac"] == 1.0
        assert got.loc[1, "top4gram_char_frac"] == round(8 / 6, 6)
        assert got.loc[1, "dup5gram_char_frac"] == 0.0
        assert got.loc[2, "dup5gram_char_frac"] == 0.5
        assert got.loc[2, "dup6gram_char_frac"] == 0.0
        assert got.loc[3, "dup5gram_char_frac"] == 1.0
        assert got.loc[4, "top2gram_char_frac"] == 1.0
        assert pd.isna(got.loc[4, "top3gram_char_frac"])
        assert got.loc[4, "dup5gram_char_frac"] == 0.0

    def test_empty_and_null_text(self, spark):
        from immich_geodata_zh_tw_spark.operators import textstats

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2], "text": ["", None]}))
        got = textstats.gopher_char_fracs(docs).toPandas()
        assert len(got) == 2
        for c in got.columns:
            if c != "doc_id":
                assert got[c].isna().all(), c


class TestExactPercentiles:
    def test_hand_computed_and_rank_boundaries(self, spark):
        """4 rows of one group: p25 must pick rank ceil(0.25·4)=1 (the
        exact-multiple boundary where a float ceil(p·n) could flip to
        rank 2), p50 rank 2, p99 rank 4."""
        from immich_geodata_zh_tw_spark.operators import textstats

        df = spark.createDataFrame(
            [("s", "a"), ("s", "a b"), ("s", "a b c"), ("s", "a b c d")],
            "source string, text string")
        got = (textstats.exact_percentiles(
                   df, textstats.token_count_sql("text"),
                   ps_bp=(2500, 5000, 9900), group_col="source")
               .toPandas().set_index(["grp", "bp"]).sort_index())
        for grp in ("s", "__all__"):
            assert got.loc[(grp, 2500), "value"] == 1
            assert got.loc[(grp, 5000), "value"] == 2
            assert got.loc[(grp, 9900), "value"] == 4
            assert got.loc[(grp, 5000), "n_rows"] == 4

    def test_matches_duckdb_native_and_python_reference(self, spark):
        """Random multi-group corpora: every pick equals (a) a pure-Python
        ceil-rank reference and (b) DuckDB's NATIVE percentile_disc — two
        independent statements of the same standard semantics."""
        import math
        import random

        import duckdb

        from immich_geodata_zh_tw_spark.operators import textstats

        rng = random.Random(11)
        rows = [(f"g{i % 7}", " ".join("w" for _ in range(rng.randint(1, 60))))
                for i in range(400)]
        df = spark.createDataFrame(rows, "source string, text string")
        bps = (1000, 2500, 5000, 7500, 9000, 9900)
        got = (textstats.exact_percentiles(
                   df, textstats.token_count_sql("text"),
                   ps_bp=bps, group_col="source")
               .toPandas().set_index(["grp", "bp"]).sort_index())
        by_group: dict[str, list[int]] = {}
        for g, t in rows:
            by_group.setdefault(g, []).append(len(t.split(" ")))
            by_group.setdefault("__all__", []).append(len(t.split(" ")))
        con = duckdb.connect()
        for g, vals in by_group.items():
            vals.sort()
            n = len(vals)
            for bp in bps:
                target = max(math.ceil(bp * n / 10000), 1)
                assert got.loc[(g, bp), "value"] == vals[target - 1], (g, bp)
                native = con.sql(
                    f"SELECT percentile_disc({bp / 10000}) WITHIN GROUP "
                    f"(ORDER BY x) FROM (SELECT unnest($vals$) x)"
                    .replace("$vals$", str(vals))).fetchone()[0]
                assert got.loc[(g, bp), "value"] == native, (g, bp)

    def test_plan_one_corpus_shuffle_via_rollup(self, spark):
        """The corpus must shuffle exactly once (the ROLLUP count
        aggregation — its Expand node proves both levels share the scan);
        every later exchange moves only the bounded distinct-value
        frame."""
        from immich_geodata_zh_tw_spark.operators import textstats

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = textstats.exact_percentiles(
            df, textstats.token_count_sql("text"),
            ps_bp=(5000,), group_col="source")
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted")
        assert "Expand" in plan
        assert plan.count("(1) Scan parquet") == 1
        assert "SortMergeJoin" not in plan


class TestNormalizeText:
    def test_hand_cases(self, spark):
        """Adversarial cleaning cases, incl. the control-between-spaces
        trap (strip must run BEFORE collapse or ' BEL ' leaves a double
        space) and the everything-dirty → empty case."""
        from immich_geodata_zh_tw_spark.operators import textstats

        cases = [
            ("  a\t\tb  ", "a b"),
            ("a \x07 b", "a b"),          # control between spaces
            ("\x01\x02\x1f\x7f", ""),     # all-control → empty
            ("a \r\n b\rc\nd", "a b c d"),
            ("already clean", "already clean"),
            ("\ttab\tstart", "tab start"),
        ]
        df = spark.createDataFrame(
            [(i, t) for i, (t, _) in enumerate(cases)], "i long, t string")
        got = (df.selectExpr(
                   "i", f"{textstats.normalize_text_sql('t')} AS n")
               .toPandas().set_index("i")["n"])
        for i, (_, want) in enumerate(cases):
            assert got[i] == want, (i, repr(got[i]), repr(want))
        # dialect parity on the same cases
        import duckdb
        con = duckdb.connect()
        for t, want in cases:
            d = con.execute(
                "SELECT " + textstats.normalize_text_sql(
                    "?", dialect="duckdb"), [t]).fetchone()[0]
            assert d == want, (repr(t), repr(d))


class TestChunkText:
    def test_hand_computed_with_overlap(self, spark):
        from immich_geodata_zh_tw_spark.operators import textstats

        df = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(10)))],
            "doc_id long, text string")
        got = (textstats.chunk_text(df, chunk_tokens=4, overlap_tokens=1)
               .toPandas().sort_values("chunk_id").reset_index(drop=True))
        # step 3 → candidate starts 0,3,6,9 — but the chunk at 6 already
        # reaches token 9, so the subset chunk at 9 is dropped
        assert list(got.start_tok) == [0, 3, 6]
        assert list(got.n_chunk_tokens) == [4, 4, 4]
        import hashlib
        ws = [f"w{i}" for i in range(10)]
        for _, r in got.iterrows():
            s = int(r.start_tok)
            expect = hashlib.md5(
                " ".join(ws[s:s + 4]).encode()).hexdigest()
            assert r.chunk_hash == expect

    def test_short_doc_single_chunk_and_coverage(self, spark):
        import random

        from immich_geodata_zh_tw_spark.operators import textstats

        rng = random.Random(2)
        rows = [(i, " ".join("t" for _ in range(rng.randint(1, 90))))
                for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = textstats.chunk_text(df, chunk_tokens=32,
                                   overlap_tokens=8).toPandas()
        lens = {i: len(t.split(" ")) for i, t in rows}
        for i, n in lens.items():
            ch = got[got.doc_id == i].sort_values("chunk_id")
            # starts every 24 tokens, minus any start whose previous
            # chunk already reached the end (no subset chunks)
            expect = [s for s in range(0, n, 24) if s == 0 or s + 1 <= n - 8]
            assert list(ch.start_tok) == expect, (i, n)
            last = ch.iloc[-1]
            # full coverage: the last chunk reaches the end exactly
            assert last.start_tok + last.n_chunk_tokens == n
            if n <= 32:
                assert len(ch) == 1 and ch.iloc[0].n_chunk_tokens == n
            # no chunk is contained in its predecessor
            ends = (ch.start_tok + ch.n_chunk_tokens).tolist()
            assert all(b > a for a, b in zip(ends, ends[1:]))

    def test_overlap_must_be_smaller(self, spark):
        import pytest as _pytest

        from immich_geodata_zh_tw_spark.operators import textstats

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            textstats.chunk_text(df, chunk_tokens=4, overlap_tokens=4)


class TestMixtureMaterialize:
    def test_sqrt_rates_hand_case(self, spark):
        """Two domains with 1:4 token mass under sqrt temperature give
        rates exactly 1.0 and 0.5 (C = min(n/sqrt n) lands on the small
        domain; the big one keeps sqrt(1/4) of its share)."""
        from immich_geodata_zh_tw_spark.operators import textstats

        rows = ([(i, "a", "t " * 9 + "t") for i in range(10)]         # 100 tok
                + [(100 + i, "b", "t " * 9 + "t") for i in range(40)])  # 400
        df = spark.createDataFrame(rows, "doc_id long, source string, "
                                         "text string")
        got = (textstats.mixture_materialize(df)
               .toPandas().set_index("source"))
        assert got.loc["a", "rate"] == 1.0
        assert got.loc["b", "rate"] == 0.5
        assert got.loc["a", "n_kept"] == 10          # full epoch
        # deterministic hash keep at rate 0.5 over 40 docs: binomial-ish
        assert 10 <= got.loc["b", "n_kept"] <= 30
        assert got.loc["b", "n_kept"] < got.loc["b", "n_docs"]

    def test_partitioning_invariance_and_bounds(self, spark):
        import random

        import pandas as pd

        from immich_geodata_zh_tw_spark.operators import textstats

        rng = random.Random(9)
        rows = [(i, f"s{i % 6}", " ".join("w" for _ in range(rng.randint(5, 80))))
                for i in range(300)]
        outs = []
        for parts in (1, 13):
            df = spark.createDataFrame(
                rows, "doc_id long, source string, text string") \
                .repartition(parts)
            outs.append(textstats.mixture_materialize(df).toPandas()
                        .set_index("source").sort_index())
        pd.testing.assert_frame_equal(outs[0], outs[1])
        g = outs[0]
        assert ((g.rate > 0) & (g.rate <= 1.0)).all()
        assert (g.rate == 1.0).any()                 # the epoch anchor
        assert (g.n_kept <= g.n_docs).all()
