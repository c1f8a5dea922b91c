"""Physical-plan regression guards: the plans we want, not just plans that
pass (SURVEY.md §4).  If an operator silently degrades to a sort-merge join
or loses scan pruning, these fail."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _check_flagship_plan(spark, tmp_path, cities_pdf) -> None:
    from immich_geodata_zh_tw_spark.plans.reverse_geocode import \
        reverse_geocode_pages
    from immich_geodata_zh_tw_spark.synth import pages, polygons

    pages.pages_df(spark, 100).write.parquet(str(tmp_path / "pages"))
    out = reverse_geocode_pages(
        spark, spark.read.parquet(str(tmp_path / "pages")),
        polygons.admin_polygons_pdf(village_grid=2), cities_pdf)
    plan = _plan(out)
    # scan → one Arrow kernel → project, and no reference table planned as
    # a driver-side LocalRelation
    _assert_one_arrow_pass(plan)
    assert "Aggregate" not in plan, plan
    assert "LocalTableScan" not in plan, plan


def _assert_one_arrow_pass(plan: str) -> None:
    """Exactly one MapInPandas, no other Python stage, no join and no
    exchange of any kind (no shuffle, no broadcast)."""
    import re
    # once in the tree, once as the "(n) MapInPandas" detail header
    assert plan.count("MapInPandas (") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert not re.search(r"\(\d+\) \w*Exchange\b", plan), plan
    assert "Join" not in plan, plan


class TestPlanQuality:
    def test_knn_join_is_broadcast_only(self, spark):
        """The kNN hot path must never join the big side: the places reach
        the executors as one broadcast object, not a join side."""
        from immich_geodata_zh_tw_spark.operators.knn import knn_join

        pts = spark.createDataFrame(pd.DataFrame(
            {"qid": range(100), "lat": [23.5] * 100, "lon": [121.0] * 100}))
        places = pd.DataFrame({
            "place_id": range(10),
            "latitude": [21.6 + 0.4 * i for i in range(10)],
            "longitude": [120.0 + 0.2 * i for i in range(10)]})
        out = knn_join(spark, pts, places, query_id="qid",
                       place_cols=["place_id"], res=8, k=1)
        _assert_one_arrow_pass(_plan(out))

    def test_knn_reduction_is_shuffle_free(self, spark):
        """The per-query nearest reduction runs inside the one Arrow pass —
        no big-side exchange, no aggregation of candidate rows, no Window
        sort (query ids are unique, so a groupBy would shuffle everything
        and reduce nothing).  The ring-only join has the same shape."""
        from immich_geodata_zh_tw_spark.operators.knn import (knn_join,
                                                              knn_join_static)

        pts = spark.createDataFrame(pd.DataFrame(
            {"qid": range(50), "lat": [23.5] * 50, "lon": [121.0] * 50}))
        places = pd.DataFrame({"place_id": [1], "latitude": [23.5],
                               "longitude": [121.0]})
        for join in (knn_join, knn_join_static):
            plan = _plan(join(spark, pts, places, query_id="qid",
                              place_cols=["place_id"], res=8, k=1))
            _assert_one_arrow_pass(plan)
            assert "Window" not in plan and "Aggregate" not in plan, plan

    def test_pip_join_broadcast_and_no_bigside_shuffle(self, spark):
        """The cover and the polygons are one broadcast object; the points
        pass once through one Arrow kernel, never joined or shuffled."""
        from immich_geodata_zh_tw_spark.operators.pipjoin import pip_join
        from immich_geodata_zh_tw_spark.synth import polygons

        polys = polygons.admin_polygons_pdf(village_grid=2)
        polys = polys.reset_index().rename(columns={"index": "poly_id"})
        pts = spark.createDataFrame(pd.DataFrame(
            {"pid": range(100), "lat": [23.5] * 100, "lon": [121.0] * 100}))
        out = pip_join(spark, pts, polys, id_col="poly_id",
                       attr_cols=["county"], res=8)
        _assert_one_arrow_pass(_plan(out))

    def test_minhash_single_arrow_pass(self, spark):
        """The MinHash signature must be ONE Arrow-batched kernel per
        self-join side — no JVM md5 (round 1: 8 interpreted digest passes;
        round 2: 1 interpreted CodegenFallback aggregate that re-ran inside
        the join stage) and no doubled ArrowEvalPython from an inferred
        pre-Generate filter (the plain-explode trap)."""
        from immich_geodata_zh_tw_spark.operators.dedup import minhash_candidate_pairs

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out = minhash_candidate_pairs(d, id_col="doc_id", text_col="text")
        plan = _plan(out)
        assert plan.count("md5") == 0, f"JVM md5 in plan {plan.count('md5')}×"
        # formatted explain prints each node twice (tree + detail section):
        # 2 sides × 1 kernel × 2 mentions = 4; a doubled eval would be 8
        n_arrow = plan.count("ArrowEvalPython")
        assert n_arrow <= 4, f"ArrowEvalPython appears {n_arrow}× (dup eval)"

    def test_flagship_single_wide_op(self, spark, tmp_path):
        """The full reverse-geocode plan is one Python stage over the scan:
        extract, bbox, PIP and kNN run in one mapInPandas kernel against a
        broadcast reference, so the pages side crosses no exchange and the
        plan holds no join, no aggregate and no LocalRelation."""
        from immich_geodata_zh_tw_spark.synth import cities

        _check_flagship_plan(spark, tmp_path, cities.cities_pdf(village_grid=2))

    def test_flagship_general_knn_path(self, spark, tmp_path):
        """The same plan when no one-ring guards the cities table and the
        kNN takes auto_ring's ring (here: one city in the bbox and one
        far-away place)."""
        from immich_geodata_zh_tw_spark.plans.geocode_kernel import grid_res
        from immich_geodata_zh_tw_spark.synth import cities

        cts = cities.cities_pdf(village_grid=2).iloc[:1]
        cts = pd.concat([cts, cts.assign(
            geoname_id=-1, latitude=-33.87, longitude=151.21)])
        assert grid_res(cts) is None
        _check_flagship_plan(spark, tmp_path, cts)

    def test_parquet_scan_pruning(self, spark):
        """Filters and projections must reach the parquet scan."""
        df = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
              .filter(F.col("l_quantity") > 40)
              .select("l_orderkey", "l_quantity"))
        plan = _plan(df)
        assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]" in plan
        assert "l_extendedprice" not in plan  # column pruned

    def test_extract_prunes_to_url_html(self, spark):
        """Only (url, html) may cross the Arrow boundary in the extract."""
        from immich_geodata_zh_tw_spark.extract.html_meta import extract_pages
        from immich_geodata_zh_tw_spark.synth import pages

        p = pages.pages_df(spark, 10)
        plan = _plan(extract_pages(p))
        # the mapInPandas input projection carries only url + html
        assert "text" in plan  # output schema mentions text
        idx = plan.find("extract_pages_batches")
        assert idx >= 0

    def test_whole_stage_codegen_on_cell_encode(self, spark):
        """Cell encode is Column algebra — must stay inside codegen."""
        from immich_geodata_zh_tw_spark.functions.geo import cell_expr

        df = (spark.read.parquet(f"{SF_DIR}/events.parquet")
              .select(cell_expr(F.expr("CAST(user_id AS DOUBLE)"),
                                F.expr("CAST(event_id AS DOUBLE)"), 10)
                      .alias("cell")))
        plan = _plan(df)
        assert "codegen id" in plan  # '*'-starred operators in formatted mode
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_cell_encode_from_names_is_the_same_expression(self, spark):
        """Column names build the encode from SQL text in one JVM call; it
        must optimize to the Column-algebra expression and give
        ``grid.cell_of``'s cells, NULL for a null or NaN coordinate."""
        import re

        import numpy as np

        from immich_geodata_zh_tw_spark.functions.geo import cell_expr
        from immich_geodata_zh_tw_spark.geo import grid

        rng = np.random.default_rng(3)
        lat = [*rng.uniform(-90, 90, 300), 90.0, -90.0, 0.0, float("nan"), None]
        lon = [*rng.uniform(-180, 180, 300), 180.0, -180.0, 1.0, 2.0, 3.0]
        df = spark.createDataFrame(
            [(a if a is None else float(a), float(b)) for a, b in zip(lat, lon)],
            "lat double, lon double")
        for res in (0, 10, 28):
            by_name = df.select(cell_expr("lat", "lon", res).alias("c"))
            by_col = df.select(cell_expr(F.col("lat"), F.col("lon"), res).alias("c"))
            plans = [re.sub(r"#\d+", "", d._jdf.queryExecution()
                            .optimizedPlan().toString()) for d in (by_name, by_col)]
            assert plans[0] == plans[1]
            got = [r.c for r in by_name.collect()]  # int64, not via float
            assert got[-2:] == [None, None]
            want = grid.cell_of(np.array(lat[:-2], dtype=float),
                                np.array(lon[:-2]), res)
            assert got[:-2] == want.tolist()


class TestSpanDedupPlan:
    def test_span_dedup_no_join_two_exchanges(self, spark):
        """Round-3 VERDICT item 4 rework: the span-dedup plan must have NO
        join-back (reassembly reads the winners aggregation directly) and
        only the two keyed exchanges (128-bit span-hash groupBy + per-doc
        groupBy) — the raw span string never rides a shuffle as a key."""
        from immich_geodata_zh_tw_spark.operators.dedup import span_dedup

        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2],
            "text": ["a b c d e f g h i j " * 3, "k l m " * 10]}))
        out = span_dedup(df, id_col="doc_id", text_col="text", span_words=10)
        plan = _plan(out)
        assert "Join" not in plan, plan
        import re
        # formatted plans list each node twice (tree + detail section)
        n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchanges == 2, plan
        # shuffle key of the first-occurrence agg is the 16-byte hash pair
        assert "xxhash64" in plan


class TestCurationPlanQuality:
    def test_doc_vocab_single_corpus_scan_and_broadcast(self, spark):
        """The vocab is materialized once (≤ K rows): the final plan must
        scan the corpus exactly ONCE (the coverage explode) and join the
        vocab by broadcast — never sort-merge, never a second corpus pass
        for the vocab branch."""
        import __spark_entry__ as e

        import re

        plan = _plan(e.queries()["doc_vocab"](spark, SF_DIR))
        # formatted output lists each physical scan once in the numbered
        # detail section.  The vocab/oov/bpe subtrees still share ONE
        # corpus scan; the two KMV branches are genuinely new input
        # passes over DIFFERENT projections ((source, text) and
        # (source, lang)) carrying their exact-audit count inside their
        # own pass (sketch.py with_exact), and the CMS build is a fourth
        # pass (its own aggregation over the token stream) — so exactly
        # FOUR scans, and any regression to per-branch exact aggregates
        # (6+ scans) fails
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 4, plan
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_global_topk_uses_window_group_limit(self, spark):
        """Phase 1 of the salted top-K must get Spark's WindowGroupLimit
        pushdown (partial rank-limit pruning BEFORE the exchange, final
        after), and phase 2 must compile to a distributed
        TakeOrderedAndProject over the bounded survivors — no
        SinglePartition exchange anywhere."""
        from immich_geodata_zh_tw_spark.operators.sample import (
            global_topk_ranked)

        df = spark.range(10000).selectExpr("CAST(id AS STRING) AS tok",
                                           "id % 97 AS freq")
        out = global_topk_ranked(
            df, "tok", k=10,
            order_cols=[F.col("freq").desc(), F.col("tok").asc()],
            n_salts=8)
        plan = _plan(out)
        assert "Partial" in plan and plan.count("WindowGroupLimit") >= 2, plan
        assert "TakeOrderedAndProject" in plan, plan
        assert "Exchange SinglePartition" not in plan, plan

    def test_domain_cap_single_scan_two_exchanges(self, spark):
        """Round-4 VERDICT #3 rework: domain_cap is ONE linear tree — the
        corpus scan and the salted (domain, salt) phase-1 exchange appear
        exactly once (the old cut/judged union re-planned that subtree
        twice), phase 2 re-buckets by the survivor/casualty key, and no
        branch joins, unions, or funnels into a single partition."""
        import re

        from immich_geodata_zh_tw_spark.operators.sample import domain_cap

        df = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
              .select("doc_id", "source",
                      F.length("text").alias("n_tokens")))
        out = domain_cap(df, "source", "doc_id", cap=3,
                         order_cols=[F.col("n_tokens").desc(),
                                     F.col("doc_id").asc()], n_salts=8)
        plan = _plan(out)
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
        assert "pmod" in plan  # the salt rides the partitioning keys
        assert "Join" not in plan and "Union" not in plan, plan
        assert "Exchange SinglePartition" not in plan, plan

    def test_pq_adc_corpus_never_shuffles(self, spark):
        """Both ANN branches of embed_pq_adc must be the compressed-corpus
        serving shape: Scan → MapInPandas (the ADC scan reads the corpus
        IN PLACE — no exchange below it) → per-partition rank prune →
        ONE q_id-keyed exchange of ≤ |queries|×k candidate rows → final
        window.  No joins anywhere (the probe-cell prune is a literal
        isin, not a join)."""
        import re

        import __spark_entry__ as e

        plan = _plan(e.queries()["embed_pq_adc"](spark, SF_DIR))
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
        assert plan.count("hashpartitioning(q_id") >= 2, plan
        assert "Join" not in plan, plan
        # the scan feeds MapInPandas directly — in the tree (parent above
        # child) no Exchange may sit between a MapInPandas and its scan
        tree = plan.split("\n\n")[0].splitlines()
        for i, line in enumerate(tree):
            if "MapInPandas" not in line:
                continue
            for below in tree[i + 1:]:
                if "Scan parquet" in below:
                    break
                assert "Exchange" not in below, plan

    def test_doc_domain_cap_driver_query_no_joins(self, spark):
        """The full driver query (cap ∪ sample branches) stays join-free
        and never funnels the corpus into one partition."""
        import __spark_entry__ as e

        plan = _plan(e.queries()["doc_domain_cap"](spark, SF_DIR))
        assert "pmod" in plan
        assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
        assert "Exchange SinglePartition" not in plan, plan


class TestScaleSafeJoinSides:
    def test_jaccard_join_strategy_follows_corpus_size(self, spark):
        """UDF-derived fan-out frames (shingle explode, band sigs, LSH
        tags) carry the PRE-fan-out scan estimate, so the operator — not
        Catalyst — must decide broadcast vs partitioned join from the
        source estimate × fan-out (operators/_stats.hint_if_large).  Under
        the threshold the fast broadcast path must survive; over it every
        join touching the fan-out frame must be SortMergeJoin — the only
        spillable-both-sides strategy (a shuffle_hash build is
        non-spillable and died with 'Can't acquire memory to build hash
        relation' in a 1.6 M-doc stress run) — and, critically, NO
        BroadcastHashJoin of a corpus-derived frame may survive."""
        from immich_geodata_zh_tw_spark.operators import dedup

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out = dedup.ngram_jaccard_pairs(d, id_col="doc_id",
                                        text_col="text", threshold=0.2)
        plan = _plan(out)
        assert "BroadcastHashJoin" in plan, plan
        assert "ShuffledHashJoin" not in plan, plan

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
            out = dedup.ngram_jaccard_pairs(d, id_col="doc_id",
                                            text_col="text", threshold=0.2)
            plan = _plan(out)
            assert "BroadcastHashJoin" not in plan, plan
            assert "SortMergeJoin" in plan, plan
            assert "ShuffledHashJoin" not in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_lsh_pair_join_strategy_follows_corpus_size(self, spark):
        """Same contract for the embedding LSH bucket self-join."""
        from immich_geodata_zh_tw_spark.operators import similarity

        e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        mk = lambda: similarity.lsh_scored_pairs(
            e, id_col="vec_id", vec_col="embedding", dim=64)
        assert "BroadcastHashJoin" in _plan(mk()), _plan(mk())
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
            plan = _plan(mk())
            assert "SortMergeJoin" in plan, plan
            assert "BroadcastHashJoin" not in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestCharFracsPlan:
    def test_zero_exchange_single_arrow_pass(self, spark):
        """Within-doc metrics are row-local: the whole Gopher Table-A1
        char-fraction family must compute in ONE mapInPandas pass with NO
        Exchange anywhere in the plan (contrast repetition_metrics, whose
        SQL-twin shape pays (doc, gram) shuffles by design)."""
        from immich_geodata_zh_tw_spark.operators import textstats

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = _plan(textstats.gopher_char_fracs(docs))
        assert "Exchange" not in plan
        # once in the tree, once as the "(n) MapInPandas" detail header
        assert plan.count("MapInPandas (") == 1
        # the select() before the kernel must prune the scan to (id, text)
        assert "n_chars" not in plan and "lang" not in plan
