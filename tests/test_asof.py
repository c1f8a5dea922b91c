"""asof_join (operators/asof.py): semantics vs a brute-force argmax oracle,
tie / tolerance behavior, bucket-span invariance, plan shape."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from immich_geodata_zh_tw_spark.operators.asof import asof_join


def _brute(left_rows, right_rows, *, tolerance=None):
    """Per-left-row argmax reference (key, on, id) — inclusive, greatest
    tie id wins (scan-order-nearest)."""
    out = {}
    for lk, lon, lid in left_rows:
        best = None
        for rk, ron, rid, rv in right_rows:
            if rk != lk:
                continue
            if ron > lon or (tolerance is not None
                             and lon - ron > tolerance):
                continue
            key = (ron, rid)
            if best is None or key > (best[0], best[1]):
                best = (ron, rid, rv)
        out[(lk, lon, lid)] = best
    return out


def _mk(spark, left_rows, right_rows):
    l = spark.createDataFrame(left_rows, "k int, t double, lid int")
    r = spark.createDataFrame(right_rows,
                              "k int, t double, rid int, rv double")
    return l, r


def _run(df):
    return {(row.k, row.t, row.lid):
            (None if row.r_t is None else (row.r_t, row.r_rid, row.r_rv))
            for row in df.collect()}


@pytest.fixture(scope="module")
def fuzz_data():
    rng = random.Random(20260818)
    left = [(rng.randrange(5), round(rng.uniform(0, 100), 3), i)
            for i in range(160)]
    right = [(rng.randrange(5), round(rng.uniform(0, 100), 3), i,
              round(rng.uniform(-5, 5), 3)) for i in range(120)]
    # force inclusive-equality and right-tie cases
    right += [(left[0][0], left[0][1], 500, 1.0),
              (left[0][0], left[0][1], 501, 2.0)]
    return left, right


@pytest.mark.parametrize("tolerance", [None, 7.5])
def test_matches_brute_force(spark, fuzz_data, tolerance):
    left, right = fuzz_data
    l, r = _mk(spark, left, right)
    got = _run(asof_join(l, r, on="t", by="k", value_cols=["rid", "rv"],
                         tolerance=tolerance, tie_col="rid"))
    want = _brute(left, right, tolerance=tolerance)
    assert got == want


@pytest.mark.parametrize("span", [1.0, 13.0, 1000.0])
def test_bucket_span_invariance(spark, fuzz_data, span):
    """The mega-key escape hatch returns row-identical results at any span
    (1000.0 puts everything in one bucket = degenerate single window)."""
    left, right = fuzz_data
    l, r = _mk(spark, left, right)
    base = _run(asof_join(l, r, on="t", by="k", value_cols=["rid", "rv"],
                          tie_col="rid"))
    bucketed = _run(asof_join(l, r, on="t", by="k", value_cols=["rid", "rv"],
                              tie_col="rid", bucket_span=span))
    assert bucketed == base


def test_bigint_on_tolerance_is_exact(spark):
    """Integral `on` above 2^53 (snowflake ids): the tolerance gap must be
    judged in exact long arithmetic — a double cast has ~1024-unit ulp at
    2^60 and mis-rounds matches near the boundary (the _TIE discipline,
    applied to `on` itself)."""
    base = 2 ** 60
    l = spark.createDataFrame([(1, base + 1000, 1)],
                              "k int, t long, lid int")
    r = spark.createDataFrame([(1, base, 10, 1.0)],
                              "k int, t long, rid int, rv double")
    kw = dict(on="t", by="k", value_cols=["rid"], tie_col="rid")
    hit = asof_join(l, r, tolerance=1000, **kw).head()
    assert hit["r_rid"] == 10
    miss = asof_join(l, r, tolerance=999, **kw).head()
    assert miss["r_rid"] is None
    # bucketed path: same exact verdicts (gap + max_by key both in-type)
    hit_b = asof_join(l, r, tolerance=1000, bucket_span=512.0, **kw).head()
    assert hit_b["r_rid"] == 10
    miss_b = asof_join(l, r, tolerance=999, bucket_span=512.0, **kw).head()
    assert miss_b["r_rid"] is None


def test_bucket_span_with_tolerance(spark, fuzz_data):
    left, right = fuzz_data
    l, r = _mk(spark, left, right)
    base = _run(asof_join(l, r, on="t", by="k", value_cols=["rid", "rv"],
                          tie_col="rid", tolerance=9.0))
    bucketed = _run(asof_join(l, r, on="t", by="k", value_cols=["rid", "rv"],
                              tie_col="rid", tolerance=9.0, bucket_span=8.0))
    assert bucketed == base


def test_timestamp_on_column(spark):
    """Timestamp ordering is microsecond-exact (unix_micros, not the
    seconds-truncating unix_timestamp) and tolerance is in seconds."""
    l = spark.createDataFrame(
        [(1, "2024-01-01 00:00:10.000002", 1)],
        "k int, t string, lid int").withColumn("t", F.to_timestamp("t"))
    r = spark.createDataFrame(
        [(1, "2024-01-01 00:00:10.000001", 7, 1.5),
         (1, "2024-01-01 00:00:10.000003", 8, 2.5)],
        "k int, t string, rid int, rv double").withColumn(
        "t", F.to_timestamp("t"))
    row = asof_join(l, r, on="t", by="k", value_cols=["rid"],
                    tie_col="rid").collect()[0]
    assert row.r_rid == 7  # the later row is 1 microsecond in the future
    row = asof_join(l, r, on="t", by="k", value_cols=["rid"],
                    tie_col="rid", tolerance=0.0000005).collect()[0]
    assert row.r_rid is None  # within 0.5 µs there is no candidate


def test_timestamp_ntz_on_column(spark):
    """TIMESTAMP_NTZ (what parquet event tables carry) goes through the
    tz-free wall-clock micros branch — unix_micros would reject it; the
    µs tolerance and the bucket carry must both still be exact."""
    lt = F.col("t").cast("timestamp_ntz")
    l = spark.createDataFrame(
        [(1, "2024-01-01 00:00:10.000002", 1)],
        "k int, t string, lid int").withColumn("t", lt)
    r = spark.createDataFrame(
        [(1, "2024-01-01 00:00:10.000001", 7, 1.5),
         (1, "2024-01-01 00:00:05.000000", 6, 0.5)],
        "k int, t string, rid int, rv double").withColumn("t", lt)
    assert dict(l.dtypes)["t"] == "timestamp_ntz"
    row = asof_join(l, r, on="t", by="k", value_cols=["rid"],
                    tie_col="rid").collect()[0]
    assert row.r_rid == 7
    row = asof_join(l, r, on="t", by="k", value_cols=["rid"],
                    tie_col="rid", tolerance=0.0000005).collect()[0]
    assert row.r_rid is None  # 1 µs gap > 0.5 µs tolerance
    row = asof_join(l, r, on="t", by="k", value_cols=["rid"],
                    tie_col="rid", bucket_span=2.0).collect()[0]
    assert row.r_rid == 7  # bucket form agrees (rid=6 carried, 7 local)


def test_no_match_and_missing_key(spark):
    l, r = _mk(spark, [(1, 5.0, 0), (9, 5.0, 1)], [(1, 6.0, 0, 1.0)])
    got = _run(asof_join(l, r, on="t", by="k", value_cols=["rid", "rv"]))
    assert got[(1, 5.0, 0)] is None  # only candidate is in the future
    assert got[(9, 5.0, 1)] is None  # key absent from right


def test_column_validation(spark):
    l, r = _mk(spark, [(1, 5.0, 0)], [(1, 6.0, 0, 1.0)])
    with pytest.raises(ValueError, match="right side lacks"):
        asof_join(l, r, on="t", by="k", value_cols=["nope"])
    with pytest.raises(ValueError, match="already exist"):
        asof_join(l.withColumn("r_t", F.lit(1)), r, on="t", by="k",
                  value_cols=["rv"])


def test_plan_shape(spark, fuzz_data):
    """The union-merge form: NO nested-loop/cartesian join and exactly ONE
    exchange (the by-key shuffle) — the property that keeps it linear at
    10^12 rows where the range-join formulation explodes."""
    left, right = fuzz_data
    l, r = _mk(spark, left, right)
    plan = (asof_join(l, r, on="t", by="k", value_cols=["rv"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_null_on_never_matches(spark):
    """NULL `on` semantics (DuckDB ASOF / pandas merge_asof): a NULL-ts
    right row is never a candidate, a NULL-ts left row keeps its row with
    a NULL match — in the base, bucketed and tolerance paths."""
    l = spark.createDataFrame([(1, 5.0, 0), (1, None, 1)],
                              "k int, t double, lid int")
    r = spark.createDataFrame(
        [(1, None, 9, 7.5), (1, 4.0, 2, 1.0)],
        "k int, t double, rid int, rv double")
    for kw in ({}, {"bucket_span": 10.0}, {"tolerance": 100.0}):
        got = _run(asof_join(l, r, on="t", by="k",
                             value_cols=["rid", "rv"], **kw))
        assert set(got) == {(1, 5.0, 0), (1, None, 1)}
        assert got[(1, None, 1)] is None  # NULL left matches nothing
        assert got[(1, 5.0, 0)] == (4.0, 2, 1.0)  # NULL right never wins


def test_tie_col_keeps_64bit_precision(spark):
    """tie_col above 2^53 must not collapse under a double cast: greatest
    id wins among right rows sharing (by, on)."""
    big = 1 << 60
    l = spark.createDataFrame([(1, 5.0, 0)], "k int, t double, lid int")
    r = spark.createDataFrame(
        [(1, 5.0, big, 1.0), (1, 5.0, big + 1, 2.0)],
        "k int, t double, rid long, rv double")
    out = asof_join(l, r, on="t", by="k", value_cols=["rid", "rv"],
                    tie_col="rid").collect()[0]
    assert out.r_rid == big + 1
    # and in the bucketed path
    out = asof_join(l, r, on="t", by="k", value_cols=["rid", "rv"],
                    tie_col="rid", bucket_span=10.0).collect()[0]
    assert out.r_rid == big + 1


def test_value_cols_validation(spark):
    l, r = _mk(spark, [(1, 5.0, 0)], [(1, 4.0, 0, 1.0)])
    with pytest.raises(ValueError, match="drop it from value_cols"):
        asof_join(l, r, on="t", by="k", value_cols=["t", "rv"])
    with pytest.raises(ValueError, match="duplicate value_cols"):
        asof_join(l, r, on="t", by="k", value_cols=["rv", "rv"])
    with pytest.raises(ValueError, match="right side lacks"):
        asof_join(l, r, on="t", by="k", value_cols=["rv"], tie_col="nope")


def test_internal_column_collision_rejected(spark):
    l, r = _mk(spark, [(1, 5.0, 0)], [(1, 4.0, 0, 1.0)])
    with pytest.raises(ValueError, match="internal working columns"):
        asof_join(l.withColumn("__asof_side", F.lit(1)), r,
                  on="t", by="k", value_cols=["rv"])


def test_carry_column_collision_rejected(spark):
    l, r = _mk(spark, [(1, 5.0, 0)], [(1, 4.0, 0, 1.0)])
    with pytest.raises(ValueError, match="internal working columns"):
        asof_join(l, r.withColumn("__carry", F.lit(1)),
                  on="t", by="k", value_cols=["rv"], bucket_span=10.0)
