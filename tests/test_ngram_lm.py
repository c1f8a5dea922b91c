"""Bigram Stupid-Backoff LM (operators/ngram_lm.py).

Exact-match against an independent Python reference that replicates the
integer micro-nat arithmetic (same doubles, same rounding), branch coverage
for all four backoff cases, zero-token absence, and plan pins.
"""

import math

from immich_geodata_zh_tw_spark.operators.ngram_lm import lm_score, lm_train

ALPHA = 0.4


def _py_reference(train_texts, score_rows, alpha=ALPHA):
    """Independent reimplementation over Python dicts."""
    c1, c2 = {}, {}
    for t in train_texts:
        ws = [w for w in t.split(" ") if w]
        for i, w in enumerate(ws):
            c1[w] = c1.get(w, 0) + 1
            if i:
                c2[(ws[i - 1], w)] = c2.get((ws[i - 1], w), 0) + 1
    total = float(sum(c1.values()))
    out = {}
    for doc_id, t in score_rows:
        ws = [w for w in t.split(" ") if w]
        if not ws:
            continue
        micro = 0
        for i, w in enumerate(ws):
            if i == 0:
                p = c1[w] / total if w in c1 else 1.0 / total
            elif (ws[i - 1], w) in c2:
                p = c2[(ws[i - 1], w)] / float(c1[ws[i - 1]])
            elif w in c1:
                p = alpha * c1[w] / total
            else:
                p = alpha / total
            # round-half-away-from-zero like Spark/DuckDB round()
            v = math.log(p) * 1e6
            micro += int(math.floor(v + 0.5) if v >= 0
                         else math.ceil(v - 0.5))
        out[doc_id] = (len(ws), micro)
    return out


TRAIN = [
    "the red fox jumps over the lazy dog",
    "the red red wine is red",
    "a quick brown fox",
    "lazy dog sleeps",
]
SCORE = [
    (1, "the red fox"),          # all bigrams seen
    (2, "red dog"),              # unseen bigram, seen unigrams → backoff
    (3, "zebra the"),            # unseen unigram → floor, then no-context
    (4, "wine"),                 # single token, unigram path
    (5, ""),                     # zero tokens → absent
]


def _frames(spark):
    train = spark.createDataFrame([(t,) for t in TRAIN], "text string")
    score = spark.createDataFrame(SCORE, "doc_id long, text string")
    return train, score


class TestBigramLM:
    def test_exact_vs_python_reference(self, spark):
        train, score = _frames(spark)
        got = {r.doc_id: (r.lm_tokens, r.lm_logprob_micro6)
               for r in lm_score(score, lm_train(train)).collect()}
        ref = _py_reference(TRAIN, SCORE)
        assert got == ref
        assert 5 not in got  # zero-token doc absent

    def test_all_backoff_branches_fire(self, spark):
        """The fixture is built so each CASE branch contributes: assert the
        reference itself distinguishes them (guards fixture rot)."""
        ref = _py_reference(TRAIN, SCORE)
        base = _py_reference(TRAIN, SCORE, alpha=0.9)
        # alpha only affects backoff branches: docs 2 and 3 must move,
        # doc 1 (all seen bigrams, first-token unigram) must not
        assert ref[1] == base[1]
        assert ref[2] != base[2] and ref[3] != base[3]

    def test_ppl_view_consistent(self, spark):
        train, score = _frames(spark)
        rows = lm_score(score, lm_train(train)).collect()
        for r in rows:
            want = round(math.exp(-r.lm_logprob_micro6 / 1e6 / r.lm_tokens),
                         3)
            assert abs(r.lm_ppl - want) < 1e-9
            assert r.lm_ppl >= 1.0  # probs ≤ 1 → ppl ≥ 1

    def test_self_scoring_orders_fluency(self, spark):
        """Trained on the corpus, a verbatim training sentence must
        out-score (lower ppl) a shuffled-token variant."""
        train, _ = _frames(spark)
        probe = spark.createDataFrame(
            [(1, "the red fox jumps over the lazy dog"),
             (2, "dog the over red jumps fox lazy the")],
            "doc_id long, text string")
        rows = {r.doc_id: r.lm_ppl
                for r in lm_score(probe, lm_train(train)).collect()}
        assert rows[1] < rows[2]

    def test_plan_pins(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        model = lm_train(docs)
        plan = (lm_score(docs, model)
                ._jdf.queryExecution().executedPlan().toString())
        # the one-row total attach is the only nested-loop join
        assert plan.count("BroadcastNestedLoopJoin") <= 1
        assert "Python" not in plan  # zero UDFs
        # no whole-document array rides the exploded rows: post-explode
        # projection is (id, w, wp) — pin by checking the join keys exist
        assert "__wp" in plan and "__w" in plan
