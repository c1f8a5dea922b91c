"""DSIR-style importance weighting for pretraining-data selection.

Implements the scoring core of *Data Selection for Language Models via
Importance Resampling* (Xie et al., NeurIPS 2023): documents are featurized
as hashed bags of word uni+bigrams, a target distribution (the
high-quality corpus you want more of) and a raw distribution (the crawl
you select from) are estimated over the ``buckets`` hash buckets with
add-one smoothing, and each document's importance weight is

    log w(d) = Σ_f c_d[f] · ( log p̂_target[f] − log p̂_raw[f] )

Selection keeps the global top-K by weight (the paper resamples with
Gumbel noise; we keep the deterministic variant so the verdict is
reproducible and oracle-checkable — seeded Gumbel noise would only add a
hashed tiebreak).

Cross-engine exactness
----------------------
Log-probabilities are carried as **integer micro-nats**
(``CAST(round(ln(x) * 1e6) AS BIGINT)`` — the same construct the CCNet
bigram LM oracle validated empirically, `operators/ngram_lm.py`), so every
per-document sum is exact 64-bit integer arithmetic: no float-accumulation
order, no HUGEINT, and the DuckDB oracle reproduces the weight bit-for-bit.
The feature hash is the repo's standard 60-bit md5 prefix (the one
`operators/dedup.py:hashed_shingle_set_expr` emits), computed identically
in both engines.

Scale shape (the part that must survive 100 TB)
-----------------------------------------------
* ONE corpus scan → explode features → ``groupBy(doc, bucket)`` with
  map-side partial aggregation (the explode fan-out collapses before the
  only wide shuffle).
* The bucket distribution table is ≤ ``buckets`` rows (default 4096) —
  derived from the (doc, bucket) aggregate by a second, tiny shuffle and
  then **broadcast** back; the corpus never joins against anything
  non-broadcast.
* The grand totals N_target / N_raw come from a window over the bounded
  bucket table (≤ ``buckets`` rows in one partition — benign by
  construction, same as the mixture-weights |domains| window).
* The keep verdict uses the :func:`operators.sample.domain_cap`
  one-linear-tree salted two-phase ranking (constant domain), so no
  ``row_number() OVER ()`` ever sees the full corpus and the weights
  subtree is planned exactly once.

Reference parity note: the reference repo (RxChi1d/immich-geodata-zh-tw)
has no data-selection stage; this operator belongs to the driver-mandated
LLM-training-data pipeline family next to the Gopher gate and mixture
weights.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: default feature-hash bucket count (the paper uses 10k; any power of two
#: works — it only has to match between the engine and the oracle)
DEFAULT_BUCKETS = 4096


def words_expr(text_col: str = "text", *, dialect: str = "spark") -> str:
    """Whitespace word list with empties dropped — the repo's standard
    tokenization, as SQL text for either engine."""
    if dialect == "spark":
        return f"filter(split(trim({text_col}), ' '), x -> x <> '')"
    if dialect == "duckdb":
        return (f"list_filter(string_split(trim({text_col}), ' '), "
                f"x -> x <> '')")
    raise ValueError(dialect)


def feature_list_expr(words: str, *, dialect: str = "spark") -> str:
    """Uni+bigram feature list over a word-array expression.

    Bigrams join adjacent words with a single space.  Spark's ``sequence``
    DESCENDS when end < start (``sequence(1, -1)`` = ``[1, 0, -1]``), so the
    <2-word case is guarded explicitly; DuckDB's ``generate_series`` is
    already empty there.  Array indexing is 1-based via ``element_at`` in
    Spark and native ``[i]`` in DuckDB.
    """
    if dialect == "spark":
        bigrams = (f"CASE WHEN size({words}) < 2 THEN array() "
                   f"ELSE transform(sequence(1, size({words}) - 1), "
                   f"i -> concat(element_at({words}, i), ' ', "
                   f"element_at({words}, i + 1))) END")
        return f"concat({words}, {bigrams})"
    if dialect == "duckdb":
        bigrams = (f"list_transform(generate_series(1, len({words}) - 1), "
                   f"i -> ({words})[i] || ' ' || ({words})[i + 1])")
        return f"list_concat({words}, {bigrams})"
    raise ValueError(dialect)


def bucket_expr(feat: str, *, buckets: int = DEFAULT_BUCKETS,
                dialect: str = "spark") -> str:
    """60-bit md5-prefix hash of a feature string, mod ``buckets``.

    The prefix is non-negative (60 bits < 63), so plain ``%`` agrees with
    ``pmod`` and with DuckDB."""
    if dialect == "spark":
        return (f"cast(conv(substring(md5({feat}), 1, 15), 16, 10) "
                f"AS BIGINT) % {buckets}")
    if dialect == "duckdb":
        return f"('0x' || substring(md5({feat}), 1, 15))::BIGINT % {buckets}"
    raise ValueError(dialect)


def _ilog(arg: str) -> str:
    """Integer micro-nat log — identical text in Spark SQL and DuckDB."""
    return f"CAST(round(ln({arg}) * 1e6) AS BIGINT)"


def dsir_weights(df: DataFrame, target_pred: Column, *,
                 id_col: str = "doc_id", text_col: str = "text",
                 buckets: int = DEFAULT_BUCKETS,
                 repartition: bool = True) -> DataFrame:
    """Per-document DSIR importance weight in integer micro-nats.

    ``target_pred`` marks the target (high-quality) subset; the raw
    distribution is the full input (target ⊂ raw — the standard setting
    when the target examples live inside the crawl; a disjoint target
    corpus is just ``df`` unioned with a flag).

    Returns one row per input row: ``(id_col, dsir_logratio_micro6 BIGINT,
    dsir_n_feats BIGINT)``.  Documents with no features (empty text) get
    weight 0 over 0 features.

    ``repartition`` round-robins the narrow (id, flag, words) projection to
    ``defaultParallelism`` before the explode, so a few fat input splits
    don't serialize the featurization (the sf0.1 bench file is ONE split —
    measured 4.8 s single-task vs 0.4 s spread).  On a cluster whose input
    is already well-split, pass ``False`` to skip the exchange (same knob
    as ``dedup.minhash_bands``, `operators/dedup.py:178`).
    """
    # Materialize the word array ONCE per row: `element_at(<words expr>, i)`
    # inside the bigram lambda would re-evaluate the full split+filter per
    # INDEX — O(words²) per doc, measured 10× slower end-to-end (Catalyst
    # does not hoist loop-invariant subexpressions out of higher-order
    # function lambdas).
    base = df.select(F.col(id_col), target_pred.alias("__t"),
                     F.expr(words_expr(text_col, dialect="spark"))
                     .alias("__ws"))
    if repartition:
        base = base.repartition(
            df.sparkSession.sparkContext.defaultParallelism)
    feats = feature_list_expr("__ws", dialect="spark")
    # explode_outer keeps feature-less docs as ONE null-feature row, so no
    # corpus-sized join-back is ever needed to restore them — the whole
    # operator is explode → (doc, bucket) agg → broadcast → (doc) agg.
    exploded = base.select(
        F.col(id_col), F.col("__t"),
        F.explode_outer(F.expr(feats)).alias("__f"))
    docbuck = (exploded
               .select(id_col, "__t",
                       F.expr(bucket_expr("__f", buckets=buckets,
                                          dialect="spark")).alias("__b"))
               .groupBy(id_col, "__t", "__b")
               .agg(F.count("__b").alias("__c")))  # null bucket → c = 0

    bucket_tab = (docbuck.filter(F.col("__b").isNotNull())
                  .groupBy("__b")
                  .agg(F.sum(F.when(F.col("__t"), F.col("__c"))
                             .otherwise(F.lit(0))).alias("__nt"),
                       F.sum("__c").alias("__nr")))
    # grand totals via a window over the bounded bucket table (≤ `buckets`
    # rows — the single-partition window is benign by construction).
    # NB: Spark's withColumn resolves case-insensitively, so the totals
    # MUST NOT be case-variants of __nt/__nr or they'd replace them.
    from pyspark.sql.window import Window
    w_all = Window.partitionBy()
    bucket_tab = (bucket_tab
                  .withColumn("__tot_t", F.sum("__nt").over(w_all))
                  .withColumn("__tot_r", F.sum("__nr").over(w_all)))
    lcol = F.expr(
        f"({_ilog('__nt + 1')} - {_ilog(f'__tot_t + {buckets}')})"
        f" - ({_ilog('__nr + 1')} - {_ilog(f'__tot_r + {buckets}')})")
    ratio = bucket_tab.select("__b", lcol.alias("__L"))

    # left join: the null-bucket sentinel rows keep their doc alive with a
    # null L; the aggregate coalesces the all-null (feature-less) case to 0
    return (docbuck.join(F.broadcast(ratio), "__b", "left")
            .groupBy(id_col)
            .agg(F.coalesce(F.sum(F.col("__c") * F.col("__L")), F.lit(0))
                 .cast("long").alias("dsir_logratio_micro6"),
                 F.sum("__c").cast("long").alias("dsir_n_feats")))


def dsir_select(df: DataFrame, target_pred: Column, *,
                id_col: str = "doc_id", text_col: str = "text",
                buckets: int = DEFAULT_BUCKETS, keep_k: int,
                n_salts: int = 64, repartition: bool = True) -> DataFrame:
    """DSIR weights plus a deterministic top-K ``dsir_keep`` verdict.

    Keep = global rank ≤ ``keep_k`` under (weight DESC, id ASC), via the
    same ONE-linear-tree salted two-phase ranking as :func:`domain_cap`
    (with a constant domain): phase 1 ranks within ``hash(id) % n_salts``
    buckets — a local rank > keep_k proves ≥ keep_k better docs in that
    salt alone, so the row is definitively not kept; phase 2 sends the
    ≤ keep_k × n_salts survivors to one bounded partition where the
    row_number IS the true global rank, and casualties to tiny
    (local-rank)-keyed partitions.  No partition ever holds the corpus, no
    join-back, and the weights subtree is planned exactly once (a
    topk-then-join shape would re-plan the whole explode+aggregate chain
    for each consumer — the round-4 domain_cap double-exchange defect)."""
    weights = dsir_weights(df, target_pred, id_col=id_col,
                           text_col=text_col, buckets=buckets,
                           repartition=repartition)
    orders = [F.col("dsir_logratio_micro6").desc(), F.col(id_col).asc()]
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    from pyspark.sql.window import Window
    w_local = Window.partitionBy(salt).orderBy(*orders)
    tagged = weights.withColumn("__lrk", F.row_number().over(w_local))
    g2 = F.when(F.col("__lrk") <= keep_k, F.lit(-1)).otherwise(F.col("__lrk"))
    w_global = Window.partitionBy(g2).orderBy(*orders)
    ranked = tagged.withColumn("__rk", F.row_number().over(w_global))
    keep = (F.col("__lrk") <= keep_k) & (F.col("__rk") <= keep_k)
    return ranked.select(id_col, "dsir_logratio_micro6", "dsir_n_feats",
                         keep.alias("dsir_keep"))


def dsir_oracle_cte(*, buckets: int = DEFAULT_BUCKETS, keep_k: int,
                    target_sql: str = "lang = 'en'",
                    table: str = "documents",
                    id_col: str = "doc_id",
                    text_col: str = "text") -> str:
    """DuckDB CTE chain computing the identical weights + keep verdict.

    Every ``sum`` is cast to BIGINT at the aggregate (DuckDB sum(BIGINT)
    types as HUGEINT → float64 in pandas — the round-4 artifact class).
    Exposes the final CTE ``dsirsel(doc_id, dsir_logratio_micro6,
    dsir_n_feats, dsir_keep)``.
    """
    words = words_expr(text_col, dialect="duckdb")
    feats = feature_list_expr("a", dialect="duckdb")
    bexpr = bucket_expr("f", buckets=buckets, dialect="duckdb")
    return f"""
dsirw AS (
  SELECT {id_col}, ({target_sql}) AS t, {words} AS a FROM {table}),
dsirf AS (
  SELECT {id_col}, t, unnest({feats}) AS f FROM dsirw),
dsirdb AS (
  SELECT {id_col}, t, {bexpr} AS b, count(*) AS c
  FROM dsirf GROUP BY 1, 2, 3),
dsirbt AS (
  SELECT b,
         CAST(sum(CASE WHEN t THEN c ELSE 0 END) AS BIGINT) AS nt,
         CAST(sum(c) AS BIGINT) AS nr
  FROM dsirdb GROUP BY 1),
dsirtot AS (
  SELECT CAST(sum(nt) AS BIGINT) AS gnt, CAST(sum(nr) AS BIGINT) AS gnr
  FROM dsirbt),
dsirlt AS (
  SELECT b,
         ({_ilog('nt + 1')} - {_ilog(f'gnt + {buckets}')})
       - ({_ilog('nr + 1')} - {_ilog(f'gnr + {buckets}')}) AS L
  FROM dsirbt CROSS JOIN dsirtot),
dsirwt AS (
  SELECT d.{id_col},
         CAST(sum(d.c * l.L) AS BIGINT) AS w,
         CAST(sum(d.c) AS BIGINT) AS nf
  FROM dsirdb d JOIN dsirlt l USING (b) GROUP BY 1),
dsirall AS (
  SELECT t.{id_col},
         coalesce(w.w, 0) AS dsir_logratio_micro6,
         coalesce(w.nf, 0) AS dsir_n_feats
  FROM {table} t LEFT JOIN dsirwt w USING ({id_col})),
dsirsel AS (
  SELECT {id_col}, dsir_logratio_micro6, dsir_n_feats,
         (row_number() OVER (ORDER BY dsir_logratio_micro6 DESC, {id_col})
          <= {keep_k}) AS dsir_keep
  FROM dsirall)
"""
