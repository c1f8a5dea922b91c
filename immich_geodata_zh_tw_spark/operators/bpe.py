"""BPE merge training (Sennrich et al. 2016) over a Spark corpus.

Completes the tokenizer-induction story next to frequency-vocabulary
induction (`textstats.vocab_table`): learn the byte-pair-encoding merge
table itself from the corpus.  Classic BPE trains on the **word-frequency
table**, not the raw corpus — the corpus collapses to (word, count) in one
scan, and every merge round then touches only |distinct words| rows.  That
is the load-bearing scale fact: at 100 TB the corpus scan happens ONCE;
the iterative part runs over a table bounded by vocabulary size.

Two training paths, same algorithm, tested equal round by round;
:func:`bpe_train_stats` picks one by the word table's size:

* :func:`bpe_rounds_inmem` — the bounded ``(word, count)`` table
  collected to the driver once (the textbook bounded driver action),
  then the exact in-memory merge loop.
* :func:`bpe_rounds_plan` — the fully-distributed fixed-round form: each
  round is ONE (pair → Σcount) shuffle over the word table plus a 1-row
  TakeOrdered argmax collect (the kmeans per-iteration bounded-collect
  precedent, `operators/kmeans.py`), and the merge applies as ONE literal
  string replace.  Cross-engine exact: the DuckDB oracle unrolls the
  identical recurrence into CTEs (`plans/driver_queries.py` doc_vocab bpe
  branch).

Merge application — the brace-wrapped replace trick
---------------------------------------------------
A word's symbol sequence is one string of brace-wrapped symbols,
``'low' → '{l}{o}{w}{$}'`` (``$`` = end-of-word).  Merging pair (x, y) is

    replace(s, '{x}{y}', '{xy}')

and because adjacent wrapped symbols share NO boundary characters, one
left-to-right ``replace`` pass rewrites exactly the classic BPE set of
non-overlapping occurrences — including self-overlapping runs
(``{x}{x}{x}{x}`` → pairs (1,2) and (3,4), the greedy result; a
space-joined encoding's shared separator hides every other occurrence
from the pass and pairs the wrong symbols in runs ≥ 3).  A rewrite can
never create a fresh ``{x}{y}`` occurrence: braces appear exactly at
symbol boundaries (words containing brace/``$`` characters are excluded
from the table), so the pattern matches whole adjacent symbols only, and
the merged symbol ``xy ≠ x``.  Both engines' ``replace`` are this same
left-to-right scan — parity is pinned by the oracle hash and
`tests/test_bpe.py`.

Reference parity: the reference repo has no tokenizer (GeoPandas ETL);
this is LLM-pipeline scope per the driver's training-data mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: end-of-word sentinel symbol (classic BPE '</w>'; one char keeps the
#: wrapped strings short)
EOW = "$"
#: characters that delimit symbols in the wrapped encoding — words
#: containing them (or the EOW char) are excluded from merge statistics
#: (they would break the boundary-unambiguity argument above; excluding
#: rare brace-bearing tokens is ordinary tokenizer pre-filtering)
_FORBIDDEN_RE = "[{}$]"
#: words longer than this are excluded from merge statistics (standard
#: tokenizer practice — pathological tokens would dominate pair counts)
MAX_WORD_CHARS = 32


def sym_init_expr(word_col: str, *, dialect: str = "spark") -> str:
    """``'low' → '{l}{o}{w}{$}'``: wrap each code unit, append the EOW
    symbol.  (Java regex operates on UTF-16 — astral chars would split
    into surrogate halves; fine for BMP text, documented limit.)"""
    if dialect == "spark":
        return (f"concat(regexp_replace({word_col}, '(.)', '{{$1}}'), "
                f"'{{{EOW}}}')")
    if dialect == "duckdb":
        return (f"concat(regexp_replace({word_col}, '(.)', '{{\\1}}', 'g'),"
                f" '{{{EOW}}}')")
    raise ValueError(dialect)


def word_filter_sql(word_col: str, *, dialect: str = "spark",
                    max_word_chars: int = MAX_WORD_CHARS) -> str:
    """Admission predicate for the word table (shared by both dialects up
    to the regex-match function name)."""
    fn = "rlike" if dialect == "spark" else "regexp_matches"
    if dialect == "spark":
        return (f"length({word_col}) <= {max_word_chars} "
                f"AND NOT {word_col} {fn} '{_FORBIDDEN_RE}'")
    return (f"length({word_col}) <= {max_word_chars} "
            f"AND NOT {fn}({word_col}, '{_FORBIDDEN_RE}')")


def symbols_expr(sym_col: str, *, dialect: str = "spark") -> str:
    """Wrapped string → symbol array: strip the outer braces, split on
    the ``}{`` boundary."""
    inner = f"substring({sym_col}, 2, length({sym_col}) - 2)"
    if dialect == "spark":
        return f"split({inner}, '[}}][{{]')"      # split pattern is regex
    if dialect == "duckdb":
        return f"string_split({inner}, '}}{{')"   # literal split
    raise ValueError(dialect)


def word_table(df: DataFrame, text_col: str = "text", *,
               max_word_chars: int = MAX_WORD_CHARS) -> DataFrame:
    """Corpus → ``(w, n, s)`` word-frequency table with initial wrapped
    symbol strings — the ONE corpus-wide scan of BPE training."""
    words = (df.select(F.explode(F.expr(
        f"filter(split(trim({text_col}), ' '), x -> x <> '')")).alias("w"))
        .filter(F.expr(word_filter_sql("w", dialect="spark",
                                       max_word_chars=max_word_chars)))
        .groupBy("w").agg(F.count(F.lit(1)).alias("n")))
    return words.withColumn(
        "s", F.expr(sym_init_expr("w", dialect="spark")))


def _pairs(wt: DataFrame) -> DataFrame:
    """(pair, Σ n) over adjacent symbol pairs, pair in pattern form
    ``'{x}{y}'`` — the array is materialized BEFORE the per-index lambda
    (the dsir.py O(symbols²) lesson)."""
    arr = wt.withColumn("__a", F.expr(symbols_expr("s", dialect="spark")))
    ex = arr.select(
        "n",
        F.explode(F.expr(
            "CASE WHEN size(__a) < 2 THEN array() "
            "ELSE transform(sequence(1, size(__a) - 1), "
            "i -> concat('{', element_at(__a, i), '}{', "
            "element_at(__a, i + 1), '}')) END")).alias("pair"))
    return ex.groupBy("pair").agg(F.sum("n").alias("cnt"))


def bpe_rounds_plan(df: DataFrame, *, n_merges: int,
                    text_col: str = "text",
                    max_word_chars: int = MAX_WORD_CHARS
                    ) -> tuple[list[tuple[int, str, int]], DataFrame]:
    """Distributed fixed-round BPE: returns ``(merges, final_word_table)``
    where ``merges`` is ``[(round, '{x}{y}', merged_count), ...]`` and the
    frame carries the post-merge symbol strings.

    Per round: one (pair → Σcount) hash-shuffle over the |distinct words|
    table, a 1-row TakeOrdered argmax (``orderBy(cnt DESC, pair).limit(1)``
    — map-side top-1, never a global sort), and one literal replace.  The
    word table persists per round so round k does not replay rounds
    1..k-1 (or the corpus scan) from scratch.

    The table is ``coalesce``d to core width before the persist: cached
    plans keep their compile-time partitioning (AQE's post-shuffle
    coalesce does not rewrite an ``InMemoryRelation`` unless
    ``canChangeCachedPlanOutputPartitioning`` is flipped), so without it
    every one of the ~n_merges downstream stages re-inherits the session's
    wide ``initialPartitionNum`` (1024 here) over a vocabulary-bounded
    table — measured 6 × 1024-task stages at sf0.01.  ``coalesce`` folds
    into the groupBy's shuffle read (no extra exchange), and the width is
    the word table's natural parallelism bound: |distinct words| rows of
    a few dozen bytes each."""
    from pyspark.storagelevel import StorageLevel
    width = max(df.sparkSession.sparkContext.defaultParallelism, 4)
    wt = (word_table(df, text_col, max_word_chars=max_word_chars)
          .coalesce(width)
          .persist(StorageLevel.MEMORY_AND_DISK))
    merges: list[tuple[int, str, int]] = []
    # ONE job per round: the pair-count collect both reads round r's table
    # and — because Spark populates a cache on first computation — fills
    # it, so round r-1's parent can unpersist right after, with no
    # count() materialization job in between (halves the fixed per-job
    # latency that dominates at test scale)
    prev = None
    for r in range(1, n_merges + 1):
        top = (_pairs(wt)
               .orderBy(F.col("cnt").desc(), F.col("pair").asc())
               .limit(1).collect())
        if prev is not None:
            prev.unpersist()
            prev = None
        if not top:
            break
        pair, cnt = top[0]["pair"], int(top[0]["cnt"])
        merges.append((r, pair, cnt))
        pat = pair.replace("'", "''")              # SQL-literal escaping:
        rep = pair.replace("}{", "").replace("'", "''")  # text may contain '
        nxt = (wt.select(
            "w", "n", F.expr(f"replace(s, '{pat}', '{rep}')").alias("s"))
            .persist(StorageLevel.MEMORY_AND_DISK))
        prev, wt = wt, nxt
    if prev is not None:
        # the final table was never the subject of a pair count — put one
        # bounded job through it so the parent can release (otherwise the
        # caller's first action over wt would recompute from an unpersisted
        # chain all the way back to the corpus scan)
        wt.count()
        prev.unpersist()
    return merges, wt


def bpe_oracle_cte(*, n_merges: int, table: str = "documents",
                   text_col: str = "text",
                   max_word_chars: int = MAX_WORD_CHARS) -> str:
    """DuckDB restatement of :func:`bpe_rounds_plan` with the recurrence
    unrolled into CTEs (the kmeans/pagerank oracle pattern): exposes
    ``bpem(round, pair, cnt)`` — the learned merges — and ``bwfin`` — the
    post-merge word table.  A pair-exhausted round yields an empty
    ``bm{{r}}``; the LEFT JOIN keeps the word table unchanged from there,
    matching the engine's early ``break``."""
    filt = word_filter_sql("w", dialect="duckdb",
                           max_word_chars=max_word_chars)
    init = sym_init_expr("w", dialect="duckdb")
    parts = [f"""
bwraw AS (
  SELECT unnest(list_filter(string_split(trim({text_col}), ' '),
                x -> x <> '')) AS w
  FROM {table}),
bw0 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n, {init} AS s
  FROM bwraw WHERE {filt} GROUP BY w)"""]
    for r in range(1, n_merges + 1):
        prev = f"bw{r - 1}"
        parts.append(f"""
bpp{r} AS (
  SELECT n, {symbols_expr('s', dialect='duckdb')} AS a FROM {prev}),
bpc{r} AS (
  SELECT '{{' || a[i] || '}}{{' || a[i + 1] || '}}' AS pair,
         CAST(sum(n) AS BIGINT) AS cnt
  FROM bpp{r}, unnest(generate_series(1, len(a) - 1)) AS t(i)
  GROUP BY 1),
bm{r} AS (SELECT pair, cnt FROM bpc{r} ORDER BY cnt DESC, pair LIMIT 1),
bw{r} AS (
  SELECT w, n,
         CASE WHEN m.pair IS NULL THEN s
              ELSE replace(s, m.pair, replace(m.pair, '}}{{', '')) END AS s
  FROM {prev} LEFT JOIN bm{r} m ON true)""")
    merge_rows = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, pair, cnt FROM bm{r}"
        for r in range(1, n_merges + 1))
    parts.append(f"\nbpem AS ({merge_rows}),\n"
                 f"bwfin AS (SELECT * FROM bw{n_merges})")
    return ",".join(parts)


def bpe_rounds_inmem(word_counts: list[tuple[str, int]], n_merges: int
                     ) -> tuple[list[tuple[int, str, int]],
                                list[tuple[list[str], int]]]:
    """In-memory twin of :func:`bpe_rounds_plan` over a bounded
    ``(word, count)`` table: returns ``(merges, final_seqs)`` where
    ``merges`` is ``[(round, '{x}{y}', merged_count), ...]`` — the exact
    shape the distributed form emits — and ``final_seqs`` is the
    post-merge ``[(symbol_list, count), ...]`` table.  Same admission
    filter, same pair counting, same tie-break (highest count, then
    lexicographically smallest pattern — byte order ≡ code-point order
    for the BMP strings both engines compare), same greedy left-to-right
    apply; `tests/test_bpe.py` pins the equality round by round."""
    import re
    seqs: list[tuple[list[str], int]] = [
        (list(w) + [EOW], n) for w, n in word_counts
        if len(w) <= MAX_WORD_CHARS and not re.search(_FORBIDDEN_RE, w)]
    merges: list[tuple[int, str, int]] = []
    for r in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in seqs:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        best = min(counts.items(),
                   key=lambda kv: (-kv[1], "{%s}{%s}" % kv[0]))
        (x, y), cnt = best
        merges.append((r, "{%s}{%s}" % (x, y), int(cnt)))
        merged = x + y
        new_seqs = []
        for syms, n in seqs:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_seqs.append((out, n))
        seqs = new_seqs
    return merges, seqs


def bpe_train_stats(df: DataFrame, *, n_merges: int,
                    text_col: str = "text",
                    max_word_chars: int = MAX_WORD_CHARS
                    ) -> tuple[list[tuple[int, str, int]], int]:
    """``(merges, post-merge corpus token total)`` — the two quantities
    the doc_vocab BPE branch emits — with a size-gated execution choice
    (optimization guide §8 "decide with small rows", the
    `dedup.ngram_jaccard_pairs` kernel precedent):

    * word table under the session broadcast budget (the SAME statistic
      and threshold that license any broadcast join —
      ``_stats.broadcast_budget_ok`` on the corpus estimate): collect the
      bounded ``(w, n)`` table ONCE and run the rounds in memory
      (:func:`bpe_rounds_inmem`, pinned ≡ the distributed form) — one
      Spark job instead of ``n_merges`` sequential shuffle+argmax jobs
      whose fixed per-job latency dominates at dimension scale;
    * over-budget or unknown-stats corpora keep the distributed
      fixed-round plan verbatim (the scale-safe direction — the
      iterative part stays bounded by |distinct words|, never collected).
    """
    from ._stats import broadcast_budget_ok

    if broadcast_budget_ok(df, fanout=4.0):
        rows = (word_table(df, text_col, max_word_chars=max_word_chars)
                .select("w", "n").collect())
        merges, seqs = bpe_rounds_inmem(
            [(r["w"], int(r["n"])) for r in rows], n_merges)
        size = sum(n * len(syms) for syms, n in seqs)
        return merges, int(size)
    merges, wt_fin = bpe_rounds_plan(df, n_merges=n_merges,
                                     text_col=text_col,
                                     max_word_chars=max_word_chars)
    size = int(wt_fin.agg(F.sum(
        F.col("n") * F.size(F.expr(symbols_expr("s", dialect="spark"))))
        .cast("long").alias("t")).collect()[0]["t"])
    wt_fin.unpersist()
    return merges, size
