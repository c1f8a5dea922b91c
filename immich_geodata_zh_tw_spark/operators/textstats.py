"""Text-analysis operators for the training-data pipeline (driver mandate).

Language-ID (stopword heuristic), quality scoring (length/punct/stopword
ratios), token counting, and document fingerprinting — all pure JVM SQL
expressions (no UDF on the hot path).

Portability rule: every snippet here is emitted as SQL *text* that parses
identically in Spark SQL and DuckDB (no backslash escapes — the two engines
disagree on string-literal escaping), so the engine side (``F.expr``) and the
DuckDB oracle run the very same formula.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: tiny deterministic stopword lists per language (heuristic, not a model)
STOPWORDS = {
    "de": ["der", "die", "und", "das", "ein"],
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "los", "que", "de"],
    "fr": ["le", "la", "et", "les", "des"],
}


def stopword_hits_sql(lang: str, text_col: str = "text") -> str:
    """Σ over the lang's stopwords of space-delimited occurrence counts.

    Counted via padded replace-shrinkage — identical semantics in both
    engines, no regex: count(w) = (len(padded) − len(replace(padded, ' w ', '')))
    / len(' w ').  Overlap note: adjacent repeats (' a a ') share the middle
    space, so replace catches every other one — both engines scan
    left-to-right, so the (under)count is identical on both sides.
    """
    padded = f"concat(' ', {text_col}, ' ')"
    terms = [
        f"CAST((length({padded}) - length(replace({padded}, ' {w} ', ''))) / {len(w) + 2} AS BIGINT)"
        for w in STOPWORDS[lang]
    ]
    return "(" + " + ".join(terms) + ")"


def token_count_sql(text_col: str = "text") -> str:
    """Space-separated token count: words = spaces-in-trimmed + 1 (0 if empty)."""
    t = f"trim({text_col})"
    return (f"(CASE WHEN length({t}) = 0 THEN 0 "
            f"ELSE length({t}) - length(replace({t}, ' ', '')) + 1 END)")


#: GPT-2-style pre-tokenizer pieces: contraction suffixes, space-prefixed
#: letter runs, space-prefixed digit runs, space-prefixed punctuation runs,
#: residual whitespace.  Dialect split only for backslash escaping (Spark SQL
#: string literals eat single backslashes; DuckDB keeps them).
_BPE_PIECES = (r"''(?:s|t|re|ve|m|ll|d)"
               r"| ?{L}+| ?{N}+| ?[^{S}{L}{N}]+|{S}+")
_BPE_RE = {
    "spark": _BPE_PIECES.format(L=r"\\p{L}", N=r"\\p{N}", S=r"\\s"),
    "duckdb": _BPE_PIECES.format(L=r"\p{L}", N=r"\p{N}", S=r"\s"),
}


def bpe_token_count_sql(text_col: str = "text", *,
                        dialect: str = "spark") -> str:
    """BPE-ish token count (driver mandate): number of GPT-2-style
    pre-tokenizer pieces, via regexp_extract_all — still zero UDF."""
    if dialect == "spark":
        return f"size(regexp_extract_all({text_col}, '{_BPE_RE['spark']}', 0))"
    if dialect == "duckdb":
        return f"len(regexp_extract_all({text_col}, '{_BPE_RE['duckdb']}'))"
    raise ValueError(dialect)


def punct_ratio_sql(text_col: str = "text") -> str:
    # CAST AS DOUBLE: Spark parses bare decimal literals as DECIMAL, DuckDB
    # as DOUBLE — forcing double arithmetic keeps both engines bit-identical
    return (f"round(CAST(length({text_col}) - length(regexp_replace({text_col}, '[.,;:!?]', '')) "
            f"AS DOUBLE) / greatest(length({text_col}), 1), 6)")


def digit_ratio_sql(text_col: str = "text") -> str:
    return (f"round(CAST(length({text_col}) - length(regexp_replace({text_col}, '[0-9]', '')) "
            f"AS DOUBLE) / greatest(length({text_col}), 1), 6)")


def quality_score_sql(text_col: str = "text") -> str:
    """Blend of token-length saturation and stopword density, in [0, 1]."""
    toks = token_count_sql(text_col)
    sw = stopword_hits_sql("en", text_col)
    return (
        f"(CASE WHEN length({text_col}) < 20 THEN CAST(0.0 AS DOUBLE) ELSE "
        f"round(least(CAST(1.0 AS DOUBLE), CAST({toks} AS DOUBLE) / 50.0) * 0.5 "
        f"+ least(CAST(1.0 AS DOUBLE), CAST({sw} AS DOUBLE) * 10.0 / greatest({toks}, 1)) * 0.5, 6) END)"
    )


def predict_lang_sql(text_col: str = "text") -> str:
    """Stopword-vote language ID: most hits wins, tie → alphabetical."""
    votes = {lang: stopword_hits_sql(lang, text_col) for lang in STOPWORDS}
    langs = sorted(votes)
    branches = []
    for i, lang in enumerate(langs):
        conds = [f"{votes[lang]} > 0"]
        for other in langs[:i]:
            conds.append(f"{votes[lang]} > {votes[other]}")   # earlier lang wins ties
        for other in langs[i + 1:]:
            conds.append(f"{votes[lang]} >= {votes[other]}")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "(CASE " + " ".join(branches) + " ELSE 'und' END)"


def fingerprint_sql(text_col: str = "text") -> str:
    """Normalized-content fingerprint: md5 of lowercased alnum+space text."""
    return f"md5(regexp_replace(lower({text_col}), '[^a-z0-9 ]', ''))"


#: PII patterns (the C4 / RefinedWeb / Dolma redaction classes: emails,
#: E.164-style dashed phone numbers, IPv4 literals) — backslash-free per the
#: module portability rule ([0-9] not \d, [.] not \., no \b: RE2 (DuckDB)
#: and java.util.regex (Spark) agree on these exactly), and ORDERED: email
#: first so a phone- or IP-looking substring inside an address is consumed
#: by the email redaction, never double-counted.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+",
     "<EMAIL>"),
    ("phone", "[+][0-9]{1,3}-[0-9]{1,4}-[0-9]{3,4}-[0-9]{3,4}", "<PHONE>"),
    ("ipv4", "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"),
]


def pii_count_sql(kind: str, text_col: str = "text", *,
                  dialect: str = "spark") -> str:
    """Occurrence count of one PII class (same regex both engines)."""
    (pat,) = [p for k, p, _ in PII_PATTERNS if k == kind]
    if dialect == "spark":
        return f"size(regexp_extract_all({text_col}, '{pat}', 0))"
    if dialect == "duckdb":
        return f"len(regexp_extract_all({text_col}, '{pat}'))"
    raise ValueError(dialect)


def redact_pii_sql(text_col: str = "text", *, dialect: str = "spark") -> str:
    """Replace every PII occurrence with its class token, in PII_PATTERNS
    order (one nested global regexp_replace per class — three JVM/RE2
    regex passes per row, zero UDF, zero shuffle)."""
    g = "" if dialect == "spark" else ", 'g'"  # Spark replaces all by default
    if dialect not in ("spark", "duckdb"):
        raise ValueError(dialect)
    out = text_col
    for _, pat, token in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{token}'{g})"
    return out


def word_ngrams_expr(words_col: str, n: int) -> Column:
    """Word n-grams of an already-split array, as one JVM expression
    (positions are 1-based in both Spark ``slice`` and DuckDB
    ``list_slice`` — the oracle twin lives in the driver-queries SQL)."""
    return F.expr(
        f"transform(sequence(1, size({words_col}) - {n - 1}), "
        f"i -> array_join(slice({words_col}, i, {n}), ' '))")


def repetition_metrics(df: DataFrame, *, id_col: str = "doc_id",
                       text_col: str = "text", top_n: int = 2,
                       dup_n: int = 5) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, public):

    * ``top{top_n}gram_frac`` — occurrences of the single most frequent
      word ``top_n``-gram over all ``top_n``-gram occurrences (repetitive
      boilerplate pushes this up; Gopher drops docs > 0.20 at n=2);
    * ``dup{dup_n}gram_frac`` — fraction of ``dup_n``-gram occurrences
      whose gram occurs more than once (near-verbatim internal repetition;
      Gopher drops docs > 0.15 at n=5..10).

    Scale shape: explode n-grams → two-level aggregation.  The shuffle key
    is ``(doc, gram)`` — high cardinality, no skew — and the second agg is
    per-doc; nothing is quadratic and no row carries the whole doc.  Docs
    shorter than ``n`` words yield NULL fractions (no grams to judge).
    """
    t = f"trim({text_col})"
    words = df.select(
        F.col(id_col),
        F.expr(f"split({t}, ' ')").alias("__w"),
        F.expr(token_count_sql(text_col)).alias("n_words"),
        F.expr(f"round(CAST(length(replace({t}, ' ', '')) AS DOUBLE) "
               f"/ greatest({token_count_sql(text_col)}, 1), 6)")
        .alias("mean_word_len"),
    )

    def gram_stats(n: int, prefix: str) -> DataFrame:
        return (words.filter(F.expr(f"size(__w) >= {n}"))
                .select(id_col, F.explode(word_ngrams_expr("__w", n))
                        .alias("gram"))
                .groupBy(id_col, "gram")
                .agg(F.count(F.lit(1)).alias("c"))
                .groupBy(id_col)
                .agg(F.sum("c").alias(f"{prefix}_total"),
                     F.max("c").alias(f"{prefix}_top"),
                     F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
                     .alias(f"{prefix}_dup")))

    top = gram_stats(top_n, "tg")
    dup = gram_stats(dup_n, "dg")
    return (words.drop("__w")
            .join(top, id_col, "left")
            .join(dup, id_col, "left")
            .select(
                id_col, "n_words", "mean_word_len",
                F.round(F.col("tg_top").cast("double")
                        / F.col("tg_total"), 6)
                .alias(f"top{top_n}gram_frac"),
                F.round(F.col("dg_dup").cast("double")
                        / F.col("dg_total"), 6)
                .alias(f"dup{dup_n}gram_frac")))


def mixture_weights(df: DataFrame, *, group_col: str = "source",
                    text_col: str = "text",
                    alpha: float = 0.5) -> DataFrame:
    """Per-domain token counts and sampling weights ∝ tokens^``alpha`` —
    the temperature-reweighting shape multi-domain pretraining recipes use
    (mT5/XLM-R α-sampling: α = 1 is proportional, α → 0 flattens toward
    uniform, α = 0.5 is the common middle).  The DEFAULT α = 0.5 computes
    via IEEE ``sqrt``, which is correctly rounded in both engines, so the
    DuckDB oracle comparison stays exact; any other α goes through ``pow``,
    which may differ in the last ulp between runtimes — fine for use, just
    not held to the exact-hash oracle bar (the driver row pins α = 0.5).

    One hash aggregation over the corpus (map-side partial sums; only one
    row per domain shuffles), then a window over the handful of domain rows
    for the normalizer — the single-partition window is over |domains|
    rows, not data.

    The normalizer is made ORDER-FREE: a float ``sum(sqrt(n)) OVER ()``
    accumulates doubles in engine-internal, parallelism-dependent order on
    both Spark and DuckDB, so a last-ulp total difference could in
    principle flip a ``round(…, 6)`` boundary between runs.  (The round-3/4
    driver mismatch once attributed to this was actually an oracle typing
    artifact — DuckDB ``sum(BIGINT)`` → HUGEINT → pandas float64, fixed by
    ``CAST(… AS BIGINT)`` in the oracle SQL; the order-free normalizer is
    kept because it is strictly more robust.)  Each domain's sqrt is
    quantized to an exact
    integer (``round(sqrt(n) * 1e6)`` — correctly-rounded IEEE sqrt, no
    half-way cases since sqrt of a non-square is irrational and sqrt of a
    perfect square times 1e6 is already integral), integers are summed
    associatively, and the single final division is a one-op IEEE divide of
    two exact operands — bit-identical regardless of accumulation order.
    """
    per = (df.groupBy(group_col)
           .agg(F.sum(F.expr(token_count_sql(text_col))).alias("n_tokens"),
                F.count(F.lit(1)).alias("n_docs")))
    from pyspark.sql import Window
    n_dbl = F.col("n_tokens").cast("double")
    mass = (F.sqrt(n_dbl) if alpha == 0.5
            else F.pow(n_dbl, F.lit(float(alpha))))
    # DECIMAL(38,0), not BIGINT: at α near 1 a 10^13-token domain puts
    # mass×10⁶ past 2^53 (and several such domains past Long.MaxValue in
    # the window sum) — the bigint cast would silently clamp.  Decimal
    # sums are exact and associative at any magnitude this side of 38
    # digits, so the order-free-normalizer property holds for EVERY α,
    # and for the oracle-checked α=0.5 range the values are bit-identical
    # to the previous bigint form.
    qsqrt = F.round(mass * 1e6, 0).cast("decimal(38,0)")
    total = F.sum(qsqrt).over(Window.partitionBy())
    return per.select(
        group_col, "n_tokens", "n_docs",
        F.round(qsqrt.cast("double") / total.cast("double"), 6)
        .alias("weight"))


def sequence_pack(df: DataFrame, *, id_col: str = "doc_id",
                  group_col: str = "source", text_col: str = "text",
                  budget: int = 512, coarse_buckets: int = 4096) -> DataFrame:
    """Concat-and-chop sequence packing (the GPT/T5 pretraining shape):
    within each domain, documents in ``id_col`` order are concatenated into
    one token stream and chopped into fixed ``budget``-token sequences.
    Output per doc: its token offset in the domain stream and the first/last
    pack (sequence) index it lands in — what a packed-pretraining writer
    needs to emit examples.

    Scale shape: a naive ``Window.partitionBy(domain).orderBy(id)`` cumsum
    puts an entire domain in ONE task — a 50-billion-row serial scan when a
    20-domain corpus hits 10^12 docs.  Instead the same two-pass
    explicit-offset design as ``operators/ids.sequential_ids_scalable``:

    1. rows get a coarse order-preserving bucket (``id >> k``, k sized from
       a cheap global min/max agg so ~``coarse_buckets`` buckets exist);
    2. per-(domain, bucket) token sums — one linear hash agg, only
       #buckets × #domains tiny rows shuffle — are turned into running
       offsets by a window over those TINY rows (per domain that window
       orders #buckets rows, never data);
    3. offsets join back — NOT force-broadcast: offsets is a
       data-dependent aggregate (≤ #domains × #buckets rows, unbounded in
       the domain count — per-HOST packing of a web crawl makes it
       corpus-scale), so the strategy is left to AQE's runtime join
       selection, which broadcasts from MEASURED size when the frame is
       actually tiny (the usual mixture case) and keeps a spill-safe
       shuffle join when it is not (same hazard class as
       ``_stats.hint_if_large``'s docstring); the intra-bucket cumsum
       window runs per (domain, bucket) — parallelism = #buckets per
       domain, each task a bounded slice.

    All arithmetic is exact integer (sums of token counts), so any bucket
    granularity yields bit-identical cumsums — the DuckDB oracle states the
    same result as one plain window cumsum.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(group_col), F.col(id_col),
        F.expr(token_count_sql(text_col)).alias("n_tokens"))
    lo, hi = toks.agg(F.min(id_col), F.max(id_col)).first()
    span = max(int(hi) - int(lo) + 1, 1) if lo is not None else 1
    shift = max(span // coarse_buckets, 1)
    toks = toks.withColumn(  # integer DIV: no double rounding on huge ids
        "__b", F.expr(f"CAST(({id_col} - {int(lo or 0)}) DIV {shift} AS BIGINT)"))

    bucket_sums = (toks.groupBy(group_col, "__b")
                   .agg(F.sum("n_tokens").alias("__bsum")))
    woff = (Window.partitionBy(group_col).orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1))
    offsets = bucket_sums.select(
        group_col, "__b",
        F.coalesce(F.sum("__bsum").over(woff), F.lit(0)).alias("__off"))

    win = (Window.partitionBy(group_col, "__b").orderBy(id_col)
           .rowsBetween(Window.unboundedPreceding, -1))
    local_start = F.coalesce(F.sum("n_tokens").over(win), F.lit(0))
    tok_start = (local_start + F.col("__off")).alias("tok_start")
    packed = (toks.join(offsets, [group_col, "__b"])
              .select(group_col, id_col, "n_tokens", tok_start))
    # integer DIV (not float floor-div): exact at any stream length
    return packed.select(
        group_col, id_col, "n_tokens", "tok_start",
        F.expr(f"tok_start DIV {budget}").alias("pack_first"),
        F.expr(f"CASE WHEN n_tokens > 0 "
               f"THEN (tok_start + n_tokens - 1) DIV {budget} "
               f"ELSE tok_start DIV {budget} END").alias("pack_last"))


# ---- Spark-side conveniences (wrap the shared SQL) ----

def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    return (df
            .withColumn("n_tokens", F.expr(token_count_sql(text_col)))
            .withColumn("punct_ratio", F.expr(punct_ratio_sql(text_col)))
            .withColumn("digit_ratio", F.expr(digit_ratio_sql(text_col)))
            .withColumn("stopword_hits", F.expr(stopword_hits_sql("en", text_col)))
            .withColumn("quality_score", F.expr(quality_score_sql(text_col))))


def predict_lang(text_col: str = "text") -> Column:
    return F.expr(predict_lang_sql(text_col))


def fingerprint(text_col: str = "text") -> Column:
    return F.expr(fingerprint_sql(text_col))


# ---------------------------------------------------------------------------
# vocabulary induction + OOV coverage (tokenizer-prep for pretraining data)
# ---------------------------------------------------------------------------

def vocab_table(df: DataFrame, text_col: str = "text", *, k: int,
                min_freq: int = 1, n_salts: int = 64) -> DataFrame:
    """Top-``k`` whitespace-token vocabulary by (freq DESC, token ASC) with
    0-based contiguous ``token_id`` — the deterministic frequency-vocab a
    tokenizer-training pass materializes first.

    Scale shape: explode → (token) hash count (map-side partial agg), then
    the exact global rank rides :func:`~..operators.sample.global_topk_ranked`
    — never a single-partition ``row_number() OVER ()`` over the full
    distinct-token set (billions at corpus scale)."""
    from .sample import global_topk_ranked

    toks = (df.select(F.explode(F.expr(f"split({text_col}, ' ')"))
                      .alias("token"))
            .filter(F.col("token") != ""))
    freq = (toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
            .filter(F.col("freq") >= min_freq))
    ranked = global_topk_ranked(
        freq, "token", k=k,
        order_cols=[F.col("freq").desc(), F.col("token").asc()],
        n_salts=n_salts)
    return ranked.select("token", (F.col("__rk") - 1).cast("long")
                         .alias("token_id"), "freq")


def oov_stats(df: DataFrame, vocab: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Per-document vocabulary coverage: total tokens, OOV tokens, OOV
    ratio (round 6).  The vocab side is ≤ k rows by construction —
    broadcast, so the exploded corpus never shuffles for the join; the
    only shuffle is the per-doc count rollup.  Docs with zero tokens carry
    no rows out of the explode and are absent (deterministic)."""
    toks = (df.select(id_col, F.explode(F.expr(f"split({text_col}, ' ')"))
                      .alias("token"))
            .filter(F.col("token") != ""))
    joined = toks.join(F.broadcast(vocab.select("token", "token_id")),
                       "token", "left")
    return (joined.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.count_if(F.col("token_id").isNull()).alias("n_oov"))
            .select(id_col, "n_tokens", "n_oov",
                    F.round(F.col("n_oov") / F.col("n_tokens"), 6)
                    .alias("oov_ratio")))


#: Gopher char-fraction n values (Rae et al. 2021 Table A1): the paper
#: gates on the TOP n-gram's character fraction at n = 2, 3, 4 (ceilings
#: 0.20/0.18/0.16) and on the duplicated-n-gram character fraction at
#: n = 5..10 (ceilings 0.15 down to 0.10)
GOPHER_TOP_NS = (2, 3, 4)
GOPHER_DUP_NS = (5, 6, 7, 8, 9, 10)


def _char_frac_kernel(id_col: str, text_col: str,
                      top_ns: tuple, dup_ns: tuple):
    """``mapInPandas`` kernel factory for :func:`gopher_char_fracs`.

    Emits exact INTEGER numerators only — the final ``round(num / total,
    6)`` happens in SQL expressions on BOTH engines so float-rounding
    parity is the engines' shared ``round``, never Python's banker's
    rounding (the micro-nat discipline applied to per-doc fractions).

    Word split mirrors the oracle exactly: ``strip(' ')`` then
    ``split(' ')`` — the Python twins of DuckDB ``trim``/``string_split``
    (both keep empty tokens on repeated separators; ``''`` yields one
    zero-length word).  Top-gram tie-break is (max count, then
    lexicographically smallest gram): word-tuple order equals
    space-joined-string order because words contain no spaces and ``' '``
    sorts below every printable non-space byte, so the Python tuple min
    and the oracle's ``ORDER BY c DESC, g ASC`` pick the same gram.
    """
    from collections import Counter

    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            n_rows = len(pdf)
            total = [0] * n_rows
            top_num = {n: [None] * n_rows for n in top_ns}
            dup_cov = {n: [0] * n_rows for n in dup_ns}
            for r, text in enumerate(pdf[text_col].to_numpy()):
                ws = ("" if text is None else str(text)).strip(" ").split(" ")
                wlens = [len(w) for w in ws]
                length = len(ws)
                total[r] = sum(wlens)
                for n in top_ns:
                    if length < n:
                        continue
                    cnt = Counter(tuple(ws[i:i + n])
                                  for i in range(length - n + 1))
                    top_c = max(cnt.values())
                    gram = min(g for g, c in cnt.items() if c == top_c)
                    top_num[n][r] = top_c * sum(len(w) for w in gram)
                for n in dup_ns:
                    if length < n:
                        continue
                    cnt = Counter(tuple(ws[i:i + n])
                                  for i in range(length - n + 1))
                    covered = 0
                    cur_s = cur_e = -1  # on-the-fly interval union
                    for i in range(length - n + 1):
                        if cnt[tuple(ws[i:i + n])] <= 1:
                            continue
                        if cur_e < 0 or i > cur_e:  # disjoint from current
                            if cur_e >= 0:
                                covered += sum(wlens[cur_s:cur_e + 1])
                            cur_s = i
                        cur_e = i + n - 1  # starts ascend, so e ascends
                    if cur_e >= 0:
                        covered += sum(wlens[cur_s:cur_e + 1])
                    dup_cov[n][r] = covered
            out = {id_col: ids, "cf_total": total}
            for n in top_ns:
                out[f"top{n}_num"] = pd.array(top_num[n], dtype="Int64")
            for n in dup_ns:
                out[f"dup{n}_cov"] = dup_cov[n]
            yield pd.DataFrame(out)

    return kernel


def gopher_char_fracs(df: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text",
                      top_ns: tuple = GOPHER_TOP_NS,
                      dup_ns: tuple = GOPHER_DUP_NS) -> DataFrame:
    """The FULL Gopher repetition table (Rae et al. 2021 Table A1) as
    per-document character fractions:

    * ``top{n}gram_char_frac`` (n ∈ ``top_ns``) — characters claimed by
      every occurrence of the single most frequent word n-gram over the
      doc's non-space characters (count × gram-non-space-chars / total —
      the published formulation; NULL when the doc has fewer than n
      words or no characters);
    * ``dup{n}gram_char_frac`` (n ∈ ``dup_ns``) — fraction of non-space
      characters lying inside ANY occurrence of a within-doc duplicated
      n-gram, overlap-correct: duplicated-gram start positions mark
      ``[i, i+n-1]`` word intervals whose UNION is counted once (the
      ``substr_dedup`` interval-union semantic applied per doc), so
      overlapping repeats never double-count (0.0 when nothing repeats
      or the doc is shorter than n; NULL only for zero-char docs).

    Scale shape — the load-bearing fact: every metric is WITHIN-document,
    and a document is one row, so the whole table computes in ONE
    zero-shuffle ``mapInPandas`` pass over the scan (contrast
    :func:`repetition_metrics`, whose corpus-levelled explode→agg shape
    pays (doc, gram) shuffles for the same per-doc answers — kept because
    its pure-SQL form is the cross-checkable twin).  The kernel emits
    exact integer numerators; fractions are ``round(num / nullif(total,
    0), 6)`` SQL projections so both engines share one rounding rule.
    No reference-repo counterpart (Polars/GeoPandas ETL) — LLM-pipeline
    scope per the driver's training-data mandate.
    """
    schema = [f"{id_col} long", "cf_total long"]
    schema += [f"top{n}_num long" for n in top_ns]
    schema += [f"dup{n}_cov long" for n in dup_ns]
    raw = (df.select(id_col, text_col)
           .mapInPandas(_char_frac_kernel(id_col, text_col, top_ns, dup_ns),
                        schema=", ".join(schema)))
    cols = [F.col(id_col)]
    denom = F.expr("nullif(cf_total, 0)").cast("double")
    for n in top_ns:
        cols.append(F.round(F.col(f"top{n}_num").cast("double") / denom, 6)
                    .alias(f"top{n}gram_char_frac"))
    for n in dup_ns:
        cols.append(F.round(F.col(f"dup{n}_cov").cast("double") / denom, 6)
                    .alias(f"dup{n}gram_char_frac"))
    return raw.select(*cols)


def char_frac_oracle_cte(top_ns: tuple = GOPHER_TOP_NS,
                         dup_ns: tuple = GOPHER_DUP_NS) -> str:
    """DuckDB CTE body restating :func:`gopher_char_fracs` (expects the
    shared ``w`` CTE: ``doc_id, ws, t`` from the repetition oracle).
    Exposes ``cfr`` with one row per doc and the same frac columns.

    The dup branch spells the interval union as the sliding window it is:
    position p is covered iff a duplicated gram STARTS in
    ``[p-n+1, p]`` — ``max(mk) OVER (... ROWS n-1 PRECEDING)`` — which is
    exactly the union of ``[i, i+n-1]`` intervals the kernel merges.
    """
    parts = ["cfb AS (SELECT doc_id, CAST(length(replace(t, ' ', '')) "
             "AS BIGINT) AS cf_total FROM w)"]
    joins, sels = [], []
    for n in top_ns:
        parts.append(f"""
tpa{n} AS (
  SELECT doc_id, CAST(c * length(replace(g, ' ', '')) AS BIGINT) AS num
  FROM (SELECT doc_id, g, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, g ASC) AS rn
        FROM (SELECT doc_id, g, count(*) AS c FROM (
                SELECT doc_id,
                       array_to_string(list_slice(ws, i, i + {n - 1}), ' ')
                         AS g
                FROM w, unnest(generate_series(1, len(ws) - {n - 1}))
                     AS tg{n}(i)
                WHERE len(ws) >= {n})
              GROUP BY 1, 2))
  WHERE rn = 1)""")
        joins.append(f"LEFT JOIN tpa{n} USING (doc_id)")
        sels.append(f"round(CAST(tpa{n}.num AS DOUBLE)"
                    f" / nullif(cf_total, 0), 6) AS top{n}gram_char_frac")
    for n in dup_ns:
        parts.append(f"""
dpa{n} AS (
  SELECT doc_id, CAST(coalesce(sum(wlen * cov), 0) AS BIGINT) AS cov_chars
  FROM (SELECT doc_id, wlen,
               max(mk) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN {n - 1} PRECEDING
                             AND CURRENT ROW) AS cov
        FROM (SELECT doc_id, pos, wlen,
                     CASE WHEN g IS NOT NULL
                           AND count(*) OVER (PARTITION BY doc_id, g) > 1
                          THEN 1 ELSE 0 END AS mk
              FROM (SELECT doc_id, i AS pos, length(ws[i]) AS wlen,
                           CASE WHEN i <= len(ws) - {n - 1}
                                THEN array_to_string(
                                       list_slice(ws, i, i + {n - 1}), ' ')
                           END AS g
                    FROM w, unnest(generate_series(1, len(ws)))
                         AS de{n}(i))))
  GROUP BY 1)""")
        joins.append(f"LEFT JOIN dpa{n} USING (doc_id)")
        sels.append(f"round(CAST(coalesce(dpa{n}.cov_chars, 0) AS DOUBLE)"
                    f" / nullif(cf_total, 0), 6) AS dup{n}gram_char_frac")
    return (",".join(parts) + ",\ncfr AS (\n  SELECT cfb.doc_id, "
            + ",\n         ".join(sels) + "\n  FROM cfb "
            + " ".join(joins) + ")")


def exact_percentiles(df: DataFrame, value_sql: str, *, ps_bp: tuple,
                      group_col: str) -> DataFrame:
    """EXACT distributed order statistics (SQL ``PERCENTILE_DISC``
    semantics: the smallest value whose cumulative count reaches rank
    ``ceil(p·n)``), per group AND globally, from ONE aggregation.

    Why not ``approx_percentile``: Spark's t-digest is partitioning-
    dependent (not reproducible run-to-run on a cluster) and carries no
    error contract an audit can cite.  For profiling values with BOUNDED
    distinct cardinality — lengths, token counts, quantized scores — the
    exact answer costs one map-side-combined count per distinct value:
    the shuffle and every window partition hold |distinct v| rows, never
    corpus rows.  (For continuous doubles, pre-quantize; the operator is
    deliberately not offered for unbounded domains.)

    Shape: ``ROLLUP (v, grp)`` computes the per-(grp, v) counts AND the
    global per-v marginal in the same shuffle (``grouping_id`` separates
    the levels; the global level reports as group ``'__all__'``); a
    cumulative-sum window over each bounded value frame then locates
    every requested rank.  Percentiles are requested in BASIS POINTS
    (``ps_bp``) and the target rank is ``greatest((bp·n + 9999) div
    10000, 1)`` — pure int64 arithmetic, so the pick is bit-identical on
    any engine (a float ``ceil(p·n)`` flips ranks when p·n rounds up
    across an integer; DuckDB's native ``percentile_disc`` agrees and is
    cross-checked in tests, but the committed oracle restates the
    integer form).

    Output: ``(grp, bp, value, n_rows)`` — one row per (group ∪
    '__all__') × requested percentile.

    Declared limit (r6 ADVICE, shared by the committed oracle CTE so the
    two engines AGREE even when it fires): a genuine group literally
    named ``'__all__'`` merges with the global marginal.  Fixing it
    means carrying ``grouping_id`` through the window key in BOTH the
    engine and the frozen oracle SQL — deferred to a build round; don't
    feed groups named ``'__all__'``.
    """
    base = (df.select(F.col(group_col).alias("grp"),
                      F.expr(value_sql).cast("long").alias("v"))
            .filter(F.col("v").isNotNull()))
    counts = (base.rollup("v", "grp")
              .agg(F.count(F.lit(1)).alias("cnt"),
                   F.grouping_id().alias("gid"))
              .filter(F.col("gid") < 2)  # (v, grp) and (v) levels only
              .select(F.when(F.col("gid") == 1, F.lit("__all__"))
                      .otherwise(F.col("grp")).alias("grp"), "v", "cnt"))
    w_cum = (Window.partitionBy("grp").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_tot = Window.partitionBy("grp")
    c = (counts.withColumn("cum", F.sum("cnt").over(w_cum))
         .withColumn("n_rows", F.sum("cnt").over(w_tot)))
    e = c.select("*", F.explode(F.array(
        *[F.lit(int(bp)).cast("long") for bp in ps_bp])).alias("bp"))
    target = F.greatest(
        F.expr("(bp * n_rows + 9999) div 10000"), F.lit(1).cast("long"))
    picked = e.filter((F.col("cum") - F.col("cnt") < target)
                      & (target <= F.col("cum")))
    return picked.select("grp", "bp", F.col("v").alias("value"), "n_rows")


def percentiles_oracle_cte(source_sql: str, value_sql: str, *,
                           ps_bp: tuple, group_sql: str,
                           cte_name: str = "pctl") -> str:
    """DuckDB restatement of :func:`exact_percentiles` (same integer
    ceil-rank arithmetic; the two grouping levels spelled as a UNION —
    semantically the ROLLUP).  Exposes
    ``{cte_name}(grp, bp, value, n_rows)``."""
    bp_list = ", ".join(str(int(bp)) for bp in ps_bp)
    return f"""
{cte_name}_c AS (
  SELECT grp, v, count(*) AS cnt FROM (
    SELECT {group_sql} AS grp, CAST({value_sql} AS BIGINT) AS v
    FROM {source_sql}) WHERE v IS NOT NULL GROUP BY 1, 2),
{cte_name}_r AS (
  SELECT grp, v, cnt FROM {cte_name}_c
  UNION ALL
  SELECT '__all__', v, sum(cnt) FROM {cte_name}_c GROUP BY 2),
{cte_name}_w AS (
  SELECT grp, v, cnt,
         CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(sum(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n_rows
  FROM {cte_name}_r),
{cte_name} AS (
  SELECT grp, bp, v AS value, n_rows
  FROM {cte_name}_w, unnest([{bp_list}]) AS pb(bp)
  WHERE cum - cnt < greatest((bp * n_rows + 9999) // 10000, 1)
    AND greatest((bp * n_rows + 9999) // 10000, 1) <= cum)"""


def normalize_text_sql(text_col: str, *, dialect: str = "spark") -> str:
    """C4-style text normalization as shared-dialect SQL text (zero UDF,
    a scan-stage projection): (1) strip non-whitespace control characters
    (C0 minus tab/LF/CR, plus DEL), (2) collapse every whitespace run
    (space/tab/LF/CR) to one space, (3) trim.  Control-strip runs FIRST
    so a control character BETWEEN spaces cannot leave a double space
    behind.

    Character classes are built with ``chr()`` concat (constant-folded on
    both engines) — the module's no-backslash portability rule makes
    ``[\\x00-\\x1F]``-style escapes unusable, and java.util.regex (Spark)
    and RE2 (DuckDB) both accept raw control bytes in classes.  The
    dialect split is only DuckDB's ``'g'`` flag (its ``regexp_replace``
    is first-match by default; Spark's is global).

    NUL exclusion (r6 ADVICE): the stripped class deliberately starts at
    ``chr(1)`` — ``chr(0)`` cannot ride a SQL string literal consistently
    across the two engines (DuckDB truncates at the embedded NUL), so a
    NUL-bearing document keeps its NUL on BOTH engines identically; the
    round-trip invariants hold because neither engine strips it."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(dialect)
    g = "" if dialect == "spark" else ", 'g'"
    ctl = ("concat('[', chr(1), '-', chr(8), chr(11), chr(12), "
           "chr(14), '-', chr(31), chr(127), ']')")
    ws = "concat('[ ', chr(9), chr(10), chr(13), ']+')"
    out = f"regexp_replace({text_col}, {ctl}, ''{g})"
    out = f"regexp_replace({out}, {ws}, ' '{g})"
    return f"trim({out})"


def chunk_text(df: DataFrame, *, id_col: str = "doc_id",
               text_col: str = "text", chunk_tokens: int,
               overlap_tokens: int = 0) -> DataFrame:
    """Fixed-size token chunking with overlap — retrieval-index prep (the
    RAG sibling of :func:`sequence_pack`'s training prep): every doc
    explodes into ``chunk_tokens``-token windows starting every
    ``chunk_tokens - overlap_tokens`` tokens (tail chunks run shorter;
    a doc shorter than one chunk yields exactly one chunk).

    Zero UDF and zero join: one ``transform(sequence(...))`` builds the
    chunk structs inside the row, one ``posexplode`` emits them — the
    fan-out is the output itself (≤ ``1/(1-overlap_ratio)`` × corpus
    tokens), and nothing shuffles at all: chunking is a scan-stage
    projection feeding whatever indexer (BM25 postings, embedding, ANN)
    consumes it.

    A start whose PREVIOUS chunk already reached the document's end is
    dropped (``s = 1 OR s ≤ len - chunk + step``) — without it, a doc of
    e.g. 28 tokens under 32/8 chunking would emit a second chunk fully
    contained in the first (redundant index entries); with it, coverage
    is complete, no chunk is a subset of its predecessor, and only the
    final chunk may overlap by more than ``overlap_tokens``.  Because
    the filter only ever drops the tail start, surviving starts stay
    ``1 + k·step`` for consecutive k — the ordinal is still derivable as
    ``(s-1) div step`` (the oracle's form).

    Output: ``(id, chunk_id, start_tok, n_chunk_tokens, chunk_hash)`` —
    0-based chunk ordinal and token offset; the md5 of the chunk string
    stands in for the chunk text so the frame stays narrow (the consumer
    re-slices or joins the hash; the driver oracle hash-checks it).

    Declared limit (r6 ADVICE, shared by the committed oracle so both
    engines agree): an empty/whitespace-only doc yields ONE chunk of the
    single empty token ``split`` produces (``n_chunk_tokens=1``,
    ``chunk_hash=md5('')``) — deliberately NOT token_count_sql's 0-token
    convention; harmonizing means changing the frozen oracle text, so it
    is documented here and deferred to a build round.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap must be smaller than the chunk")
    step = chunk_tokens - overlap_tokens
    ws = f"split(trim({text_col}), ' ')"
    starts = (f"filter(sequence(1, greatest(size({ws}), 1), {step}), "
              f"s -> s = 1 OR s <= size({ws}) - {chunk_tokens - step})")
    chunks = (f"transform({starts}, "
              f"s -> struct(s - 1 AS start_tok, "
              f"size(slice({ws}, s, {chunk_tokens})) AS n_chunk_tokens, "
              f"md5(array_join(slice({ws}, s, {chunk_tokens}), ' ')) "
              f"AS chunk_hash))")
    return (df.select(F.col(id_col),
                      F.posexplode(F.expr(chunks)).alias("chunk_id", "c"))
            .select(id_col, F.col("chunk_id").cast("long"),
                    F.col("c.start_tok").cast("long").alias("start_tok"),
                    F.col("c.n_chunk_tokens").cast("long")
                    .alias("n_chunk_tokens"),
                    F.col("c.chunk_hash").alias("chunk_hash")))


def mixture_materialize(df: DataFrame, *, group_col: str = "source",
                        text_col: str = "text", id_col: str = "doc_id",
                        alpha: float = 0.5) -> DataFrame:
    """MATERIALIZE the α-temperature mixture :func:`mixture_weights`
    computes: per-domain deterministic document sampling rates scaled so
    the most-upweighted domain keeps everything (one full epoch of it),
    plus the EXACT count of documents the rate keeps.

    Rate: ``r_i = least(1, (mass_i / n_i) · min_j(n_j / mass_j))`` with
    ``mass = round(n^α · 1e6)`` (the same quantized order-free mass as
    the weights; α = 0.5 stays exact-oracle-grade via IEEE sqrt).  The
    keep decision is the stratified-hash-sample discipline: doc kept iff
    its 60-bit md5(id) < ``floor(r_i · 2^60)`` — audit-stable across
    runs and cluster sizes, and the SAME documents are kept on any
    engine, so ``n_kept`` is hash-checkable, not just approximately
    right.

    Scale shape: two corpus passes by nature (the rate depends on global
    per-domain aggregates; pass 1 is the |domains|-row aggregate, pass 2
    compares each doc's hash against its domain's broadcast threshold
    and folds straight into the per-domain ``n_kept`` count — map-side
    combined, nothing wider than the corpus row ever shuffles).  The
    |domains|-row windows are the documented bounded single-partition
    class.

    Declared limit (r6 ADVICE, shared by the committed oracle so both
    engines agree): a domain whose every text is empty has
    ``n_tokens=0``, the 0/0 rate is NULL and the domain reports
    ``rate=NULL, n_kept=0`` instead of raising — an explicit pre-filter
    would change the frozen oracle's rows; documented and deferred."""
    per = (df.groupBy(group_col)
           .agg(F.sum(F.expr(token_count_sql(text_col))).alias("n_tokens"),
                F.count(F.lit(1)).alias("n_docs")))
    n_dbl = F.col("n_tokens").cast("double")
    mass = (F.sqrt(n_dbl) if alpha == 0.5
            else F.pow(n_dbl, F.lit(float(alpha))))
    m_dbl = F.round(mass * 1e6, 0)
    c = F.min(n_dbl / m_dbl).over(Window.partitionBy())
    rate = F.least(F.lit(1.0), (m_dbl / n_dbl) * c)
    w = per.select(group_col, "n_tokens", "n_docs", rate.alias("__rate"),
                   F.floor(rate * F.lit(float(1 << 60))).cast("long")
                   .alias("__thresh"))
    h = (f"cast(conv(substring(md5(CAST({id_col} AS STRING)), 1, 15), "
         f"16, 10) as bigint)")
    joined = (df.select(group_col, F.expr(h).alias("__h"))
              .join(F.broadcast(w), group_col))
    return (joined.groupBy(group_col)
            .agg(F.first("n_tokens").alias("n_tokens"),
                 F.first("n_docs").alias("n_docs"),
                 F.round(F.first("__rate"), 6).alias("rate"),
                 F.count_if(F.col("__h") < F.col("__thresh"))
                 .cast("long").alias("n_kept")))
