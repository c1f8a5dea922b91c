"""Deduplication operators — reference semantics + web-scale document dedup.

Reference semantics:
* coordinate dedup, keep max population / tie min geoname_id
  (enhance_data.py:273-290) — the reference does groupBy + self-join; here a
  single ``row_number`` window (one shuffle instead of two, SURVEY.md J2);
* priority pick: sort by priority then first per key (alternate_names.py:79-85);
* order-stable ``dropDuplicates`` (base.py:288, W3).

Web-scale additions (training-data pipeline, driver mandate): exact dedup by
content hash, MinHash-LSH near-dup candidate pairs, SimHash.  Most use
built-in JVM functions (md5/xxhash64, higher-order array ops); the MinHash
signature itself is an Arrow-batched pandas UDF (:func:`minhash_bands_udf`)
because a SQL ``aggregate`` higher-order fold is CodegenFallback.  Its
DuckDB text (:func:`minhash_md5s_sql` + :func:`minhash_bands_sql`) is what
the oracles and the kernel-parity tests run.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def keep_best_per_key(df: DataFrame, keys: list[str],
                      order_by: list[Column]) -> DataFrame:
    """One row per key, chosen by explicit ordering (deterministic)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def coordinate_dedup(df: DataFrame, *, lat: str = "latitude",
                     lon: str = "longitude", population: str = "population",
                     id_col: str = "geoname_id") -> DataFrame:
    """Reference rule: per (lat, lon) keep max population, tie → min id."""
    return keep_best_per_key(df, [lat, lon],
                             [F.col(population).desc(), F.col(id_col).asc()])


def exact_dedup(df: DataFrame, content_col: str, *, id_col: str) -> DataFrame:
    """Exact duplicate groups by md5(content): representative = min id.

    Output: one row per distinct content with ``dup_count``.  Hash-groupBy
    with map-side partial aggregation; the content column itself never
    shuffles (only its 128-bit hash + min id + count).
    """
    return (df.select(F.md5(F.col(content_col)).alias("content_hash"),
                      F.col(id_col))
            .groupBy("content_hash")
            .agg(F.min(id_col).alias("rep_id"),
                 F.count(F.lit(1)).alias("dup_count")))


ROWS_PER_BAND = 2


def minhash_md5s_sql(text_col: str) -> str:
    """DuckDB text: the md5 hex of every 2nd 5-char shingle of ``text_col``
    (1-based char positions), as a list — the shingles the kernels hash at
    their default ``shingle=5, stride=2``.  Sampling every 2nd position
    loses little at 5-char shingles."""
    return (f"list_transform(generate_series(1, greatest(length({text_col}) "
            f"- 4, 1), 2), i -> md5(substring({text_col}, i, 5)))")


def minhash_bands_sql(hashed: str) -> str:
    """DuckDB text: ``(doc_id, band_idx, sig)`` rows, 4 bands, from
    relation ``hashed``, whose ``mh`` is :func:`minhash_md5s_sql`.

    Classic banding needs ``4 × ROWS_PER_BAND`` independent hash
    functions.  A 128-bit md5 digest already carries 8 independent 16-bit
    values, so each sampled shingle is hashed ONCE and row ``k`` is the
    minimum over shingles of hex slice ``[4k, 4k+4)``; band ``b`` is the
    concat of its ``ROWS_PER_BAND`` rows (more rows per band ⇒
    exponentially fewer false-positive candidate pairs).
    :func:`minhash_bands_udf` computes the same values.
    """
    def sig(b: int) -> str:
        return "concat(" + ", ".join(
            f"list_min(list_transform(mh, h -> "
            f"substring(h, {1 + 4 * (b * ROWS_PER_BAND + r)}, 4)))"
            for r in range(ROWS_PER_BAND)) + ")"
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, {sig(b)} AS sig FROM {hashed}"
        for b in range(4))


def _shingle_digests(texts, *, shingle: int, stride: int, n_rows: int):
    """One md5 per DISTINCT shingle of the batch: ``(per_doc, hexes,
    digests)`` — each doc's shingle ids (None for null text), the
    concatenated md5 hex of the distinct shingles, and its first ``n_rows``
    4-hex-char slices per shingle as a big-endian-uint32 view (numeric order
    on ``>u4`` == byte-lexicographic == DuckDB's string ``list_min`` on
    hex)."""
    import hashlib

    memo: dict[str, int] = {}
    per_doc: list[np.ndarray | None] = []
    for t in texts:
        if t is None:
            per_doc.append(None)
            continue
        # SQL: generate_series(1, greatest(length-shingle+1, 1), stride),
        # substring(text, i, shingle) — 1-based, char (not byte) slices
        last = max(len(t) - (shingle - 1), 1)
        ids = []
        for i in range(0, last, stride):
            s = t[i:i + shingle]
            j = memo.get(s)
            if j is None:
                j = len(memo)
                memo[s] = j
            ids.append(j)
        per_doc.append(np.asarray(ids, dtype=np.int64))
    hexes = "".join(hashlib.md5(s.encode("utf-8")).hexdigest() for s in memo)
    digests = (np.frombuffer(hexes.encode("ascii"), dtype=">u4")
               .reshape(len(memo), 8)[:, :n_rows]
               if memo else np.empty((0, 8), dtype=">u4"))
    return per_doc, hexes, digests


def minhash_bands_udf(*, n_bands: int = 4, shingle: int = 5,
                      stride: int = 2):
    """Arrow-batched pandas UDF: text → array of band signatures, equal to
    DuckDB's :func:`minhash_bands_sql` rows (pinned per band value by
    tests/test_operators_unit.py).

    Scale rationale (same class as similarity.lsh_signature_udf): a SQL
    ``aggregate``/``transform`` higher-order pass is CodegenFallback — the
    whole join stage around it drops to interpreted, boxed evaluation, and
    the signature work re-runs per self-join side (measured ~5.5 s of the
    7 s doc_minhash_pairs at sf0.1; a materialized-signature join is
    0.35 s).  This kernel hashes each *distinct* shingle in the Arrow batch
    once (near-dup corpora repeat most shingles), then takes the per-slice
    minima as one numpy reduction over the ``>u4`` slice view.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n_rows = n_bands * ROWS_PER_BAND
    assert n_rows * 4 <= 32

    def bands(texts: pd.Series) -> pd.Series:
        per_doc, _, digests = _shingle_digests(
            texts, shingle=shingle, stride=stride, n_rows=n_rows)
        out = []
        for ids in per_doc:
            if ids is None:
                out.append(None)
                continue
            # ufuncs return native-endian output — force back to big-endian
            # so tobytes() re-emits the original ASCII hex byte order
            m = digests[ids].min(axis=0).astype(">u4")
            out.append([m[2 * b:2 * b + 2].tobytes().decode("ascii")
                        for b in range(n_bands)])
        return pd.Series(out)

    bands.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(bands, "array<string>")


def _bands_frame(df: DataFrame, *, id_col: str, text_col: str,
                 n_bands: int, shingle: int,
                 repartition: bool = True) -> DataFrame:
    """(id, band_idx, sig) rows via the Arrow signature kernel.

    ``posexplode_outer`` on purpose: plain explode makes Catalyst infer a
    ``size(arr) > 0`` pre-Generate filter that re-evaluates the Python UDF
    a second time per row (two ArrowEvalPython nodes — measured); the outer
    variant needs no such filter, and the null rows it emits for null text
    are dropped by the join-side ``sig IS NOT NULL``.  The trailing
    key-repartition parallelizes the downstream self-join across shuffle
    partitions (the scan of a small file is 1 partition → a broadcast
    self-join otherwise runs in ONE task) and gives the two identical join
    sides one reusable exchange.
    """
    out = (df.select(
                F.col(id_col),
                minhash_bands_udf(n_bands=n_bands, shingle=shingle)(
                    F.col(text_col)).alias("__bands"))
           .select(id_col, F.posexplode_outer("__bands")
                   .alias("band_idx", "sig"))
           .filter(F.col("sig").isNotNull()))
    return out.repartition("band_idx", "sig") if repartition else out


def minhash_candidate_pairs(df: DataFrame, *, id_col: str, text_col: str,
                            n_bands: int = 4, shingle: int = 5,
                            max_bucket_size: int | None = None) -> DataFrame:
    """LSH candidate near-dup pairs: docs sharing any band signature.

    Explode to (band_idx, sig) → self-join per bucket → distinct (a, b) with
    a < b.  The shuffle key is the band hash — uniformly distributed across
    *distinct* contents, so no key skew; bucket sizes bound the join fan-out.

    **Scale guard** (VERDICT.md round-1 item 7): a corpus heavy in *exact*
    duplicates puts every copy in the same bucket of every band — one
    m-member bucket emits O(m²) pairs.  Two mitigations, composable:

    * run :func:`exact_dedup` first and feed only representatives (exact-dup
      membership is recoverable from the hash groups, so no information is
      lost — the recommended 100-TB shape);
    * ``max_bucket_size=N`` keeps only the N smallest ids per (band, sig)
      bucket (deterministic windowed cap) — recall degrades gracefully on
      pathological buckets instead of the job degenerating to quadratic.
      Default ``None`` preserves the exact candidate-pair semantics the
      DuckDB oracle checks.

    The band frame is not cached, although the self-join's two subtrees
    (two ArrowEvalPython nodes over two scans — `hint_if_large` on one side
    defeats ReusedExchange) each run the kernel: unlike
    :func:`ngram_jaccard_pairs` (where caching the pre-explode array frame
    measured 9.5 s → 6.5 s), caching the post-explode, post-repartition
    band rows measured r6 interleaved A/B at 1.1-1.4 s → 2.7-4.3 s — the
    InMemoryTableScan costs the join more than the second ~0.3 s kernel
    pass saves.
    """
    bands = _bands_frame(df, id_col=id_col, text_col=text_col,
                         n_bands=n_bands, shingle=shingle)
    if max_bucket_size is not None:
        w = Window.partitionBy("band_idx", "sig").orderBy(F.col(id_col).asc())
        bands = (bands.withColumn("__rn", F.row_number().over(w))
                 .filter(F.col("__rn") <= max_bucket_size).drop("__rn"))
    return _pairs_from_bands(bands, id_col=id_col, source=df)


def _pairs_from_bands(bands: DataFrame, *, id_col: str,
                      source: DataFrame) -> DataFrame:
    """(id, band_idx, sig) rows → distinct candidate (id_a, id_b), a < b.

    The build side is corpus-sized but sits BEHIND an ArrowEvalPython
    node, so Catalyst's size estimate is the (pre-fan-out) scan estimate
    of ``source`` — at 400 k docs that guessed the 1.6 M-row frame under
    the auto-broadcast threshold and planned a BROADCAST self-join, whose
    single-threaded hashed-relation build serialized the whole stage
    (``BENCH/BENCH_r5_scaling_dedup.json``; at real scale it is a driver
    OOM).  :func:`_stats.hint_if_large` corrects the estimate with the
    band fan-out and forces the spill-safe sort-merge join the uniform
    (band, sig) key wants — while a genuinely small corpus keeps the
    fast broadcast path.
    """
    from ._stats import hint_if_large

    left = bands.alias("l")
    right = hint_if_large(bands, source, fanout=2.0).alias("r")
    return (left.join(right, ["band_idx", "sig"])
            .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"))
            .distinct())


def hashed_shingle_set_expr(text_col: str) -> str:
    """DuckDB text: the distinct set of every 2nd 5-char shingle of
    ``text_col`` as 60-bit md5-prefix BIGINTs (the shingles of
    :func:`minhash_md5s_sql`).

    Set ops over *string* arrays box every element (UTF8String hash +
    equality per probe) — measured ~124 µs per candidate pair at 150
    shingles, and 32-way-parallel evaluation GC-thrashed.  Over BIGINT the
    intersect/union hit the primitive specialization.  A 60-bit collision
    — P ≈ 10⁻¹³ per doc pair — merges the same two shingles here and in
    :func:`minhash_shingles_udf`'s ``hs``, so parity still holds exactly;
    the Jaccard value differs from the true string-set value only in that
    event.
    """
    elem = (f"('0x' || substring(md5(substring({text_col}, i, 5)), 1, 15))"
            f"::BIGINT")
    return (f"list_distinct(list_transform(generate_series(1, "
            f"greatest(length({text_col}) - 4, 1), 2), i -> {elem}))")


def minhash_shingles_udf(*, n_bands: int = 4, shingle: int = 5,
                         stride: int = 2):
    """Fused Arrow kernel: text → ``struct(bands array<string>,
    hs array<long>)`` — MinHash band signatures AND the distinct 60-bit
    md5-prefix shingle-hash set in ONE md5 pass over the batch's distinct
    shingles.

    The two quantities the two-stage near-dup pipeline needs (band sigs for
    LSH candidates, hash sets for exact Jaccard) both derive from the md5
    of the SAME shingles; computing them in separate kernels md5s the
    corpus twice.  ``bands`` is bit-identical to :func:`minhash_bands_udf`
    (same big-endian-uint32 slice minima); ``hs`` is value-identical to
    :func:`hashed_shingle_set_expr` — distinct by hash VALUE (the SQL twin
    applies ``list_distinct`` AFTER hashing, so a within-doc 60-bit
    collision, P ≈ 10⁻¹³ per shingle pair, folds to one element on both
    sides).  Parity with both is locked by ``tests/test_operators_unit.py``.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n_rows = n_bands * ROWS_PER_BAND
    assert n_rows * 4 <= 32

    def fused(texts: pd.Series) -> pd.DataFrame:
        per_doc, hexes, digests = _shingle_digests(
            texts, shingle=shingle, stride=stride, n_rows=n_rows)
        h60 = np.array([int(hexes[j:j + 15], 16)
                        for j in range(0, len(hexes), 32)], dtype=np.int64)
        bcol: list[list[str] | None] = []
        hcol: list[list[int] | None] = []
        for ids in per_doc:
            if ids is None:
                bcol.append(None)
                hcol.append(None)
                continue
            m = digests[ids].min(axis=0).astype(">u4")
            bcol.append([m[2 * b:2 * b + 2].tobytes().decode("ascii")
                         for b in range(n_bands)])
            hcol.append(np.unique(h60[ids]).tolist())
        return pd.DataFrame({"bands": bcol, "hs": hcol})

    fused.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return pandas_udf(fused, "struct<bands: array<string>, hs: array<long>>")


def ngram_jaccard_pairs(df: DataFrame, *, id_col: str, text_col: str,
                        threshold: float, n_bands: int = 4,
                        shingle: int = 5) -> DataFrame:
    """Exact n-gram Jaccard similarity over LSH candidate pairs.

    Two-stage near-dup pipeline: MinHash banding proposes candidates (cheap,
    bucketed — never all-pairs), then the exact shingle-set Jaccard scores
    each candidate; ``threshold`` (> 0) keeps pairs at/above it.  A kept
    pair therefore shares at least one shingle, which is what lets the join
    path read |B| off its matched rows.  A zero threshold is refused: an
    LSH collision sharing no shingle would be kept by the kernel path and
    dropped by the join path.

    Scoring shape — NO per-pair array payload.  Designs measured at sf0.1
    (485 k candidate pairs × ~150-hash sets, 32 cores):

    * ``array_intersect``/``array_union`` per pair: 10-30 s — the set
      expressions evaluate interpreted with per-element boxing, GC-bound;
    * pandas-UDF set ops per pair: 10-23 s — the numpy intersect itself is
      0.6 s, but serializing two ~150-element arrays per pair into Arrow
      (~1.2 GB) dominates;
    * this one, ~6-8 s (the 59 M-row fan-out at this box's ~1 M
      rows/s/core): ONE fused Arrow kernel (:func:`minhash_shingles_udf`)
      emits band sigs + hash sets per doc, the bands branch self-joins into
      candidate pairs, the hash branch explodes to narrow (doc, n, hash)
      rows; pairs join A-side rows (carrying |A|), left-join the B side on
      (doc, hash) (carrying |B|), and ONE aggregate yields |A∩B| = count of
      B-matches, |A| = first, |B| = max — no separate sizes pass or
      join-back.  Everything after the kernel is whole-stage-codegen joins
      over 8-byte keys; |A ∪ B| = |A| + |B| − |A ∩ B| and
      division/rounding stay JVM-side so DuckDB-oracle parity is exact.
      At 100 TB the same plan holds with the broadcasts becoming shuffle
      joins on (doc) / (doc, hash) — all narrow rows, nothing quadratic,
      no wide payloads.

    Corpus-pass budget — the point of the fusion: the fused frame feeds
    FOUR plan consumers (the bands self-join duplicates the bands branch,
    plus A-side and B-side), so unpersisted the kernel — and the corpus
    scan under it — runs 4× (plan audit r6: four ArrowEvalPython nodes
    over four parquet scans).  The fused frame is therefore spooled to
    MEMORY_AND_DISK so the kernel runs ONCE — measured r6 interleaved A/B
    at sf0.1/32 cores: persisted 6.45/6.58 s vs unpersisted 9.48/8.46 s
    (min-of-2 each), and at cluster scale the saved quantity is three full
    corpus scans + md5 passes (~1.3 KB/doc cached, linear).  Lifecycle:
    the cached frame is internal, so the caller can't ``unpersist`` it —
    its memory side is LRU-evictable, but the disk side lives until
    ``spark.catalog.clearCache()``; a long-lived session issuing many
    calls should clear between them.

    The explicit round-robin ``repartition`` on the pair stream is
    load-balancing, not correctness: AQE coalesces shuffle partitions by
    BYTE size, and a pair row is ~16 bytes — so the pair stage collapses
    to 2-3 partitions while each pair row is about to fan out ×150 in the
    A-side join.  It must be round-robin with an explicit width: a
    repartition on the pair KEY is removed by the optimizer as redundant
    with the distinct's own exchange, whose coalescing is the problem
    being fixed.
    """
    if not threshold > 0.0:
        raise ValueError(f"threshold must be > 0, got {threshold!r}")
    hashed = (df.select(F.col(id_col),
                        minhash_shingles_udf(n_bands=n_bands,
                                             shingle=shingle)(
                            F.col(text_col)).alias("__f"))
              .select(id_col, F.col("__f.bands").alias("__bands"),
                      F.col("__f.hs").alias("__hs"))
              .persist(StorageLevel.MEMORY_AND_DISK))
    # posexplode_OUTER + key repartition for the same load-bearing reasons
    # documented on _bands_frame: plain explode makes Catalyst infer a
    # size(arr) > 0 pre-Generate filter that re-evaluates the Python UDF a
    # second time per row — the exact extra corpus pass this fusion removes
    bands = (hashed.select(id_col, F.posexplode_outer("__bands")
                           .alias("band_idx", "sig"))
             .filter(F.col("sig").isNotNull())
             .repartition("band_idx", "sig"))
    pairs = (_pairs_from_bands(bands, id_col=id_col, source=df)
             .repartition(df.sparkSession.sparkContext.defaultParallelism))
    jac = F.round(F.col("__i").cast("double")
                  / (F.col("__na") + F.col("__nb") - F.col("__i")), 6)

    # Scoring fast path (r6, guide §8 "decide with small rows"): the exact
    # intersection |A∩B| needs every pair matched against every A-side hash
    # — as joins that is a |pairs| × ~|hs| fan-out (measured sf0.1: 485 k
    # pairs × ~118 hashes = 62 M rows through two hash joins + a partial
    # agg, 260 s of CPU = the whole 7-9 s query).  When the corpus's hash
    # sets fit the session broadcast budget — the SAME statistic and
    # threshold that license any broadcast join, from the source estimate
    # Catalyst gets right (``_stats`` docstring) — ship them ONCE as a
    # Spark broadcast and score each pair with one vectorized
    # sorted-array intersection inside mapInPandas: the pair stream
    # (16-byte rows) is the only thing that moves, and the per-pair work
    # is ~5 µs of numpy instead of ~118 joined rows (measured r6
    # interleaved A/B at sf0.1/32: 2.6-3.0 s vs 7.4-9.8 s end-to-end).
    # Over-budget corpora keep the join plan — spill-safe at any scale —
    # exactly as an over-threshold build side keeps a sort-merge join.
    # The kernel emits INTEGERS only (__i/__na/__nb); the jaccard
    # division + round stays the same JVM expression as the join path, so
    # DuckDB-oracle parity is bit-identical (Python round is half-even,
    # Spark/DuckDB HALF_UP — never let the kernel round).
    from ._stats import broadcast_budget_ok

    if broadcast_budget_ok(df, fanout=4.0):
        rows = (hashed.filter(F.col("__hs").isNotNull())
                .select(id_col, "__hs").collect())
        sets = {r[0]: np.asarray(r[1], dtype=np.int64) for r in rows}
        bc = df.sparkSession.sparkContext.broadcast(sets)
        id_t = dict(df.dtypes)[id_col]

        def _score(batches):
            import pandas as pd

            s = bc.value
            for pdf in batches:
                ia = pdf["id_a"].to_numpy()
                ib = pdf["id_b"].to_numpy()
                n = len(pdf)
                ii = np.empty(n, dtype=np.int64)
                na = np.empty(n, dtype=np.int64)
                nb = np.empty(n, dtype=np.int64)
                for j in range(n):
                    a = s[ia[j]]
                    b = s[ib[j]]
                    na[j] = a.size
                    nb[j] = b.size
                    ii[j] = np.intersect1d(a, b, assume_unique=True).size
                yield pd.DataFrame({"id_a": ia, "id_b": ib, "__i": ii,
                                    "__na": na, "__nb": nb})

        scored = pairs.mapInPandas(
            _score, schema=(f"id_a {id_t}, id_b {id_t}, "
                            "__i long, __na long, __nb long"))
        return (scored.withColumn("jaccard", jac)
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))

    # scale-safe join sides everywhere sh rides a join: sh is |corpus| ×
    # ~150 narrow rows behind the Arrow kernel, so Catalyst's size
    # estimate (the pre-fan-out scan size) can fall under the
    # auto-broadcast threshold and plan a BROADCAST of the exploded
    # corpus — a single-threaded build that serialized the scoring stage
    # at 400 k docs (BENCH/BENCH_r5_scaling_dedup.json) and is a driver
    # OOM at real scale; hint_if_large re-decides from the SOURCE
    # estimate × the hash fan-out, keeping the broadcast fast path for
    # small corpora
    from ._stats import hint_if_large

    sh = hint_if_large(
        (hashed.select(id_col, F.size("__hs").alias("__n"),
                       F.explode_outer("__hs").alias("h"))
         .filter(F.col("h").isNotNull())),
        df, fanout=8.0)
    # threshold > 0, so every kept pair shares ≥1 shingle: the B-side left
    # join's match rows carry |B| and no sizes pass is needed; count(__nb)
    # counts exactly the matched (intersecting) rows
    scored = (pairs
              .join(sh.select(F.col(id_col).alias("id_a"),
                              F.col("__n").alias("__na"), "h"), "id_a")
              .join(sh.select(F.col(id_col).alias("id_b"),
                              F.col("__n").alias("__nb"), "h"),
                    ["id_b", "h"], "left")
              .groupBy("id_a", "id_b")
              .agg(F.first("__na").alias("__na"),
                   F.count("__nb").alias("__i"),
                   F.max("__nb").alias("__nb")))
    return (scored.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def span_dedup(df: DataFrame, *, id_col: str, text_col: str,
               span_words: int = 10) -> DataFrame:
    """Global span-level dedup, C4 §2.2 shape (Raffel et al. 2020 drop
    repeated three-sentence spans corpus-wide; granularity here is
    fixed ``span_words``-word windows — the synthetic corpus has no
    sentence punctuation).

    Every non-overlapping span keeps only its FIRST corpus-wide occurrence
    (lexicographically minimal (doc, position)); docs are reassembled from
    their surviving spans.  A doc whose every span appeared earlier
    disappears entirely (exact-duplicate docs degenerate to whole-doc
    dedup).

    Scale shape (round-3 VERDICT "What's wrong" #4 rework): explode spans →
    ONE hash aggregation keyed on a 128-bit span hash (two independent
    ``xxhash64`` values — 16-byte shuffle key instead of the ~60-80 B span
    string, collision odds ~n²/2¹²⁹) with the winning (doc, pos, span)
    riding as the ``min``-struct PAYLOAD (map-side combine keeps one
    candidate per key per map partition) → per-doc reassembly directly
    from the winners table.  The previous shape shuffled the raw span
    string twice (groupBy key + join-back key); this one has no join-back
    at all — two shuffles total, the string only ever a reduced payload.
    (doc, pos) is unique per span row, so ``min`` over (d, p, span) picks
    the same lexicographically-first winner as ``min`` over (d, p).
    """
    words = df.select(F.col(id_col),
                      F.expr(f"split(trim({text_col}), ' ')").alias("__w"))
    spans = words.select(
        F.col(id_col),
        F.posexplode(F.expr(
            f"transform(sequence(1, size(__w), {span_words}), "
            f"i -> array_join(slice(__w, i, {span_words}), ' '))"))
        .alias("pos", "span"))
    first = (spans
             .select(F.xxhash64("span").alias("__h1"),
                     F.xxhash64("span", F.lit(1)).alias("__h2"),
                     F.struct(F.col(id_col).alias("d"),
                              F.col("pos").alias("p"),
                              F.col("span").alias("s")).alias("r"))
             .groupBy("__h1", "__h2")
             .agg(F.min("r").alias("f"))
             .select(F.col("f.d").alias(id_col), F.col("f.p").alias("pos"),
                     F.col("f.s").alias("span")))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "span"))),
        lambda x: x["span"])
    return (first.groupBy(id_col)
            .agg(F.array_join(ordered, " ").alias("clean_text"),
                 F.count(F.lit(1)).alias("n_kept")))


def substr_dedup(df: DataFrame, *, id_col: str, text_col: str,
                 gram_words: int = 50) -> DataFrame:
    """ExactSubstr-style repeated-substring removal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" §3.2:
    remove every substring of ≥ 50 tokens that appears more than once in
    the corpus).  Granularity here is whitespace words; a run of ≥
    ``gram_words`` tokens is duplicated iff every one of its
    ``gram_words``-gram windows is, so marking each occurrence of a
    globally-repeated ``gram_words``-gram and taking the UNION of the
    marked ``[pos, pos+n)`` intervals per doc removes exactly the
    paper's duplicated regions.  Distinct from :func:`span_dedup` in
    both semantics and keeping rule: C4 spans are FIXED non-overlapping
    windows and the first occurrence survives; here windows slide over
    every position and EVERY occurrence of a repeated region is removed
    (including both copies of a within-doc repeat).

    Output per doc: ``(id, clean_text, n_dup_intervals,
    n_removed_tokens)`` — clean_text is the original token stream minus
    the merged duplicate intervals ('' when the whole doc is covered);
    docs shorter than ``gram_words`` or with no repeated grams pass
    through intact with zeros.

    Scale shape: positions explode once to ``(id, pos, h1, h2)`` — the
    gram string dies inside the projection; only the 128-bit hash pair
    (span_dedup's collision math) ever rides a shuffle.  Duplicated
    hashes come from ONE map-side-combined count aggregate, occurrences
    keep their flag via a left-semi hash join on the 16-byte key, and the
    interval merge is the classic sorted-starts scan expressed as a
    per-doc window: with fixed-length intervals, start order = end
    order, so a new interval begins exactly when ``pos − lag(pos) >
    gram_words`` (adjacent runs coalesce), and a running sum of those
    breaks is the interval id.  Per-doc window partitions are bounded by
    document length (the repetition-metrics precedent), never by corpus
    size; a zipfian mega-gram concentrates into the COUNT aggregate
    (map-side combined), not into any sort.

    The hashed occurrence frame feeds TWO consumers (the dup-count
    aggregate and the probe side of the semi join), so the gram explode
    runs twice — the sliding string-window assembly is the operator's
    dominant cost (measured at 1 M × 40-word docs / 32 cores: ~7 s per
    29 M-gram pass, whole operator ~19 s warm).  The frame stays
    unpersisted so the plan is action-free and leaves nothing cached.
    A skew note on the rejected
    single-pass forms: a count window over (h1, h2) or a
    collect_list-per-gram aggregate would buffer a zipfian mega-gram's
    every occurrence in ONE task; two-pass count + semi-join is
    skew-immune by construction.
    """
    n = gram_words
    words = df.select(F.col(id_col),
                      F.expr(f"split(trim({text_col}), ' ')").alias("__w"))
    occ = (words.filter(F.expr(f"size(__w) >= {n}"))
           .select(F.col(id_col),
                   F.posexplode(F.expr(
                       f"transform(sequence(1, size(__w) - {n} + 1), "
                       f"i -> array_join(slice(__w, i, {n}), ' '))"))
                   .alias("pos0", "gram"))
           .select(F.col(id_col), (F.col("pos0") + 1).alias("pos"),
                   F.xxhash64("gram").alias("__h1"),
                   F.xxhash64("gram", F.lit(1)).alias("__h2")))
    dup = (occ.groupBy("__h1", "__h2").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") > 1).select("__h1", "__h2"))
    marked = occ.join(dup, ["__h1", "__h2"], "left_semi").select(id_col,
                                                                 "pos")
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.lag("pos").over(w_doc).isNull()
                 | (F.col("pos") - F.lag("pos").over(w_doc) > n), 1) \
           .otherwise(0)
    grp = F.sum(brk).over(
        w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    iv = (marked.withColumn("__g", grp)
          .groupBy(id_col, "__g")
          .agg(F.min("pos").alias("s"),
               (F.max("pos") + n - 1).alias("e")))
    ivd = (iv.groupBy(id_col)
           .agg(F.sort_array(F.collect_list(F.struct("s", "e")))
                .alias("__iv"),
                F.count(F.lit(1)).alias("n_dup_intervals"),
                F.sum(F.col("e") - F.col("s") + 1)
                .alias("n_removed_tokens")))
    kept = F.expr(
        "array_join(transform(filter(sequence(1, size(__w)), "
        "p -> NOT exists(__iv, x -> p >= x.s AND p <= x.e)), "
        "p -> element_at(__w, p)), ' ')")
    return (words.join(ivd, id_col, "left")
            .select(F.col(id_col),
                    F.when(F.col("__iv").isNull(),
                           F.array_join("__w", " "))
                    .otherwise(kept).alias("clean_text"),
                    F.coalesce("n_dup_intervals", F.lit(0))
                    .alias("n_dup_intervals"),
                    F.coalesce("n_removed_tokens", F.lit(0))
                    .alias("n_removed_tokens")))


def ngram_decontaminate(train: DataFrame, eval_df: DataFrame, *,
                        id_col: str, text_col: str,
                        ngram_words: int = 8) -> DataFrame:
    """Benchmark decontamination by word n-gram overlap (the GPT-3 /
    Pile-style check: a training doc is contaminated if it shares any
    ``ngram_words``-gram with any eval/benchmark doc).

    Output: one row per train doc — ``contaminated`` flag plus the number
    of distinct offending grams (auditable, like the Gopher gate).  Docs
    shorter than ``ngram_words`` words have no grams and are clean.

    Scale shape: the eval side reduces to DISTINCT grams (benchmark sets
    are tiny next to the corpus — broadcastable; beyond that the join keys
    on the gram string, linear either way); the train side explodes
    sliding grams once and semi-joins.  Nothing quadratic, the corpus
    never rides a shuffle wider than (id, gram).
    """
    from .textstats import word_ngrams_expr

    def grams(df: DataFrame) -> DataFrame:
        words = df.select(F.col(id_col),
                          F.expr(f"split(trim({text_col}), ' ')").alias("__w"))
        return (words.filter(F.expr(f"size(__w) >= {ngram_words}"))
                .select(id_col,
                        F.explode(word_ngrams_expr("__w", ngram_words))
                        .alias("gram")))

    eval_grams = grams(eval_df).select("gram").distinct()
    hits = (grams(train).join(eval_grams, "gram", "left_semi")
            .groupBy(id_col)
            .agg(F.count_distinct("gram").alias("n_shared_grams")))
    return (train.select(id_col)
            .join(hits, id_col, "left")
            .select(id_col,
                    F.coalesce("n_shared_grams", F.lit(0))
                    .alias("n_shared_grams"),
                    (F.coalesce("n_shared_grams", F.lit(0)) > 0)
                    .alias("contaminated")))


def minhash_clusters(df: DataFrame, *, id_col: str, text_col: str,
                     n_bands: int = 4, shingle: int = 5,
                     max_iter: int = 50,
                     reliable_checkpoint_every: int = 0) -> DataFrame:
    """Near-dup CLUSTER labels without materializing candidate pairs.

    Pairwise LSH output is inherently quadratic in cluster size (a family of
    m near-identical docs emits O(m²) pairs — measured dominant at sf0.1).
    The scalable product is one label per doc: connected components over the
    bipartite doc↔band-bucket graph, by iterated min-label propagation
    (doc → min over its buckets of the bucket's min label) until fixpoint.
    Every iteration is two linear hash aggregations + a bucket join — no
    pair blow-up anywhere; rounds needed = the cluster graph's diameter.
    Output: (id, cluster_id) where cluster_id = min doc id of the component.

    Per-round cost discipline (VERDICT.md round-2 item 3): the iteration
    runs ONE job — ``localCheckpoint(eager=True)`` both materializes the new
    labels and truncates lineage (no per-round plan growth) — and the
    convergence probe is a ``__changed`` flag computed inside the same
    propagation projection, read back with a short-circuiting ``limit(1)``
    scan of the already-checkpointed blocks (the round-2 version re-executed
    a separate three-way join per round just to detect change).

    Raises ``RuntimeError`` if ``max_iter`` rounds exhaust before fixpoint
    (ADVICE.md round-2 item 2 — a silently non-converged component diverges
    from the exact connected-components oracle).  Label propagation advances
    one graph hop per round, so ``max_iter`` bounds the component diameter,
    not the corpus size; 50 covers any real near-dup topology.

    Failure tolerance (round-3 VERDICT "What's wrong" #5):
    ``localCheckpoint`` stores blocks on EXECUTORS — losing one mid-run on
    a real cluster kills the job, because lineage was truncated and cannot
    recompute.  Set ``reliable_checkpoint_every=N`` (> 0) to additionally
    write a RELIABLE ``checkpoint()`` to ``spark.sparkContext.checkpointDir``
    (which must be configured to durable storage, e.g. HDFS/S3, via
    ``sc.setCheckpointDir``) every N rounds; intermediate rounds keep using
    the cheap local checkpoint.  Tradeoff: a reliable checkpoint writes the
    full label frame to storage (slower per round it fires) in exchange for
    executor-loss survival — at 100 TB use N≈3-5; at toy scale leave 0.
    """
    # no key-repartition here: the persist below materializes the bands
    # once, and every use shuffles on its own keys (bucket / id) anyway
    bands = _bands_frame(df, id_col=id_col, text_col=text_col,
                         n_bands=n_bands, shingle=shingle, repartition=False)
    buckets = bands.select(
        id_col, F.xxhash64(F.col("band_idx"), F.col("sig")).alias("bucket"))
    buckets = buckets.persist()
    labels = df.select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    for round_no in range(1, max_iter + 1):
        bucket_min = (buckets.join(labels, id_col)
                      .groupBy("bucket")
                      .agg(F.min("cluster_id").alias("bmin")))
        proposed = (buckets.join(bucket_min, "bucket")
                    .groupBy(id_col)
                    .agg(F.min("bmin").alias("pmin")))
        stepped = (labels.join(proposed, id_col, "left")
                   .select(F.col(id_col),
                           F.least(F.col("cluster_id"),
                                   F.coalesce(F.col("pmin"),
                                              F.col("cluster_id")))
                           .alias("cluster_id"),
                           (F.col("pmin") < F.col("cluster_id"))
                           .alias("__changed")))
        # one job: materialize + cut lineage; the probe below reads blocks
        if (reliable_checkpoint_every
                and round_no % reliable_checkpoint_every == 0):
            labels = stepped.checkpoint(eager=True)  # durable-storage anchor
        else:
            labels = stepped.localCheckpoint(eager=True)
        changed = labels.filter(F.col("__changed")).limit(1).count()
        labels = labels.drop("__changed")
        if changed == 0:
            buckets.unpersist()
            return labels
    buckets.unpersist()
    raise RuntimeError(
        f"minhash_clusters did not converge in {max_iter} rounds — "
        "raise max_iter (component diameter exceeds it)")


def with_simhash(df: DataFrame, text_col: str, *, shingle: int = 4,
                 n_bits: int = 16, out_col: str = "simhash") -> DataFrame:
    """SimHash fingerprint over character shingles, pure SQL expressions.

    Per bit b: sign of Σ_shingles (±1 by the high bit of hex char b of
    md5(shingle) — a hex char > '7' has its top bit set, so the comparison
    is a 1-char string test both Spark and DuckDB evaluate identically;
    round 1 used xxhash64, which DuckDB lacks, leaving SimHash without an
    oracle).  The md5 array is materialized once and ONE ``aggregate`` folds
    all ``n_bits`` counters into one named_struct in a single pass.
    Near-dup grouping uses the fingerprint value directly (identical
    fingerprints ⇒ near-dup bucket).
    """
    assert n_bits <= 32  # md5 hex has 32 chars
    shingles = (f"transform(sequence(1, greatest(length({text_col}) - {shingle - 1}, 1)), "
                f"i -> md5(substring({text_col}, i, {shingle})))")
    init = "named_struct(" + ", ".join(f"'b{b}', 0" for b in range(n_bits)) + ")"
    merge = ("(acc, h) -> named_struct(" + ", ".join(
        f"'b{b}', acc.b{b} + CASE WHEN substring(h, {b + 1}, 1) > '7' "
        f"THEN 1 ELSE -1 END" for b in range(n_bits)) + ")")
    staged = df.withColumn("__shagg", F.expr(
        f"aggregate({shingles}, {init}, {merge})"))
    bits = " + ".join(
        f"shiftleft(CAST(__shagg.b{b} > 0 AS BIGINT), {b})"
        for b in range(n_bits))
    return staged.withColumn(out_col, F.expr(bits)).drop("__shagg")


def simhash_sql_duck(text_col: str, *, shingle: int = 4,
                     n_bits: int = 16) -> str:
    """DuckDB twin of :func:`with_simhash` (per-bit list_sum re-derivation —
    oracle-side recomputation is free)."""
    shingles = (f"list_transform(generate_series(1, greatest(length({text_col}) - {shingle - 1}, 1)), "
                f"i -> md5(substring({text_col}, i, {shingle})))")
    bits = " + ".join(
        f"(CAST(list_sum(list_transform({shingles}, "
        f"h -> CASE WHEN substring(h, {b + 1}, 1) > '7' THEN 1 ELSE -1 END)) > 0 "
        f"AS BIGINT) << {b})"
        for b in range(n_bits))
    return f"({bits})"
