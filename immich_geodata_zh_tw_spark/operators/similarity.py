"""Embedding similarity search (driver mandate: ANN over array<float>).

* ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query set
  against the corpus, dot products via zip_with/aggregate (JVM higher-order
  functions, no Python), min-struct top-k per query.  The baseline and the
  oracle-checkable path.
* ``lsh_bucket_topk`` — the scale path: random-hyperplane (SimHash) bucket
  signatures from deterministic splitmix-derived planes; candidates = bucket
  collisions under multiple rotations, then exact re-rank.  Approximate by
  construction but DETERMINISTIC: the literal planes make signatures — and
  hence the full output — exactly DuckDB-replicable (full oracle).
* ``embedding_neardup_pairs`` — LSH candidates + exact cosine ≥ threshold:
  the embedding-space member of the dedup family.
* ``ivf_topk`` — the second ANN scale path (coarse quantizer, single-cell
  corpus assignment, nprobe query fan-out).
* ``pq_codebooks`` / ``pq_encode`` / ``pq_adc_topk`` — product quantization:
  m-subspace codes (16-32x memory cut) + asymmetric-distance top-k scan,
  the memory-side companion that lets a 10^12-vector corpus fit executors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..synth.hashing import u01


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity of two array<float> columns, all JVM-side."""
    def dot(x, y):
        return (f"aggregate(zip_with({x}, {y}, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), "
                f"0.0D, (acc, v) -> acc + v)")
    return F.expr(
        f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))")


def brute_force_topk(corpus: DataFrame, queries: DataFrame, *, k: int = 1,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id: str = "q_id", query_vec: str = "q_vec") -> DataFrame:
    """Exact top-k neighbors per query (excluding self-id matches).

    Queries are broadcast (small side); ranking via min-struct aggregation
    for k=1, window row_number otherwise.
    """
    sim = cosine_expr(vec_col, query_vec)
    pairs = (corpus.crossJoin(F.broadcast(queries))
             .filter(F.col(id_col) != F.col(query_id))
             .withColumn("cos_sim", F.round(sim, 9)))
    if k == 1:
        packed = F.struct((-F.col("cos_sim")).alias("neg"),
                          F.col(id_col).alias("nid"))
        return (pairs.groupBy(query_id)
                .agg(F.min(packed).alias("b"))
                .select(query_id,
                        F.col("b.nid").alias("neighbor_id"),
                        (-F.col("b.neg")).alias("cos_sim")))
    from pyspark.sql import Window
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(),
                                             F.col(id_col).asc())
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, F.col(id_col).alias("neighbor_id"),
                    "cos_sim", "rank"))


def kmeans_centroids(sample: np.ndarray, *, k: int, iters: int = 8,
                     seed: int = 99) -> np.ndarray:
    """Deterministic Lloyd k-means on a driver-side sample (numpy only).

    Init = evenly-strided rows of the (hash-shuffled) sample — deterministic,
    no RNG state.  Used as the IVF coarse quantizer; the sample is a tiny
    fraction of the corpus, the result broadcasts to executors.
    """
    n = len(sample)
    order = np.argsort((np.arange(n, dtype=np.int64) * 2654435761 + seed)
                       % 1_000_003, kind="stable")
    cents = sample[order[np.linspace(0, n - 1, k).astype(np.int64)]].copy()
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    for _ in range(iters):
        c = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                cents[j] = sample[m].mean(axis=0)
    return cents


def _assign_udf(centroids: np.ndarray, nprobe: int):
    """Vectorized pandas UDF: embedding → array of the nprobe nearest
    centroid ids by cosine (numpy matmul per Arrow batch)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True),
                               1e-12)

    def assign(vecs):
        x = np.asarray(vecs.tolist(), dtype=np.float64)
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ c.T
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    # explicit annotations (module-local pandas alias is not resolvable by
    # pyspark's hint inspection inside a closure)
    assign.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf(assign, "array<int>")


def ivf_assign(df: DataFrame, centroids: np.ndarray, *,
               vec_col: str = "embedding",
               out_col: str = "__cid") -> DataFrame:
    """Tag each row with its single nearest-centroid cell id (cosine argmax,
    Arrow-batched) — the corpus half of IVF, exposed standalone so IVF-PQ
    pipelines can assign cells once and reuse the tagged frame."""
    return df.withColumn(
        out_col, F.element_at(_assign_udf(centroids, 1)(F.col(vec_col)), 1))


def ivf_topk(corpus: DataFrame, queries: DataFrame, *, centroids: np.ndarray,
             nprobe: int = 2, k: int = 1,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id: str = "q_id", query_vec: str = "q_vec") -> DataFrame:
    """IVF approximate nearest neighbors — the second ANN scale path.

    Corpus rows land in their single nearest-centroid cell (one row each —
    the corpus is never replicated); each query probes its ``nprobe``
    nearest cells (explode on the QUERY side only), candidates equi-join on
    the cell id, exact cosine re-ranks.  Shuffle key = the centroid cell —
    at 10^12 rows choose k_centroids so cells stay partition-sized, and
    probe more cells for recall instead of broadcasting anything.
    """
    assign_p = _assign_udf(centroids, nprobe)
    tagged = ivf_assign(corpus, centroids, vec_col=vec_col)
    probes = (queries.withColumn("__cids", assign_p(F.col(query_vec)))
              .withColumn("__cid", F.explode("__cids")).drop("__cids"))
    pairs = (tagged.join(probes, "__cid")
             .filter(F.col(id_col) != F.col(query_id))
             .withColumn("cos_sim", F.round(cosine_expr(vec_col, query_vec), 9)))
    from pyspark.sql import Window
    w = Window.partitionBy(query_id).orderBy(F.col("cos_sim").desc(),
                                             F.col(id_col).asc())
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, F.col(id_col).alias("neighbor_id"), "cos_sim"))


def hyperplanes(n_planes: int, dim: int, *, seed: int = 1234) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes from splitmix hashing."""
    idx = np.arange(n_planes * dim, dtype=np.int64) + seed * 1_000_003
    return (u01(idx) - 0.5).reshape(n_planes, dim)


def lsh_signature_sql(vec_col: str, planes: np.ndarray) -> str:
    """Bucket id = sign bits of plane dot products, as DuckDB SQL text.

    Every literal is CAST AS DOUBLE and the terms sum left to right, so
    DuckDB multiplies and adds the same IEEE doubles, in the same order, as
    :func:`lsh_signature_udf` — this is what makes the LSH ANN query
    *exactly* oracle-checkable (VERDICT.md round-2 item 1): the bucket ids,
    hence the candidate set, hence the re-ranked output, are bit-identical
    across engines.
    """
    n_planes, dim = planes.shape
    bits = []
    for p in range(n_planes):
        terms = " + ".join(
            f"CAST({vec_col}[{d + 1}] AS DOUBLE) * CAST({planes[p, d]!r} AS DOUBLE)"
            for d in range(dim))
        bits.append(f"(CAST((({terms}) > 0.0) AS BIGINT) << {p})")
    return "(" + " + ".join(bits) + ")"


def lsh_signature_udf(planes_per_table: list[np.ndarray]):
    """Vectorized pandas UDF: embedding → array of per-table bucket ids,
    BIT-IDENTICAL to :func:`lsh_signature_sql`.

    The SQL text sums plane-dot terms left-associatively; numpy's matmul
    uses pairwise/blocked summation whose last-ulp differences could flip a
    sign bit when a dot product sits within ~1e-16 of zero — so this UDF
    accumulates sequentially over dimensions (one vectorized add per dim),
    reproducing the SQL's exact IEEE order.  Scale rationale: a 14-plane ×
    4-table signature is ~3.6k scalar expression nodes — past Janino's
    method limit, so Spark falls back to interpreted (boxed) projection,
    measured 16 s at sf0.1; one Arrow-batched matmul-shaped pass is the
    same bits at numpy speed (and the batched-pandas-UDF shape the
    north-star prescribes for cell encoding)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    tables = [np.asarray(p, dtype=np.float64) for p in planes_per_table]

    def sigs(vecs):
        x = np.asarray(vecs.tolist(), dtype=np.float64)
        cols = []
        for planes in tables:
            n_planes, dim = planes.shape
            acc = np.zeros((len(x), n_planes))
            for d in range(dim):  # sequential: matches SQL's left-assoc sum
                acc += x[:, d:d + 1] * planes[:, d][None, :]
            bits = (acc > 0.0).astype(np.int64)
            cols.append((bits << np.arange(n_planes, dtype=np.int64)).sum(axis=1))
        return pd.Series(list(np.stack(cols, axis=1)))

    sigs.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf(sigs, "array<long>")


def lsh_scored_pairs(corpus: DataFrame, *, id_col: str = "vec_id",
                     vec_col: str = "embedding", dim: int, n_planes: int = 12,
                     n_tables: int = 2) -> DataFrame:
    """Bucket-collision candidate pairs with exact cosine scores.

    The shared candidate stage under :func:`lsh_bucket_topk` (ANN) and
    :func:`embedding_neardup_pairs` (near-dup detection): ids + signatures
    ONLY ride the bucket self-join and the pair distinct; the embedding
    arrays are re-attached exactly once afterwards.  Round 1 carried both
    full vectors through the join AND the distinct — at 10^12 rows that
    shuffles the entire embedding corpus twice (VERDICT.md round-1 item 7).
    Shuffle key is the bucket hash (uniform); candidate fan-out is bounded
    by bucket size — at 10^12 rows, raise n_planes to keep buckets small
    rather than broadcasting anything.

    Output: ``(id_a, id_b, cos_sim)`` with ``id_a < id_b``, one row per
    distinct colliding pair.
    """
    sig_udf = lsh_signature_udf(
        [hyperplanes(n_planes, dim, seed=1234 + 7 * t) for t in range(n_tables)])
    tagged = corpus.select(
        id_col, F.posexplode(sig_udf(F.col(vec_col))).alias("tbl", "sig"))
    # scale-safe build side: tagged is corpus-sized behind an
    # ArrowEvalPython node, so Catalyst's size estimate is the pre-fan-out
    # scan size — left uncorrected the bucket self-join auto-broadcasts
    # the whole tagged corpus once the scan estimate dips under the
    # threshold (single-threaded build locally, driver OOM at scale; same
    # hazard caught at 400 k docs for the minhash band join, see
    # dedup._pairs_from_bands); small corpora keep the broadcast fast path
    from ._stats import hint_if_large

    l, r = tagged.alias("l"), hint_if_large(tagged, corpus,
                                            fanout=2.0).alias("r")
    id_pairs = (l.join(r, ["tbl", "sig"])
                .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
                .select(F.col(f"l.{id_col}").alias("id_a"),
                        F.col(f"r.{id_col}").alias("id_b"))
                .distinct())
    va = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (id_pairs.join(va, "id_a").join(vb, "id_b")
            .withColumn("cos_sim", F.round(cosine_expr("va", "vb"), 9))
            .select("id_a", "id_b", "cos_sim"))


def embedding_neardup_pairs(corpus: DataFrame, *, id_col: str = "vec_id",
                            vec_col: str = "embedding", dim: int,
                            n_planes: int = 8, n_tables: int = 4,
                            threshold: float = 0.99) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (driver mandate: the
    embedding-space member of the dedup family, alongside exact hash /
    MinHash / SimHash / n-gram Jaccard).

    LSH bucket collisions generate candidates (linear in corpus + bucket
    fan-out, never all-pairs), exact cosine keeps only pairs at or above
    ``threshold``.  Same 100-TB shape as :func:`lsh_bucket_topk`; the
    threshold filter is applied post-re-rank so the output is exactly the
    candidate-restricted near-dup set — deterministic, hence (with literal
    hyperplanes) fully DuckDB-oracle-checkable.
    """
    pairs = lsh_scored_pairs(corpus, id_col=id_col, vec_col=vec_col, dim=dim,
                             n_planes=n_planes, n_tables=n_tables)
    return pairs.filter(F.col("cos_sim") >= F.lit(float(threshold)))


def lsh_bucket_topk(corpus: DataFrame, *, id_col: str = "vec_id",
                    vec_col: str = "embedding", dim: int, n_planes: int = 12,
                    n_tables: int = 2, k: int = 1) -> DataFrame:
    """Approximate all-pairs nearest neighbor: bucket-collision candidates
    from ``n_tables`` independent plane sets, exact cosine re-rank.

    Candidate generation is :func:`lsh_scored_pairs` (see its scale notes).
    """
    pairs = lsh_scored_pairs(corpus, id_col=id_col, vec_col=vec_col, dim=dim,
                             n_planes=n_planes, n_tables=n_tables)
    # symmetric top-k per id
    sym = (pairs.select(F.col("id_a").alias("q_id"), F.col("id_b").alias("neighbor_id"), "cos_sim")
           .unionByName(pairs.select(F.col("id_b").alias("q_id"),
                                     F.col("id_a").alias("neighbor_id"), "cos_sim")))
    from pyspark.sql import Window
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(),
                                           F.col("neighbor_id").asc())
    return (sym.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k).drop("rank"))


def semantic_dedup(corpus: DataFrame, centroids: np.ndarray, *,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   threshold: float = 0.95,
                   block_size: int = 1024,
                   keep: str = "min_id") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the embeddings, then inside each
    cluster drop every item dominated by a higher-priority item of the
    same cluster at cosine ≥ ``threshold``.

    ``keep`` picks the in-cell priority order — the only thing the two
    policies differ in:

    * ``"min_id"`` (default) — an item survives iff no SMALLER-ID item in
      its cell is ≥ threshold-similar: this repo's house representative
      convention (same as :func:`dedup.exact_dedup`) — deterministic,
      order-free, and expressible in plain SQL, so the operator is
      exactly DuckDB-oracle-checkable (the ``embed_neardup`` driver row);
    * ``"far_centroid"`` — the paper's own policy: among near-dups the
      item FARTHEST from its cell centroid wins (keeps the outer shell of
      each semantic cluster — the diversity-preserving choice), priority
      = centroid-cosine ascending with id-ascending tie-break (centroid
      cosine rounded to 9 dp first, so the ordering never hinges on
      sub-rounding float noise).

    Scale shape: :func:`ivf_assign` tags each row with ONE nearest-centroid
    cell (Arrow argmax against the broadcast centroid matrix — the corpus
    is never replicated), then a single shuffle on the cell id feeds a
    grouped Arrow kernel.  Pairwise work is O(Σ cell²) BY DESIGN — the
    quantizer granularity is the knob (SemDeDup itself uses 50 k clusters
    on 5 B docs); pick ``k_centroids ≈ corpus / target_cell_size`` so each
    cell fits one task, and the kernel's ``block_size``-row matmul chunks
    bound peak memory at block × cell instead of cell².  Nothing here is
    quadratic in the corpus, and the only wide payload (the embedding)
    crosses the wire exactly once, in the one cell shuffle.

    Output, one row per input row: ``(id, cell_id, kept, dup_of,
    dup_sim)`` where ``dup_of`` = the highest-priority same-cell item
    at/above the threshold (the smallest id under ``min_id``; the
    centroid-farthest under ``far_centroid``; null for survivors) and
    ``dup_sim`` = the cosine to it,
    rounded to 9 dp like every cos_sim in this module.  The kernel rounds
    half-AWAY-from-zero (scaled floor(|x|·10⁹ + ½)) to match the
    DuckDB/JVM ``round`` convention the oracles compare against — NOT
    numpy's banker's rounding; the residual parity exposure is the same
    ~1-ulp band every cos_sim column in this module already carries
    (BLAS-ordered sums vs the oracle's sequential dot/norm formula).
    """
    tau = float(threshold)
    if keep not in ("min_id", "far_centroid"):
        raise ValueError(f"keep must be 'min_id' or 'far_centroid': {keep!r}")
    # only the far_centroid priority needs centroid cosines — keep the
    # normalized matrix out of the min_id closure (at SemDeDup scale the
    # k×d float64 copy is real per-task serialization weight)
    cn = (centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
        if keep == "far_centroid" else None)

    tagged = ivf_assign(corpus, centroids, vec_col=vec_col)
    out_schema = (f"{id_col} long, cell_id int, kept boolean, "
                  f"dup_of long, dup_sim double")

    def kernel(pdf):
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        if keep == "min_id":
            order = np.argsort(ids, kind="stable")
        else:
            # paper policy: centroid-cosine ASC (farthest first), id ASC
            # tie-break; 9-dp rounding before ordering keeps the priority
            # deterministic against sub-rounding float noise
            cs = xn @ cn[int(pdf["__cid"].iloc[0])]
            cs = np.copysign(np.floor(np.abs(cs) * 1e9 + 0.5) / 1e9, cs)
            order = np.lexsort((ids, cs))
        ids = ids[order]
        xn = xn[order]
        n = len(ids)
        # dominated-state lives in its own mask, NOT in a dup_of sentinel:
        # ids are arbitrary int64, so any in-band value (-1 included) can
        # be a legitimate dominator id
        dominated = np.zeros(n, dtype=bool)
        dup_of = np.zeros(n, dtype=np.int64)
        dup_sim = np.full(n, np.nan)
        for s in range(0, n, block_size):
            e = min(s + block_size, n)
            raw = xn[s:e] @ xn[:e].T
            sims = np.copysign(np.floor(np.abs(raw) * 1e9 + 0.5) / 1e9, raw)
            # strictly-prior mask: column j is a candidate for row i iff
            # j precedes i in priority order (min_id: ids ascending ⇒
            # smaller id; far_centroid: farther from centroid); within-
            # block rows see their in-block predecessors too
            prior = np.arange(e)[None, :] < np.arange(s, e)[:, None]
            hits = (sims >= tau) & prior
            any_hit = hits.any(axis=1)
            # priority-ordered columns ⇒ first hit == highest-priority
            # dominator (min id / centroid-farthest)
            first = hits.argmax(axis=1)
            rows = np.nonzero(any_hit)[0]
            dominated[s + rows] = True
            dup_of[s + rows] = ids[first[rows]]
            dup_sim[s + rows] = sims[rows, first[rows]]
        return pd.DataFrame({
            id_col: ids,
            "cell_id": np.full(n, pdf["__cid"].iloc[0], dtype=np.int32),
            "kept": ~dominated,
            "dup_of": pd.array([int(d) if hit else None
                                for hit, d in zip(dominated, dup_of)],
                               dtype="Int64"),
            "dup_sim": [float(sm) if hit else None
                        for hit, sm in zip(dominated, dup_sim)],
        })

    return tagged.groupBy("__cid").applyInPandas(kernel, schema=out_schema)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the 100-TB memory-side companion of IVF
# ---------------------------------------------------------------------------

def _topk_ties_min_id(s: np.ndarray, ids: np.ndarray, kk: int) -> np.ndarray:
    """Indices of the top-``kk`` of ``s`` with ties broken by LOWEST id —
    the same order the downstream global window uses (score DESC, id ASC).

    PQ scores are quantized, so EXACT ties between distinct rows are
    common (two rows sharing all m codes score identically); a bare
    ``argpartition`` keeps an arbitrary tie-mate, which makes the
    per-partition candidate set — and hence the final result — depend on
    how the scan was partitioned.  Linear argpartition finds the kth
    score, then only the ≥-threshold candidates (k + tie-mates, tiny) are
    lexsorted — exact at any partitioning, still O(n) over the batch.
    """
    part = np.argpartition(-s, kk - 1)[:kk]
    thresh = s[part].min()
    cand = np.flatnonzero(s >= thresh)
    return cand[np.lexsort((ids[cand], -s[cand]))][:kk]

def pq_codebooks(sample: np.ndarray, *, m: int, ksub: int = 16,
                 iters: int = 8) -> list[np.ndarray]:
    """Per-subspace k-means codebooks: the vector splits into ``m`` equal
    slices, each quantized against its own ``ksub`` centroids — a D-float
    vector compresses to ``m`` small codes (m bytes at ksub ≤ 256), the
    representation that lets a 10^12-vector corpus live in executor memory
    (4 KB float32 → 8-16 B).  Same deterministic strided-init Lloyd as the
    IVF coarse quantizer; the codebooks (m × ksub × D/m floats) broadcast.
    """
    d = sample.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    return [kmeans_centroids(np.ascontiguousarray(sample[:, i * ds:(i + 1) * ds]),
                             k=ksub, iters=iters)
            for i in range(m)]


def pq_encode_udf(codebooks: list[np.ndarray]):
    """Arrow UDF: embedding → array<int> of per-subspace nearest-centroid
    codes (L2 argmin, numpy per batch — one matmul per subspace)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    ds = cbs[0].shape[1]

    def encode(vs):
        x = np.asarray(vs.tolist(), dtype=np.float64)
        codes = np.empty((len(x), len(cbs)), dtype=np.int32)
        for i, cb in enumerate(cbs):
            sub = x[:, i * ds:(i + 1) * ds]
            # argmin ||s-c||^2 = argmin (||c||^2 - 2 s.c); ||s||^2 constant
            d2 = (cb * cb).sum(axis=1)[None, :] - 2.0 * (sub @ cb.T)
            codes[:, i] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    # explicit annotations — same closure-resolution workaround as
    # _assign_udf above
    encode.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return pandas_udf(encode, "array<int>")


def pq_encode(corpus: DataFrame, codebooks: list[np.ndarray], *,
              vec_col: str = "embedding",
              out_col: str = "pq_code") -> DataFrame:
    return corpus.withColumn(out_col, pq_encode_udf(codebooks)(F.col(vec_col)))


def pq_adc_topk(codes: DataFrame, query_vecs: np.ndarray,
                codebooks: list[np.ndarray], *, k: int = 10,
                id_col: str = "vec_id", code_col: str = "pq_code",
                query_ids: list[int] | None = None) -> DataFrame:
    """Asymmetric-distance (ADC) top-k scan over PQ codes.

    The query batch is small and rides to every executor inside the UDF
    closure as per-query lookup tables LUT[q][m][code] = dot(q_sub,
    centroid) — scoring a corpus row is ``m`` table lookups + adds, NO
    decompression.  ``mapInPandas`` emits each partition's per-query top-k
    only (≤ |queries| × k rows per partition cross the wire — the corpus
    itself never shuffles), then one tiny global window finishes the
    ranking.  Scores are approximate (quantized corpus side, exact query
    side — the standard ADC estimator of the dot product).
    """
    from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                                   StructField, StructType)

    q = np.asarray(query_vecs, dtype=np.float64)
    qids = list(query_ids) if query_ids is not None else list(range(len(q)))
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    ds = cbs[0].shape[1]
    # LUT[q, m, code]: per-subspace dot products
    lut = np.stack([np.stack([q[:, i * ds:(i + 1) * ds] @ cb.T
                              for i, cb in enumerate(cbs)], axis=1)])[0]

    out_schema = StructType([
        StructField("q_id", LongType()),
        StructField(id_col, LongType()),
        StructField("adc_score", DoubleType()),
        StructField("__m", IntegerType()),
    ])

    def scan(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):  # empty Arrow batch: shape[1]/argpartition(-1) blow up
                continue
            ids = pdf[id_col].to_numpy()
            c = np.asarray(pdf[code_col].tolist(), dtype=np.int64)  # n × m
            # scores[q, n] = Σ_m LUT[q, m, code[n, m]]
            scores = lut[:, np.arange(c.shape[1])[None, :], c].sum(axis=2)
            kk = min(k, len(ids))
            rows = {"q_id": [], id_col: [], "adc_score": [], "__m": []}
            for qi in range(len(qids)):
                top = _topk_ties_min_id(scores[qi], ids, kk)
                rows["q_id"].extend([qids[qi]] * kk)
                rows[id_col].extend(ids[top].tolist())
                rows["adc_score"].extend(scores[qi, top].tolist())
                rows["__m"].extend([0] * kk)
            yield pd.DataFrame(rows)

    from pyspark.sql import Window
    cand = codes.mapInPandas(scan, schema=out_schema).drop("__m")
    w = Window.partitionBy("q_id").orderBy(F.col("adc_score").desc(),
                                           F.col(id_col).asc())
    return (cand.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .select("q_id", id_col, "adc_score", F.col("__rk").alias("rank")))


def ivf_pq_topk(codes: DataFrame, query_vecs: np.ndarray,
                centroids: np.ndarray, codebooks: list[np.ndarray], *,
                nprobe: int = 2, k: int = 10, id_col: str = "vec_id",
                code_col: str = "pq_code", cell_col: str = "__cid",
                query_ids: list[int] | None = None) -> DataFrame:
    """IVF-PQ: the composed production ANN shape — coarse cells prune the
    corpus, PQ codes compress it, ADC scores the survivors.

    ``codes`` must carry the cell id (``pq_encode`` output joined with the
    IVF assignment — both are one-pass batch kernels).  The scan first
    SEMI-prunes to the union of all queries' probe cells (one broadcastable
    literal ``isin`` — no join), then inside each Arrow batch masks each
    query to its OWN probe cells before the LUT scoring, so the candidate
    set equals strict per-query IVF probing.  Per partition only
    ≤ |queries| × k rows emerge; the corpus never shuffles, never
    decompresses.
    """
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    q = np.asarray(query_vecs, dtype=np.float64)
    qids = list(query_ids) if query_ids is not None else list(range(len(q)))
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    ds = cbs[0].shape[1]
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    qn = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
    probe = np.argsort(-(qn @ cn.T), axis=1)[:, :nprobe]  # |q| × nprobe
    all_cells = sorted({int(c) for row in probe for c in row})
    probe_sets = [set(map(int, row)) for row in probe]
    lut = np.stack([np.stack([q[:, i * ds:(i + 1) * ds] @ cb.T
                              for i, cb in enumerate(cbs)], axis=1)])[0]

    out_schema = StructType([
        StructField("q_id", LongType()),
        StructField(id_col, LongType()),
        StructField("adc_score", DoubleType()),
    ])

    def scan(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            cells = pdf[cell_col].to_numpy()
            c = np.asarray(pdf[code_col].tolist(), dtype=np.int64)
            scores = lut[:, np.arange(c.shape[1])[None, :], c].sum(axis=2)
            rows = {"q_id": [], id_col: [], "adc_score": []}
            for qi in range(len(qids)):
                mask = np.isin(cells, list(probe_sets[qi]))
                if not mask.any():
                    continue
                s, i = scores[qi][mask], ids[mask]
                kk = min(k, len(i))
                top = _topk_ties_min_id(s, i, kk)
                rows["q_id"].extend([qids[qi]] * kk)
                rows[id_col].extend(i[top].tolist())
                rows["adc_score"].extend(s[top].tolist())
            yield pd.DataFrame(rows)

    from pyspark.sql import Window
    pruned = codes.filter(F.col(cell_col).isin(all_cells))
    cand = pruned.mapInPandas(scan, schema=out_schema)
    w = Window.partitionBy("q_id").orderBy(F.col("adc_score").desc(),
                                           F.col(id_col).asc())
    return (cand.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .select("q_id", id_col, "adc_score", F.col("__rk").alias("rank")))
