"""Nearest-neighbor (k=1) naming join — the Immich runtime semantic.

Reference semantic: a photo's (lat, lon) is matched to the nearest cities500
point (reference README.md:103; the reference *constructs* that point table,
one row per village centroid, so k=1 lands on the right village).  At 10^12
pages a cross join is impossible; the scalable plan is:

1. encode each query point's grid cell in pure Column algebra (no UDF);
2. group the **small** places table by the cells of each place's k-ring
   on the driver into one Arrow frame of per-cell candidate arrays (the
   places table is broadcast-sized by construction, ~10^4 rows; the
   10^12-row side is never exploded and never shuffled);
3. broadcast equi-join on the query's own cell → per-row candidate array;
4. pick the nearest candidate with ``array_min(transform(...))`` — evaluated
   inside whole-stage codegen, 1 row in → 1 row out, NO explode, NO groupBy
   (a per-query window/groupBy would shuffle every candidate row for zero
   reduction — measured as the dominant non-scaling cost at 10^7 rows);
5. **exactness guard** (per row, latitude-aware): the in-ring nearest is
   provably the global nearest iff its distance is ≤ the minimum possible
   distance to any point outside the ring.  Rows failing the guard — or with
   no in-ring candidate at all — fall back to an exact scan of the *full*
   places array inside the same ``CASE`` expression (branch evaluated lazily,
   only for the vanishing unsettled fraction).

Everything is ONE narrow Catalyst plan: no driver-side iteration, no
per-round anti-join, no action, no persist.  (Round-1 shipped an escalation
loop with a big-big ``left_anti`` + ``take(1)`` per round; at scale the
anti-join re-shuffles the full query set every round — rewritten per
VERDICT.md round-1 item 1.)
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import cell_expr
from ..geo import grid
from ..geo.distance import haversine_sql

_DEG_KM = math.pi / 180.0 * 6371.0088  # km per degree of great-circle arc

#: multiplicative safety margin on the out-of-ring distance lower bound:
#: the planar small-angle bound overestimates the true haversine distance by
#: O(Δλ²) relative (≤ ~1e-5 at city scales); 1e-3 makes the guard airtight
#: at the cost of routing a negligible extra fraction to the exact fallback.
_GUARD_SAFETY = 0.999


def _kring_rows(places_pdf, *, lat_col: str, lon_col: str, res: int,
                k: int) -> tuple[np.ndarray, np.ndarray]:
    """(row, cell) per (place, covering cell): ``row`` indexes
    ``places_pdf``, ``cell`` is a cell of the place's k-ring."""
    rings = grid.k_ring(grid.cell_of(places_pdf[lat_col].to_numpy(),
                                     places_pdf[lon_col].to_numpy(), res), k)
    keep = rings.ravel() >= 0  # -1: beyond a pole
    return (np.repeat(np.arange(len(rings)), rings.shape[1])[keep],
            rings.ravel()[keep])


def explode_places_by_kring(spark: SparkSession, places_pdf, *,
                            lat_col: str, lon_col: str,
                            res: int, k: int) -> DataFrame:
    """Small-side prep: one row per (place, covered cell), as a Spark DF.

    ``places_pdf`` is a pandas DataFrame (broadcast-scale by contract).
    Adds ``cell`` (the covering cell).
    """
    row, cell = _kring_rows(places_pdf, lat_col=lat_col, lon_col=lon_col,
                            res=res, k=k)
    out = places_pdf.iloc[row].reset_index(drop=True)
    out["cell"] = cell
    return spark.createDataFrame(out)


def _candidate_arrays(spark: SparkSession, places_pdf, row, key,
                      fields: dict[str, str], cells=None) -> DataFrame:
    """``(cell, __places)``: per cell of ``cells`` (default: the distinct
    ``key`` values), the candidate structs ``fields`` of the ``places_pdf``
    rows ``row`` whose ``key`` is that cell.  Grouped on the driver and
    shipped as ONE Arrow frame — a Spark ``collect_list`` over an exploded
    row table cost ~680 py4j round trips to build and an exchange on every
    execution."""
    order = np.argsort(key, kind="stable")
    key, row = key[order], row[order]
    cells = np.unique(key) if cells is None else cells
    structs = pa.StructArray.from_arrays(
        [pa.array(places_pdf[src].to_numpy()[row], from_pandas=True)
         for src in fields.values()], names=list(fields))
    places = pa.ListArray.from_arrays(
        pa.array(np.r_[np.searchsorted(key, cells), key.size].astype(np.int32)),
        structs)
    return spark.createDataFrame(pa.table({"cell": cells, "__places": places}))


def min_cell_km(res: int, max_abs_lat: float) -> float:
    """Smallest ground extent of one cell step at ``res`` within ±max_abs_lat."""
    lat_step, lon_step = grid.cell_size_deg(res)
    return min(lat_step, lon_step * math.cos(math.radians(max_abs_lat))) * _DEG_KM


def guard_km_col(lat: Column, *, res: int, k: int) -> Column:
    """Per-row lower bound (km) on the distance from a query at ``lat`` to any
    point OUTSIDE its k-ring at ``res`` — pure Column algebra.

    A point outside the ring sits in a cell at Chebyshev distance ≥ k+1, so
    it is separated from the query by ≥ k full cell steps in latitude OR
    longitude; the longitude step is evaluated at the worst (highest) latitude
    reachable inside the ring, so the bound holds row-by-row without a global
    ``max_abs_lat`` assumption (round-1 used a fixed 60° constant — unsafe for
    data above it, ADVICE.md item 4).  A ring that reaches a pole gets
    ``cos(90°)`` ≈ 0, i.e. no bound: every longitude meets at the pole, so a
    point there can be metres away in a far column (an 89.999° cap let a
    query within ~0.0002° of the pole settle on a farther ring candidate).
    """
    lat_step, lon_step = grid.cell_size_deg(res)
    eff_lat = F.least(F.abs(lat) + F.lit((k + 1) * lat_step), F.lit(90.0))
    step = F.least(F.lit(lat_step),
                   F.lit(lon_step) * F.cos(F.radians(eff_lat)))
    return F.lit(k * _DEG_KM * _GUARD_SAFETY) * step


def _guard_km_np(lat, *, res: int, k: int) -> np.ndarray:
    """numpy twin of :func:`guard_km_col` (same bound, same safety margin)."""
    lat_step, lon_step = grid.cell_size_deg(res)
    eff_lat = np.minimum(np.abs(lat) + (k + 1) * lat_step, 90.0)
    step = np.minimum(lat_step, lon_step * np.cos(np.radians(eff_lat)))
    return (k * _DEG_KM * _GUARD_SAFETY) * step


def _pair_km(lat_a, lon_a, cos_a, lat_b, lon_b, cos_b):
    """Haversine (km) of radian coordinates with precomputed ``cos(lat)``;
    broadcasts, and gives the same bits for a pair however it is batched."""
    a = (np.sin((lat_a - lat_b) / 2) ** 2
         + cos_a * cos_b * np.sin((lon_a - lon_b) / 2) ** 2)
    return 2.0 * 6371.0088 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


#: candidate pairs expanded per numpy batch (32 MB per float64 temporary)
_PAIR_CHUNK = 4_000_000
#: coarsest grid level of the spacing search: below it the out-of-ring bound
#: degenerates (the ring spans tens of degrees of latitude) and the scan
#: budget would send the residue to the brute scan anyway
_SPACING_RES_LO = 4


def _ring_min_km(q, lo, cnt, order, lat, lon, coslat) -> np.ndarray:
    """Per query point ``q[i]``: min distance to the OTHER points of its
    k-ring, where ring cell ``c`` of query ``i`` holds the points
    ``order[lo[i, c]:lo[i, c] + cnt[i, c]]``; ``inf`` if there are none.
    Pairs are expanded in chunks of about :data:`_PAIR_CHUNK`."""
    per_q = cnt.sum(axis=1)
    ends = np.cumsum(per_q)
    out = np.empty(q.size)
    i0 = 0
    while i0 < q.size:
        done = ends[i0 - 1] if i0 else 0
        i1 = max(i0 + 1, int(np.searchsorted(ends, done + _PAIR_CHUNK, "right")))
        c = cnt[i0:i1].ravel()
        excl = np.cumsum(c) - c
        pos = np.arange(int(c.sum())) + np.repeat(lo[i0:i1].ravel() - excl, c)
        j = order[pos]
        qi = np.repeat(q[i0:i1], per_q[i0:i1])
        d = _pair_km(lat[qi], lon[qi], coslat[qi], lat[j], lon[j], coslat[j])
        d[j == qi] = np.inf
        # every query's own cell holds the query itself: no empty segment
        starts = np.cumsum(per_q[i0:i1]) - per_q[i0:i1]
        out[i0:i1] = np.minimum.reduceat(d, starts)
        i0 = i1
    return out


def _brute_nn_km(q, lat, lon, coslat) -> np.ndarray:
    """Per query point ``q[i]``: min distance to every other point."""
    d = _pair_km(lat[q, None], lon[q, None], coslat[q, None],
                 lat[None, :], lon[None, :], coslat[None, :])
    d[np.arange(q.size), q] = np.inf  # self-distance
    return d.min(axis=1)


def max_nn_spacing_km(places_pdf, *, lat_col: str = "latitude",
                      lon_col: str = "longitude",
                      chunk: int = 2048) -> float:
    """Max over DISTINCT place points of the distance to the nearest other
    distinct point (km).

    For a tiling-derived point set this is a proxy for the covering radius
    (worst-case query→nearest-place distance): adjacent tile centroids are
    one tile apart, so covering radius ≈ half-diagonal ≤ nearest-neighbor
    spacing for aspect ratios ≤ ~1.4.  Callers use it to size the kNN
    ring (:func:`auto_ring`, the flagship's grid pick); it does NOT bound
    the covering radius of an arbitrary set, whose voids can be far wider
    (two pairs of places 300 km apart have a 51.5 km spacing).

    Exact grid-bucketed search, ~O(n log n) on the driver: the points are
    bucketed at the coarsest resolution with at least n/2 distinct cells,
    and each point is compared only with the points of its 1-ring.  A point
    is settled when its ring minimum is ≤ the out-of-ring lower bound the
    kNN guard uses (:func:`guard_km_col`, safety margin included) — no
    point outside the ring can then be nearer.  Unsettled points retry one
    level coarser; those still unsettled at :data:`_SPACING_RES_LO`, or at
    a level whose ring scan would cost as much as a brute scan of them
    (dense clusters near a pole), take the chunked O(|rest|·n) scan (at
    most ``chunk`` query rows per batch).  Only the max is returned, so an
    unsettled point whose ring minimum is already ≤ the largest settled
    spacing is dropped: it cannot raise the max.  Every pair distance is
    the same haversine expression as the brute scan, so the result is
    identical to it (pinned by tests/test_spacing.py against the O(n²)
    reference).
    Measured on a 4-core host: 0.02 s vs 3.5 s for the brute scan at the
    flagship benchmark's 8,000 villages; 0.1 s vs 26 s at 20 k uniform
    global points; 1.1 s at 200 k.

    Exact coordinate DUPLICATES are dropped first (r6): a duplicated point
    adds nothing to coverage but zeroes every naive nearest-other distance —
    measured on a 4× supplier table (place coords are mod-997 products, so
    any table beyond 997 rows duplicates every point): spacing read 0,
    auto_ring bailed to its degenerate (res, 1) pick, and the kNN bench row
    went 23× as ~every query paid the full-array brute fold.  Points with a
    NaN coordinate are dropped too (they have no distance to anything).
    """
    pts = places_pdf[[lat_col, lon_col]].dropna().drop_duplicates()
    lat_deg = pts[lat_col].to_numpy(dtype=np.float64)
    lon_deg = pts[lon_col].to_numpy(dtype=np.float64)
    n = lat_deg.size
    if n < 2:
        return math.inf
    lat, lon = np.radians(lat_deg), np.radians(lon_deg)
    coslat = np.cos(lat)

    # coarsest level with ≥ n/2 distinct cells (the count is monotone in res)
    lo_res, hi_res = _SPACING_RES_LO, grid.MAX_RES
    while lo_res < hi_res:
        mid = (lo_res + hi_res) // 2
        if 2 * np.unique(grid.cell_of(lat_deg, lon_deg, mid)).size >= n:
            hi_res = mid
        else:
            lo_res = mid + 1

    # ``worst`` only grows and is a lower bound on the result, so a point
    # whose ring minimum (an upper bound on its own spacing) is ≤ it can
    # never raise it and is dropped unsettled
    worst = 0.0
    todo, ub = np.arange(n), np.full(n, np.inf)
    for res in range(lo_res, _SPACING_RES_LO - 1, -1):
        if todo.size == 0:
            break
        cells = grid.cell_of(lat_deg, lon_deg, res)
        order = np.argsort(cells, kind="stable")
        ring = grid.k_ring(cells[todo], 1)
        lo = np.searchsorted(cells[order], ring, "left")
        hi = np.searchsorted(cells[order], ring, "right")
        cnt = np.where(ring >= 0, hi - lo, 0)
        if cnt.sum() >= todo.size * n:  # no cheaper than the brute scan
            break
        ub = _ring_min_km(todo, lo, cnt, order, lat, lon, coslat)
        ok = ub <= _guard_km_np(lat_deg[todo], res=res, k=1)
        if ok.any():
            worst = max(worst, float(ub[ok].max()))
        keep = ~ok & (ub > worst)
        todo, ub = todo[keep], ub[keep]
    # brute scan of the rest, largest upper bound first, in batches that
    # double up to ``chunk`` rows: the first small batches usually lift
    # ``worst`` past every remaining bound
    rank = np.argsort(-ub, kind="stable")
    todo, ub = todo[rank], ub[rank]
    i0, batch = 0, 64
    while i0 < todo.size and ub[i0] > worst:  # sorted: later ones can't either
        i1 = i0 + min(batch, chunk)
        worst = max(worst, float(
            _brute_nn_km(todo[i0:i1], lat, lon, coslat).max()))
        i0, batch = i1, 2 * batch
    return worst


def auto_ring(places_pdf, *, lat_col: str = "latitude",
              lon_col: str = "longitude", margin: float = 2.5,
              max_k: int = 4, res_lo: int = 4, res_hi: int = 16,
              max_explode_rows: int = 4_000_000) -> tuple[int, int]:
    """Pick (res, k) minimizing expected per-query candidate work.

    The per-row cost of the ring path is ~|candidate array| haversines
    (higher-order ``transform`` is interpreted per element), and the array
    size is density × step² × (2k+1)².  Exactness never depends on this
    choice — the guard routes unsettled rows to the exact fallback — but
    the settled fraction does: the guard must exceed the worst-case
    query→nearest-place distance.  That covering radius is proxied by
    ``max_nn_spacing_km × margin``; margin defaults to 2.5 because VOIDS in
    a non-tiling place set are bigger than the inter-place spacing
    (measured on the 1 k-place synthetic fixture: voids ≈ 2.3× spacing —
    with margin 1.3 most rows failed the guard and paid ring+brute BOTH,
    19.9 s; at guard ≥ 2.3× spacing the sweep plateaus at ~2.4 s).

    A fixed res is a footgun in both directions (round-5 sweep, 100 k
    queries × 1 k places, sf0.1/32 cores, noop-measured): res 9 → 39 km
    cells → ~100-candidate arrays → 5-8 s; res 7 → 156 km cells → 38 s;
    guard-sufficient fine-res picks (res 11 k 2 / res 12 k 3-4) → 2.4-2.5 s.
    Exactness at any pick is oracle-pinned by q:geo_knn_cells.

    The spacing comes from the driver-side grid-bucketed search of
    :func:`max_nn_spacing_km` (~O(n log n): 0.02 s at 8,000 places, ~1 s at
    the global cities500's ~200 k) — places are pandas-resident by
    contract.  ``max_explode_rows`` caps the small side's (2k+1)² ring
    explosion; ``max_k`` defaults to 4 because measured
    per-row cost grows with ring size beyond what the candidate-array
    model captures (res 13 k 7 → 3.7 s vs res 12 k 4 → 2.5 s at equal
    modeled candidates).
    """
    spacing = max_nn_spacing_km(places_pdf, lat_col=lat_col, lon_col=lon_col)
    if not math.isfinite(spacing) or spacing <= 0:
        return grid.DEFAULT_RES, 1
    need = spacing * margin
    max_lat = float(np.abs(places_pdf[lat_col].to_numpy()).max())
    n = len(places_pdf)
    best: tuple[float, int, int] | None = None
    for res in range(res_lo, res_hi + 1):
        step = min_cell_km(res, max_lat)
        k = max(1, math.ceil(need / (step * _GUARD_SAFETY)))
        if k > max_k or n * (2 * k + 1) ** 2 > max_explode_rows:
            continue
        # expected candidates/row ∝ ring AREA (the uniform place density is
        # a loop-invariant factor — it cannot move the argmin, so it is not
        # computed)
        cost = (step * (2 * k + 1)) ** 2
        if best is None or cost < best[0]:
            best = (cost, res, k)
    if best is None:  # spacing too large for max_k at any res: coarsest wins
        return res_lo, max_k
    return best[1], best[2]


def _places_side(places_pdf, place_lat: str, place_lon: str,
                 place_cols: list[str] | None):
    """(places, fields): one place per distinct coordinate, keeping the
    min-tiebreak row, and the candidate struct's field → column map (plat,
    plon, then ``tb`` — the first place column, the tie-break — then the
    payload).

    The reduction is EXACT for the 1-NN joins here: every query's distance
    to coordinate twins is identical, and ``_best_over`` breaks ties on
    ``tb`` ascending (struct array_min compares (d, tb, …)
    lexicographically; the tie-break is a unique key by caller contract),
    so among places sharing BOTH coordinates only the min-tiebreak row can
    ever win — pinned by test_spatial_joins.  Duplicate-bearing tables
    otherwise multiply every candidate array and the brute-fallback array
    by the duplication factor (the r6 4×-supplier bench: place coords are
    mod-997 products, so 4 000 suppliers put 4 copies on every point — kNN
    row 23× slower)."""
    if place_cols is None:
        place_cols = [c for c in places_pdf.columns if c not in (place_lat, place_lon)]
    if places_pdf.duplicated([place_lat, place_lon]).any():
        places_pdf = (places_pdf.sort_values(place_cols[0], kind="mergesort")
                      .drop_duplicates([place_lat, place_lon], keep="first")
                      .sort_index())
    return places_pdf, {"plat": place_lat, "plon": place_lon,
                        "tb": place_cols[0], **{c: c for c in place_cols[1:]}}


def _output(out: DataFrame, queries: DataFrame,
            fields: dict[str, str]) -> DataFrame:
    return out.select(
        *queries.columns,
        F.col("__best.tb").alias(fields["tb"]),
        *[F.col(f"__best.{c}").alias(c) for c in list(fields)[3:]],
        F.col("__best.d").alias("knn_dist_km"),
    )


def _best_over(array_col: str, lat_col: str, lon_col: str,
               fields: dict[str, str]) -> Column:
    dist_sql = haversine_sql(lat_col, lon_col, "p.plat", "p.plon")
    payload = ", ".join(f"p.{f} AS {f}" for f in list(fields)[2:])
    return F.expr(
        f"array_min(transform({array_col}, p -> struct({dist_sql} AS d, {payload})))")


def knn_join(spark: SparkSession, queries: DataFrame, places_pdf, *,
             query_id: str, lat_col: str = "lat", lon_col: str = "lon",
             place_lat: str = "latitude", place_lon: str = "longitude",
             place_cols: list[str] | None = None,
             res: int | str = "auto", k: int | None = None) -> DataFrame:
    """Exact nearest-place join: one output row per query row, ONE narrow plan.

    Output = all ``queries`` columns + ``place_cols`` + ``knn_dist_km``.
    Ties broken by the first column of ``place_cols`` (ascending) — callers
    should pass a unique key first (e.g. geoname_id), mirroring the
    deterministic tie rule used throughout the reference (min geoname_id,
    enhance_data.py:279-290).

    ``k`` is the candidate ring radius; rows whose in-ring nearest fails the
    per-row exactness guard (or that have no in-ring candidate) are resolved
    against the full places array inside the same CASE expression — exact by
    definition, evaluated only for that residual fraction.

    ``res="auto"`` (default) derives BOTH res and k from the places
    table's measured nearest-neighbor spacing (:func:`auto_ring`) — a
    fixed res is wrong in both directions depending on place density (see
    auto_ring's measured numbers).  Passing k with res="auto" raises
    (silently ignoring it would hand back a different ring than asked
    for); pin an int res to control k (default 1).
    """
    places_pdf, fields = _places_side(places_pdf, place_lat, place_lon,
                                      place_cols)
    if res == "auto":
        if k is not None:
            raise ValueError("res='auto' derives BOTH res and k from the "
                             "place spacing; pass an explicit res to pin k")
        res, k = auto_ring(places_pdf, lat_col=place_lat, lon_col=place_lon)
    elif k is None:
        k = 1
    row, cell = _kring_rows(places_pdf, lat_col=place_lat,
                            lon_col=place_lon, res=res, k=k)
    grouped = _candidate_arrays(spark, places_pdf, row, cell, fields)

    # one-row DF carrying ALL places as one array — the exact fallback
    # operand, joined only to the rows the guard does not settle: the
    # transform folds run outside whole-stage codegen, so every row that
    # carries the array copies it at each row boundary (at 8,000 places a
    # copy to every row cost 0.43 s per 4,800 rows).  Settled rows carry a
    # null.  The cap is the BROADCAST size of the places table, the same
    # for every kNN variant here; beyond it, switch to a cell-bucketed
    # shuffle join on the k-ring, the fallback residual routing through
    # per-row nearest cells rather than a global array.
    n = len(places_pdf)
    all_places = _candidate_arrays(
        spark, places_pdf, np.arange(n), np.zeros(n, dtype=np.int64), fields,
        cells=np.zeros(1, dtype=np.int64)).select(
            F.col("__places").alias("__all"))

    ring = (queries.join(F.broadcast(grouped),
                         cell_expr(lat_col, lon_col, res) == grouped["cell"], "left")
            .withColumn("__rb", _best_over("__places", lat_col,
                                           lon_col, fields))
            .drop("cell", "__places"))
    guard = guard_km_col(F.col(lat_col), res=res, k=k)
    settled = F.col("__rb").isNotNull() & (F.col("__rb.d") <= guard)
    out = ring.join(F.broadcast(all_places), ~settled, "left")
    brute_best = _best_over("__all", lat_col, lon_col, fields)
    return _output(out.withColumn("__best", F.when(settled, F.col("__rb"))
                                  .otherwise(brute_best)),
                   queries, fields)


def knn_join_static(spark: SparkSession, queries: DataFrame, places_pdf, *,
                    query_id: str, lat_col: str = "lat", lon_col: str = "lon",
                    place_lat: str = "latitude", place_lon: str = "longitude",
                    place_cols: list[str] | None = None,
                    res: int = grid.DEFAULT_RES, k: int = 1) -> DataFrame:
    """Single-pass exact kNN as a *pure narrow plan* — zero shuffle, no
    fallback branch.

    Valid only where every query's true nearest place lies in its k-ring
    within the ring guard (:func:`guard_km_col`); the max nearest-neighbour
    spacing (:func:`max_nn_spacing_km`) does not show that: it is blind to
    voids between clusters.  Elsewhere a query with no ring candidate is
    dropped and a farther in-ring candidate is taken silently;
    :func:`knn_join` is exact everywhere.

    Plan shape: the small side is grouped per covering cell on the driver
    into an ``array<struct(lat, lon, payload…)>`` and broadcast (no
    aggregate, no exchange anywhere in the plan); each query row joins
    its own cell's candidate array (1 row in → 1 row out — NO explode) and
    picks the nearest with ``array_min(transform(...))`` in whole-stage
    codegen.  Streaming/foreachBatch-safe (no actions).
    """
    places_pdf, fields = _places_side(places_pdf, place_lat, place_lon,
                                      place_cols)
    row, cell = _kring_rows(places_pdf, lat_col=place_lat,
                            lon_col=place_lon, res=res, k=k)
    grouped = _candidate_arrays(spark, places_pdf, row, cell, fields)

    joined = queries.join(F.broadcast(grouped),
                          cell_expr(lat_col, lon_col, res) == grouped["cell"], "inner")

    best = _best_over("__places", lat_col, lon_col, fields)
    return _output(joined.withColumn("__best", best), queries, fields)
