"""Nearest-neighbor (k=1) naming join — the Immich runtime semantic.

Reference semantic: a photo's (lat, lon) is matched to the nearest cities500
point (reference README.md:103; the reference *constructs* that point table,
one row per village centroid, so k=1 lands on the right village).  At 10^12
pages a cross join is impossible.  :class:`NearestPlace` holds the small
places table (~10^4 rows, broadcast-sized by construction) as a cell-sorted
CSR index of each place's k-ring cells, plus the place coordinates:

1. **ring pick** (:meth:`NearestPlace.ring`): a query's own grid cell
   selects the places whose k-ring covers it, and the min (haversine km,
   place row) wins — vectorized over (query, place) pairs, in chunks;
2. **exactness guard** (per row, latitude-aware, :func:`_guard_km_np`): the
   in-ring nearest is provably the global nearest iff its distance is ≤ the
   minimum possible distance to any point outside the ring;
3. **full scan** (:meth:`NearestPlace.nearest`): a row failing the guard,
   or with no in-ring place, takes the min over every place.

:func:`knn_join` and :func:`knn_join_static` run it as ONE ``mapInPandas``
over one broadcast of that object: 1 row in → 1 row out, no join, no
exchange, no action.  The flagship (``plans/geocode_kernel.py``) runs the
same object inside its Arrow pass.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import DoubleType, StructField, StructType

from ..geo import grid
from ..geo.distance import haversine_np

_DEG_KM = math.pi / 180.0 * 6371.0088  # km per degree of great-circle arc

#: multiplicative safety margin on the out-of-ring distance lower bound:
#: the planar small-angle bound overestimates the true haversine distance by
#: O(Δλ²) relative (≤ ~1e-5 at city scales); 1e-3 makes the guard airtight
#: at the cost of routing a negligible extra fraction to the full scan.
_GUARD_SAFETY = 0.999

#: :func:`auto_ring`'s search space and guard sizing (see its docstring):
#: the guard is ``spacing × _RING_MARGIN``, ``k`` stays ≤ ``_RING_MAX_K``,
#: res runs ``_RING_RES_LO``..``_RING_RES_HI``, and the places' ring
#: explosion stays ≤ ``_RING_MAX_EXPLODE_ROWS`` rows
_RING_MARGIN = 2.5
_RING_MAX_K = 4
_RING_RES_LO, _RING_RES_HI = 4, 16
_RING_MAX_EXPLODE_ROWS = 4_000_000


def _kring_rows(lat, lon, *, res: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(row, cell) per (place, covering cell): ``row`` indexes the places
    at (``lat``, ``lon``), ``cell`` is a cell of the place's k-ring."""
    rings = grid.k_ring(grid.cell_of(lat, lon, res), k)
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
    row, cell = _kring_rows(places_pdf[lat_col].to_numpy(),
                            places_pdf[lon_col].to_numpy(), res=res, k=k)
    out = places_pdf.iloc[row].reset_index(drop=True)
    out["cell"] = cell
    return spark.createDataFrame(out)


def min_cell_km(res: int, max_abs_lat: float) -> float:
    """Smallest ground extent of one cell step at ``res`` within ±max_abs_lat."""
    lat_step, lon_step = grid.cell_size_deg(res)
    return min(lat_step, lon_step * math.cos(math.radians(max_abs_lat))) * _DEG_KM


def _guard_km_np(lat, *, res: int, k: int) -> np.ndarray:
    """Per-row lower bound (km) on the distance from a query at ``lat`` to
    any point OUTSIDE its k-ring at ``res``.

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
    eff_lat = np.minimum(np.abs(lat) + (k + 1) * lat_step, 90.0)
    step = np.minimum(lat_step, lon_step * np.cos(np.radians(eff_lat)))
    return (k * _DEG_KM * _GUARD_SAFETY) * step


def _pair_km(lat_a, lon_a, cos_a, lat_b, lon_b, cos_b):
    """Haversine (km) of radian coordinates with precomputed ``cos(lat)``;
    broadcasts, and gives the same bits for a pair however it is batched."""
    a = (np.sin((lat_a - lat_b) / 2) ** 2
         + cos_a * cos_b * np.sin((lon_a - lon_b) / 2) ** 2)
    return 2.0 * 6371.0088 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


#: coarsest grid level of the spacing search: below it the out-of-ring bound
#: degenerates (the ring spans tens of degrees of latitude) and the scan
#: budget would send the residue to the brute scan anyway
_SPACING_RES_LO = 4
#: the spacing search's brute-scan batch cap (query rows per batch)
_SPACING_CHUNK = 2048


def _ring_min_km(q, lo, cnt, order, lat, lon, coslat) -> np.ndarray:
    """Per query point ``q[i]``: min distance to the OTHER points of its
    k-ring, where ring cell ``c`` of query ``i`` holds the points
    ``order[lo[i, c]:lo[i, c] + cnt[i, c]]``; ``inf`` if there are none.
    Pairs are expanded in :func:`grid.pairs` chunks; a query's ring cells
    may span two chunks, so each chunk's minima fold into the running one."""
    out = np.full(q.size, np.inf)
    for f, pos in grid.pairs(lo.ravel(), cnt.ravel()):
        if not f.size:
            continue
        i = f // cnt.shape[1]
        qi, j = q[i], order[pos]
        d = _pair_km(lat[qi], lon[qi], coslat[qi], lat[j], lon[j], coslat[j])
        d[j == qi] = np.inf
        starts = np.flatnonzero(np.diff(i, prepend=-1))
        out[i[starts]] = np.minimum(out[i[starts]],
                                    np.minimum.reduceat(d, starts))
    return out


def _brute_nn_km(q, lat, lon, coslat) -> np.ndarray:
    """Per query point ``q[i]``: min distance to every other point."""
    d = _pair_km(lat[q, None], lon[q, None], coslat[q, None],
                 lat[None, :], lon[None, :], coslat[None, :])
    d[np.arange(q.size), q] = np.inf  # self-distance
    return d.min(axis=1)


def max_nn_spacing_km(places_pdf, *, lat_col: str = "latitude",
                      lon_col: str = "longitude") -> float:
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
    kNN guard uses (:func:`_guard_km_np`, safety margin included) — no
    point outside the ring can then be nearer.  Unsettled points retry one
    level coarser; those still unsettled at :data:`_SPACING_RES_LO`, or at
    a level whose ring scan would cost as much as a brute scan of them
    (dense clusters near a pole), take the chunked O(|rest|·n) scan (at
    most :data:`_SPACING_CHUNK` query rows per batch).  Only the max is
    returned, so an unsettled point whose ring minimum is already ≤ the
    largest settled spacing is dropped: it cannot raise the max.  Every
    pair distance is the same haversine expression as the brute scan, so
    the result is identical to it (pinned by tests/test_spacing.py against
    the O(n²) reference).
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
    # double up to _SPACING_CHUNK rows: the first small batches usually lift
    # ``worst`` past every remaining bound
    rank = np.argsort(-ub, kind="stable")
    todo, ub = todo[rank], ub[rank]
    i0, batch = 0, 64
    while i0 < todo.size and ub[i0] > worst:  # sorted: later ones can't either
        i1 = i0 + min(batch, _SPACING_CHUNK)
        worst = max(worst, float(
            _brute_nn_km(todo[i0:i1], lat, lon, coslat).max()))
        i0, batch = i1, 2 * batch
    return worst


def auto_ring(places_pdf, *, lat_col: str = "latitude",
              lon_col: str = "longitude") -> tuple[int, int]:
    """Pick (res, k) minimizing expected per-query candidate work.

    The per-row cost of the ring pick is ~|ring places| haversines, and
    that count is density × step² × (2k+1)².  Exactness never depends on
    this choice — the guard routes unsettled rows to the full scan — but
    the settled fraction does: the guard must exceed the worst-case
    query→nearest-place distance.  That covering radius is proxied by
    ``max_nn_spacing_km × _RING_MARGIN``; the margin is 2.5 because VOIDS in
    a non-tiling place set are bigger than the inter-place spacing
    (measured on the 1 k-place synthetic fixture: voids ≈ 2.3× spacing —
    with margin 1.3 most rows failed the guard and paid ring+brute BOTH,
    19.9 s; at guard ≥ 2.3× spacing the sweep plateaus at ~2.4 s).

    A fixed res is a footgun in both directions (round-5 sweep of the
    earlier Catalyst ring pick, 100 k queries × 1 k places, sf0.1/32 cores,
    noop-measured): res 9 → 39 km
    cells → ~100-candidate arrays → 5-8 s; res 7 → 156 km cells → 38 s;
    guard-sufficient fine-res picks (res 11 k 2 / res 12 k 3-4) → 2.4-2.5 s.
    Exactness at any pick is oracle-pinned by q:geo_knn_cells.

    The spacing comes from the driver-side grid-bucketed search of
    :func:`max_nn_spacing_km` (~O(n log n): 0.02 s at 8,000 places, ~1 s at
    the global cities500's ~200 k) — places are pandas-resident by
    contract.  ``_RING_MAX_EXPLODE_ROWS`` caps the small side's (2k+1)²
    ring explosion; ``_RING_MAX_K`` is 4 because measured
    per-row cost grows with ring size beyond what the candidate-array
    model captures (res 13 k 7 → 3.7 s vs res 12 k 4 → 2.5 s at equal
    modeled candidates).
    """
    spacing = max_nn_spacing_km(places_pdf, lat_col=lat_col, lon_col=lon_col)
    if not math.isfinite(spacing) or spacing <= 0:
        return grid.DEFAULT_RES, 1
    need = spacing * _RING_MARGIN
    max_lat = float(np.abs(places_pdf[lat_col].to_numpy()).max())
    n = len(places_pdf)
    best: tuple[float, int, int] | None = None
    for res in range(_RING_RES_LO, _RING_RES_HI + 1):
        step = min_cell_km(res, max_lat)
        k = max(1, math.ceil(need / (step * _GUARD_SAFETY)))
        if k > _RING_MAX_K or n * (2 * k + 1) ** 2 > _RING_MAX_EXPLODE_ROWS:
            continue
        # expected candidates/row ∝ ring AREA (the uniform place density is
        # a loop-invariant factor — it cannot move the argmin, so it is not
        # computed)
        cost = (step * (2 * k + 1)) ** 2
        if best is None or cost < best[0]:
            best = (cost, res, k)
    if best is None:  # spacing too large for _RING_MAX_K at any res
        return _RING_RES_LO, _RING_MAX_K
    return best[1], best[2]


def _places_side(places_pdf, place_lat: str, place_lon: str,
                 place_cols: list[str] | None):
    """(places, place_cols): one place per distinct coordinate, keeping the
    min-tiebreak row, sorted by the tie-break (the first place column,
    ascending) with a fresh index, so the lower row wins a distance tie.
    A place with a NULL or NaN coordinate, which is no distance from any
    query, is dropped.

    The reduction is EXACT for the 1-NN joins here: every query's distance
    to coordinate twins is identical, so among places sharing BOTH
    coordinates only the min-tiebreak row can ever win (the tie-break is a
    unique key by caller contract) — pinned by test_spatial_joins.
    Duplicate-bearing tables otherwise multiply every ring and the full
    scan by the duplication factor (the r6 4×-supplier bench: place coords
    are mod-997 products, so 4 000 suppliers put 4 copies on every point —
    kNN row 23× slower)."""
    if place_cols is None:
        place_cols = [c for c in places_pdf.columns if c not in (place_lat, place_lon)]
    places = (places_pdf.dropna(subset=[place_lat, place_lon])
              .sort_values(place_cols[0], kind="mergesort")
              .drop_duplicates([place_lat, place_lon], keep="first")
              .reset_index(drop=True))
    return places, place_cols


def take_or_null(values: np.ndarray, row: np.ndarray):
    """``values[row]``, null where ``row`` is -1; integers stay exact (a
    nullable integer array, not a float one)."""
    if values.dtype.kind in "iu":
        values = pd.array(values)
    return pd.api.extensions.take(values, row, allow_fill=True)


class NearestPlace:
    """The places at (``lat``, ``lon``) as the cells of each place's k-ring
    at ``res``, sorted by cell, and their coordinates.  A place is its row:
    a distance tie goes to the lower row, so callers pass the places in
    tie-break order (:func:`_places_side`)."""

    def __init__(self, lat, lon, *, res: int, k: int):
        self.res, self.k = res, k
        self.lat = np.asarray(lat, dtype=np.float64)
        self.lon = np.asarray(lon, dtype=np.float64)
        row, cell = _kring_rows(self.lat, self.lon, res=res, k=k)
        self.cell, self.row = grid.sorted_by_cell(cell, row)

    def _pick(self, best, dist, lat, lon, q, j) -> None:
        """Per query ``q`` (ascending), the min (km, row) over places ``j``:
        a segmented min of the km, then the lowest row among its exact ties;
        no sort."""
        d = haversine_np(lat[q], lon[q], self.lat[j], self.lon[j])
        start = np.flatnonzero(np.diff(q, prepend=-1))
        low = np.minimum.reduceat(d, start)
        tie = d == np.repeat(low, np.diff(start, append=q.size))
        row = np.minimum.reduceat(np.where(tie, j, np.iinfo(np.int64).max), start)
        best[q[start]], dist[q[start]] = row, low

    def ring(self, lat: np.ndarray, lon: np.ndarray):
        """(place row, km) of each query's nearest place in its k-ring, the
        lower row on a distance tie; (-1, NaN) when the ring holds no place
        (a NaN coordinate has no cell)."""
        best, dist = np.full(lat.size, -1), np.full(lat.size, np.nan)
        cells = grid.cell_of(lat, lon, self.res)
        for i, pos in grid.pairs(*grid.runs(self.cell, cells)):
            self._pick(best, dist, lat, lon, i, self.row[pos])
        return best, dist

    def nearest(self, lat: np.ndarray, lon: np.ndarray):
        """(place row, km) of each query's nearest place: the ring pick,
        then a scan of every place for each row the ring guard does not
        settle; (-1, NaN) for a NaN coordinate or an empty table."""
        best, dist = self.ring(lat, lon)
        todo = np.flatnonzero(~(dist <= _guard_km_np(lat, res=self.res, k=self.k))
                              & ~np.isnan(lat + lon))
        for i, j in grid.pairs(np.zeros(todo.size, dtype=np.int64),
                               np.full(todo.size, self.lat.size)):
            self._pick(best, dist, lat, lon, todo[i], j)
        return best, dist


def _name_rows(spark: SparkSession, queries: DataFrame, places, place_cols,
               near: NearestPlace, *, lat_col: str, lon_col: str,
               ring_only: bool) -> DataFrame:
    """ONE ``mapInPandas`` over one broadcast of ``near`` and the places'
    ``place_cols``: every ``queries`` column, then ``place_cols`` and
    ``knn_dist_km`` of the place :meth:`NearestPlace.nearest` picks, null
    when there is none (``ring_only``: :meth:`NearestPlace.ring`'s, and a
    row without a ring place is dropped)."""
    values = places[place_cols]
    bc = spark.sparkContext.broadcast(
        (near, {c: values[c].to_numpy() for c in place_cols}))
    schema = StructType([
        *queries.schema.fields,
        *from_arrow_schema(pa.Schema.from_pandas(values, preserve_index=False)),
        StructField("knn_dist_km", DoubleType())])

    def batches(frames):
        near, vals = bc.value
        for pdf in frames:
            lat = pdf[lat_col].to_numpy(dtype=np.float64, na_value=np.nan)
            lon = pdf[lon_col].to_numpy(dtype=np.float64, na_value=np.nan)
            best, dist = (near.ring if ring_only else near.nearest)(lat, lon)
            if ring_only:
                keep = best >= 0
                pdf, best, dist = pdf[keep], best[keep], dist[keep]
            out = pdf.reset_index(drop=True)
            for c, v in vals.items():
                out[c] = take_or_null(v, best)
            out["knn_dist_km"] = dist
            yield out

    return queries.mapInPandas(batches, schema)


def knn_join(spark: SparkSession, queries: DataFrame, places_pdf, *,
             query_id: str, lat_col: str = "lat", lon_col: str = "lon",
             place_lat: str = "latitude", place_lon: str = "longitude",
             place_cols: list[str] | None = None,
             res: int | str = "auto", k: int | None = None) -> DataFrame:
    """Exact nearest-place join: one output row per query row, ONE
    ``mapInPandas`` running :meth:`NearestPlace.nearest`.

    Output = all ``queries`` columns + ``place_cols`` + ``knn_dist_km``.
    Ties broken by the first column of ``place_cols`` (ascending) — callers
    should pass a unique key first (e.g. geoname_id), mirroring the
    deterministic tie rule used throughout the reference (min geoname_id,
    enhance_data.py:279-290).  A query with a NULL or NaN coordinate, or
    any query against an empty places table, gets null place columns and a
    null ``knn_dist_km``.  ``query_id`` is not read.

    ``k`` is the candidate ring radius; rows whose in-ring nearest fails the
    per-row exactness guard (or that have no in-ring candidate) scan every
    place — exact by definition, paid only by that residual fraction.

    ``res="auto"`` (default) derives BOTH res and k from the places
    table's measured nearest-neighbor spacing (:func:`auto_ring`) — a
    fixed res is wrong in both directions depending on place density (see
    auto_ring's measured numbers).  Passing k with res="auto" raises
    (silently ignoring it would hand back a different ring than asked
    for); pin an int res to control k (default 1).
    """
    places, place_cols = _places_side(places_pdf, place_lat, place_lon,
                                      place_cols)
    if res == "auto":
        if k is not None:
            raise ValueError("res='auto' derives BOTH res and k from the "
                             "place spacing; pass an explicit res to pin k")
        res, k = auto_ring(places, lat_col=place_lat, lon_col=place_lon)
    elif k is None:
        k = 1
    near = NearestPlace(places[place_lat], places[place_lon], res=res, k=k)
    return _name_rows(spark, queries, places, place_cols, near,
                      lat_col=lat_col, lon_col=lon_col, ring_only=False)


def knn_join_static(spark: SparkSession, queries: DataFrame, places_pdf, *,
                    query_id: str, lat_col: str = "lat", lon_col: str = "lon",
                    place_lat: str = "latitude", place_lon: str = "longitude",
                    place_cols: list[str] | None = None,
                    res: int = grid.DEFAULT_RES, k: int = 1) -> DataFrame:
    """Ring-only kNN: :meth:`NearestPlace.ring` in ONE ``mapInPandas``, no
    guard and no full scan; a query with no place in its k-ring (a NULL or
    NaN coordinate included) is dropped.

    Exact only where every query's true nearest place lies in its k-ring
    within the ring guard (:func:`_guard_km_np`); the max nearest-neighbour
    spacing (:func:`max_nn_spacing_km`) does not show that: it is blind to
    voids between clusters.  Elsewhere a farther in-ring place is taken
    silently; :func:`knn_join` is exact everywhere.  Output columns as
    :func:`knn_join`'s.
    """
    places, place_cols = _places_side(places_pdf, place_lat, place_lon,
                                      place_cols)
    near = NearestPlace(places[place_lat], places[place_lon], res=res, k=k)
    return _name_rows(spark, queries, places, place_cols, near,
                      lat_col=lat_col, lon_col=lon_col, ring_only=True)
