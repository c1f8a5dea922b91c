"""Point-in-polygon join: cell prefilter + exact vectorized refinement.

The extract-stage semantic of the reference (SURVEY.md §2.3 J9): a point is
assigned the admin polygon containing it.  Scalable plan:

1. driver-side: expand each polygon (small side: ~10^4 admin polygons) into
   the grid cells covering its bbox → (cell, poly_id) table, broadcast;
2. points (10^12 side) compute their cell in Column algebra and broadcast
   equi-join → candidate (point, poly_id) pairs.  Non-overlapping admin
   tilings yield ~1 candidate per point (plus bbox false positives);
3. exact refinement inside an Arrow-batched pandas UDF: polygons ship to
   executors once as a Spark broadcast of raw WKB (pickle-cheap); each
   executor lazily prepares edge arrays (PreparedGeometry) and caches them
   process-wide, then tests whole batches vectorized (no per-row Python).

No shuffle touches the big side at any step — the only wide operation is the
broadcast itself.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions.geo import cell_expr
from ..geo import grid, pip, wkb

# executor-local cache: per-pip_join-call key → {poly_id: PreparedGeometry}.
# Keyed by a driver-side monotonic counter captured in the UDF closure (one
# key per pip_join call, never recycled), NOT ``id(bc.value)`` — Python
# object ids ARE recycled after GC, so a long-lived executor serving several
# pip_join calls could silently hit a stale entry and test points against the
# wrong polygon set (ADVICE.md round-1 item 3).  Bounded: oldest entries
# evicted beyond _CACHE_MAX.
import itertools

_PREPARED_CACHE: dict[int, dict] = {}
_CACHE_MAX = 8
_CALL_COUNTER = itertools.count()


def polygon_cells_pdf(polys_pdf: pd.DataFrame, *, id_col: str,
                      wkb_col: str = "geometry_wkb",
                      res: int = grid.DEFAULT_RES) -> pd.DataFrame:
    """(cell, poly_id) covering table — driver-side numpy, small side only.

    Row for row what a :func:`grid.covering_cells` call per polygon bbox
    gives (same floor/clip arithmetic, same row-major cell order), built in
    one numpy pass: only the bboxes are read from the WKB
    (:func:`wkb.bounds_array`).  The id column keeps its dtype.
    """
    lon_min, lat_min, lon_max, lat_max = wkb.bounds_array(polys_pdf[wkb_col]).T
    nrows = 1 << res
    ncols = 2 << res
    r0 = np.clip(np.floor((lat_min + 90.0) / 180.0 * nrows), 0, nrows - 1)
    r1 = np.clip(np.floor((lat_max + 90.0) / 180.0 * nrows - 1e-12), 0, nrows - 1)
    c0 = np.clip(np.floor((lon_min + 180.0) / 360.0 * ncols), 0, ncols - 1)
    c1 = np.clip(np.floor((lon_max + 180.0) / 360.0 * ncols - 1e-12), 0, ncols - 1)
    r0, c0 = r0.astype(np.int64), c0.astype(np.int64)
    n_r = np.maximum(r1.astype(np.int64) - r0 + 1, 0)
    n_c = np.maximum(c1.astype(np.int64) - c0 + 1, 0)
    n_cells = n_r * n_c
    poly = np.repeat(np.arange(len(n_cells)), n_cells)
    # position of each row within its polygon's row-major rows × cols block
    t = np.arange(int(n_cells.sum())) - np.repeat(np.cumsum(n_cells) - n_cells,
                                                  n_cells)
    return pd.DataFrame({
        "cell": grid.make_cell(res, r0[poly] + t // n_c[poly],
                               c0[poly] + t % n_c[poly]),
        id_col: np.repeat(polys_pdf[id_col].to_numpy(), n_cells),
    })


def pip_join(spark: SparkSession, points: DataFrame, polys_pdf: pd.DataFrame, *,
             lat_col: str = "lat", lon_col: str = "lon",
             id_col: str = "poly_id", wkb_col: str = "geometry_wkb",
             attr_cols: list[str] | None = None,
             res: int = grid.DEFAULT_RES, how: str = "inner",
             point_id: str | None = None) -> DataFrame:
    """Assign each point its containing polygon's id + attributes.

    ``how='inner'`` drops points in no polygon; ``'left'`` keeps them with
    null attributes (requires ``point_id``, a unique point key).  Polygons
    must not overlap (admin tilings don't); if they did, a point would emit
    one row per containing polygon.
    """
    if attr_cols is None:
        attr_cols = [c for c in polys_pdf.columns if c not in (id_col, wkb_col)]

    cover = spark.createDataFrame(polygon_cells_pdf(polys_pdf, id_col=id_col,
                                                    wkb_col=wkb_col, res=res))
    bc = spark.sparkContext.broadcast(
        {pid: bytes(buf) for pid, buf in zip(polys_pdf[id_col], polys_pdf[wkb_col])})
    call_key = next(_CALL_COUNTER)  # closure-captured, unique per call

    @F.pandas_udf(BooleanType())
    def contains_udf(pid: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        if call_key not in _PREPARED_CACHE and len(_PREPARED_CACHE) >= _CACHE_MAX:
            _PREPARED_CACHE.pop(next(iter(_PREPARED_CACHE)))
        cache = _PREPARED_CACHE.setdefault(call_key, {})
        out = np.zeros(len(pid), dtype=bool)
        lon_np = lon.to_numpy(dtype=np.float64)
        lat_np = lat.to_numpy(dtype=np.float64)
        # vectorize per distinct polygon within the batch.  Group rows by
        # polygon via ONE stable argsort + run-boundary split — the
        # per-unique boolean-mask form was O(|polys| × batch): with ~500
        # polygons present in every (round-robin-shuffled) 10 k-row batch
        # it allocated 500 full-batch masks per batch, measured r6 as the
        # dominant CPU of the flagship tail stage
        pid_np = pid.to_numpy()
        if len(pid_np) == 0:
            return pd.Series(out)
        order = np.argsort(pid_np, kind="stable")
        spid = pid_np[order]
        starts = np.flatnonzero(
            np.concatenate(([True], spid[1:] != spid[:-1])))
        for s, e in zip(starts, np.append(starts[1:], len(spid))):
            idx = order[s:e]
            p = spid[s]
            geom = cache.get(p)
            if geom is None:
                geom = cache[p] = pip.PreparedGeometry(bc.value[p])
            out[idx] = geom.contains(lon_np[idx], lat_np[idx])
        return pd.Series(out)

    pts = points.withColumn("__cell", cell_expr(F.col(lat_col), F.col(lon_col), res))
    cand = pts.join(F.broadcast(cover), pts["__cell"] == cover["cell"], "inner")
    hit = (cand.filter(contains_udf(F.col(id_col), F.col(lon_col), F.col(lat_col)))
           .drop("__cell", "cell"))

    if attr_cols:
        attrs = spark.createDataFrame(polys_pdf[[id_col, *attr_cols]])
        hit = hit.join(F.broadcast(attrs), id_col, "left")
    if how == "inner":
        return hit
    if how == "left":
        if point_id is None:
            raise ValueError("how='left' requires point_id (unique point key)")
        return points.join(hit.select(point_id, id_col, *attr_cols),
                           point_id, "left")
    raise ValueError(f"unsupported how={how!r}")
