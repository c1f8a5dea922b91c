"""Point-in-polygon join: cell prefilter + exact vectorized refinement.

The extract-stage semantic of the reference (SURVEY.md §2.3 J9): a point is
assigned the admin polygon containing it.  Scalable plan:

1. driver-side: expand each polygon (small side: ~10^4 admin polygons) into
   the grid cells covering its bbox → (cell, row, poly_id, attrs…) table,
   broadcast (``row``: the polygon's row in the vertex table of step 3);
2. points (10^12 side) compute their cell in Column algebra and broadcast
   equi-join → candidate (point, poly_id) pairs.  Non-overlapping admin
   tilings yield ~1 candidate per point (plus bbox false positives);
3. exact refinement inside an Arrow-batched pandas UDF: the driver packs the
   polygons into one CSR vertex table (:class:`pip.PolygonTable`, no bigger
   than their WKB), broadcast once per call; each batch of candidate pairs
   is tested in one vectorized pass — bbox test per pair, edge expansion
   over the survivors, crossing parity — with no per-row or per-polygon
   Python and no executor-side cache.

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


def _cover(bounds: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """(cell, row): the cells covering the bbox of each row of ``bounds``
    ((lon_min, lat_min, lon_max, lat_max) per row), rows in order and each
    row's cells row-major."""
    lon_min, lat_min, lon_max, lat_max = bounds.T
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
    row = np.repeat(np.arange(len(n_cells)), n_cells)
    # position of each cell within its row's rows × cols block
    t = np.arange(int(n_cells.sum())) - np.repeat(np.cumsum(n_cells) - n_cells,
                                                  n_cells)
    return (grid.make_cell(res, r0[row] + t // n_c[row], c0[row] + t % n_c[row]),
            row)


def polygon_cells_pdf(polys_pdf: pd.DataFrame, *, id_col: str,
                      wkb_col: str = "geometry_wkb",
                      res: int = grid.DEFAULT_RES) -> pd.DataFrame:
    """(cell, poly_id) covering table — driver-side numpy, small side only.

    Row for row what a :func:`grid.covering_cells` call per polygon bbox
    gives (same floor/clip arithmetic, same row-major cell order), built in
    one numpy pass: only the bboxes are read from the WKB
    (:func:`wkb.bounds_array`).  The id column keeps its dtype.
    """
    cell, row = _cover(wkb.bounds_array(polys_pdf[wkb_col]), res)
    return pd.DataFrame({"cell": cell, id_col: polys_pdf[id_col].to_numpy()[row]})


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

    # decoded once: the vertex table's bboxes give the cover (NaN: a
    # geometry without points, (0, 0) as in wkb.bounds_array), and the cover
    # carries each polygon's table row, so the kernel needs no id lookup,
    # and its id and attributes, so no second join fetches them
    table = pip.PolygonTable.from_wkb(polys_pdf[wkb_col])
    cell, row = _cover(np.nan_to_num(table.bbox), res)
    cover = polys_pdf[[id_col, *attr_cols]].iloc[row].reset_index(drop=True)
    cover.insert(0, "__row", row)
    cover.insert(0, "cell", cell)
    cover = spark.createDataFrame(cover)
    bc = spark.sparkContext.broadcast(table)

    @F.pandas_udf(BooleanType())
    def contains_udf(row: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(bc.value.contains(row.to_numpy(),
                                           lon.to_numpy(dtype=np.float64),
                                           lat.to_numpy(dtype=np.float64)))

    cand = points.join(F.broadcast(cover),
                       cell_expr(lat_col, lon_col, res) == cover["cell"], "inner")
    hit = (cand.filter(contains_udf(F.col("__row"), F.col(lon_col), F.col(lat_col)))
           .select(id_col, *points.columns, *attr_cols))
    if how == "inner":
        return hit
    if how == "left":
        if point_id is None:
            raise ValueError("how='left' requires point_id (unique point key)")
        return points.join(hit.select(point_id, id_col, *attr_cols),
                           point_id, "left")
    raise ValueError(f"unsupported how={how!r}")
