"""Point-in-polygon join: a grid-cell cover, then the exact even-odd test,
in one vectorized pass.

The extract-stage semantic of the reference (SURVEY.md §2.3 J9): a point is
assigned the admin polygon containing it.  :class:`PolygonCover` holds the
small side (~10^4 admin polygons) as one CSR vertex table
(:class:`pip.PolygonTable`, decoded once from the WKB, no bigger than it)
and the grid cells covering each polygon's bbox, sorted by cell.  Its
:meth:`PolygonCover.hits` is the filter → refine split: a point's own cell
selects the candidate polygons from the cover (non-overlapping admin
tilings give ~1 per point, plus bbox false positives), and
``PolygonTable.contains`` keeps the ones containing it — a bbox test per
pair, edge expansion over the survivors, crossing parity — with no per-row
or per-polygon Python.

:func:`pip_join` runs it as ONE ``mapInPandas`` over one broadcast of the
cover: no join and no exchange, the big side never shuffled.  The flagship
(``plans/geocode_kernel.py``) runs the same cover inside its Arrow pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

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


class PolygonCover:
    """A :class:`pip.PolygonTable` and the cells at ``res`` covering each
    geometry's bbox (NaN, a geometry without points: (0, 0) as in
    ``wkb.bounds_array``), as (cell, row) sorted by cell."""

    def __init__(self, table: pip.PolygonTable, res: int):
        self.table, self.res = table, res
        self.cell, self.row = grid.sorted_by_cell(
            *_cover(np.nan_to_num(table.bbox), res))

    def hits(self, lat: np.ndarray, lon: np.ndarray):
        """(point, row): the index of each point, ascending, that lies in
        geometry ``row`` of the table, once per containing geometry; a NaN
        coordinate has no cell, so no hit."""
        points, rows = [np.zeros(0, dtype=np.int64)], [self.row[:0]]
        cells = grid.cell_of(lat, lon, self.res)
        for i, pos in grid.pairs(*grid.runs(self.cell, cells)):
            row = self.row[pos]
            hit = self.table.contains(row, lon[i], lat[i])
            points.append(i[hit])
            rows.append(row[hit])
        return np.concatenate(points), np.concatenate(rows)


def pip_join(spark: SparkSession, points: DataFrame, polys_pdf: pd.DataFrame, *,
             lat_col: str = "lat", lon_col: str = "lon",
             id_col: str = "poly_id", wkb_col: str = "geometry_wkb",
             attr_cols: list[str] | None = None,
             res: int = grid.DEFAULT_RES) -> DataFrame:
    """Assign each point its containing polygon's id + attributes: ONE
    ``mapInPandas`` running :meth:`PolygonCover.hits` over one broadcast of
    the cover and the polygons' ``id_col`` and ``attr_cols`` values.

    Output = ``id_col``, all ``points`` columns, ``attr_cols``.  A point in
    no polygon (or with a NULL coordinate) is dropped.  Polygons must not
    overlap (admin tilings don't); if they did, a point would emit one row
    per containing polygon.
    """
    if attr_cols is None:
        attr_cols = [c for c in polys_pdf.columns if c not in (id_col, wkb_col)]
    cover = PolygonCover(pip.PolygonTable.from_wkb(polys_pdf[wkb_col]), res)
    values = polys_pdf[[id_col, *attr_cols]]
    types = from_arrow_schema(pa.Schema.from_pandas(values, preserve_index=False))
    bc = spark.sparkContext.broadcast(
        (cover, {c: values[c].to_numpy() for c in values.columns}))
    schema = StructType([types[id_col], *points.schema.fields,
                         *(types[c] for c in attr_cols)])

    def batches(frames):
        cover, vals = bc.value
        for pdf in frames:
            point, row = cover.hits(
                pdf[lat_col].to_numpy(dtype=np.float64, na_value=np.nan),
                pdf[lon_col].to_numpy(dtype=np.float64, na_value=np.nan))
            out = pdf.take(point).reset_index(drop=True)
            out.insert(0, id_col, vals[id_col][row])
            for c in attr_cols:
                out[c] = vals[c][row]
            yield out

    return points.mapInPandas(batches, schema)
