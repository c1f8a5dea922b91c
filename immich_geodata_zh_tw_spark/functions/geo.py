"""Spatial Column expressions — the kNN/PIP hot path stays in codegen.

The grid-cell encode (geo/grid.py layout) is plain arithmetic, so instead of a
pandas UDF we emit pure Column algebra: at 100 TB the encode runs inside
WholeStageCodegen with zero Python crossings.  ``cell_sql`` emits the same
arithmetic as ANSI SQL so DuckDB oracles can verify cell assignment exactly
(integer-for-integer).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..geo.grid import _RES_SHIFT, _ROW_SHIFT, DEFAULT_RES, MAX_RES
from ..geo.distance import haversine_col, haversine_sql  # noqa: F401 (re-export)


def cell_expr(lat: Column | str, lon: Column | str,
              res: int = DEFAULT_RES) -> Column:
    """int64 grid cell of (lat, lon) — null-safe, codegen-friendly.

    Exactly mirrors ``geo.grid.cell_of`` (same float arithmetic and clamping);
    null/NaN coordinates yield NULL.  Column NAMES build the same expression
    tree from SQL text in one JVM call (the Column algebra costs ~60 py4j
    round trips per encode, and a plan builds several).
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution must be in [0, {MAX_RES}], got {res}")
    nrows = 1 << res
    ncols = 2 << res
    if isinstance(lat, str) and isinstance(lon, str):
        lat, lon = f"`{lat}`", f"`{lon}`"
        return F.expr(
            f"CASE WHEN (({lat} IS NULL OR {lon} IS NULL) OR isnan({lat})) "
            f"OR isnan({lon}) THEN CAST(NULL AS BIGINT) ELSE "
            f"CAST({res} AS BIGINT) * {1 << _RES_SHIFT} + CAST(least(greatest("
            f"floor(({lat} + 90.0D) / 180.0D * {float(nrows)}D), 0), "
            f"{nrows - 1}) AS BIGINT) * {1 << _ROW_SHIFT} + CAST((("
            f"floor(({lon} + 180.0D) / 360.0D * {float(ncols)}D) % {ncols}) "
            f"+ {ncols}) % {ncols} AS BIGINT) END")
    lat = F.col(lat) if isinstance(lat, str) else lat
    lon = F.col(lon) if isinstance(lon, str) else lon
    row = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(nrows)))
    col = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(ncols)))
    row = F.least(F.greatest(row, F.lit(0)), F.lit(nrows - 1))
    col = ((col % F.lit(ncols)) + F.lit(ncols)) % F.lit(ncols)
    cell = (F.lit(res).cast("long") * F.lit(1 << _RES_SHIFT)
            + row.cast("long") * F.lit(1 << _ROW_SHIFT)
            + col.cast("long"))
    bad = lat.isNull() | lon.isNull() | F.isnan(lat) | F.isnan(lon)
    return F.when(bad, F.lit(None).cast("long")).otherwise(cell)


def cell_sql(lat: str, lon: str, res: int = DEFAULT_RES) -> str:
    """ANSI-SQL text of ``cell_expr`` for DuckDB oracle queries."""
    nrows = 1 << res
    ncols = 2 << res
    row = f"least(greatest(floor(({lat} + 90.0) / 180.0 * {float(nrows)}), 0), {nrows - 1})"
    col = f"((floor(({lon} + 180.0) / 360.0 * {float(ncols)}) % {ncols}) + {ncols}) % {ncols}"
    return (f"(CAST({res} AS BIGINT) * {1 << _RES_SHIFT} "
            f"+ CAST({row} AS BIGINT) * {1 << _ROW_SHIFT} "
            f"+ CAST({col} AS BIGINT))")


def in_bbox(lat: Column, lon: Column,
            bbox: tuple[float, float, float, float]) -> Column:
    """Bbox predicate — pushed down to the parquet scan by Catalyst."""
    lat_min, lat_max, lon_min, lon_max = bbox
    return ((lat >= F.lit(lat_min)) & (lat <= F.lit(lat_max))
            & (lon >= F.lit(lon_min)) & (lon <= F.lit(lon_max)))
