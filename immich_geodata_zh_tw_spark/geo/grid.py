"""Integer grid-cell spatial index (H3-style), pure numpy.

The reference's runtime query is a nearest-distance (kNN, k=1) match of a photo
(lat, lon) against the cities500 point table (reference README.md:103); our
engine generates kNN candidates with a cell index + k-ring expansion instead of
a full cross join.  ``h3`` is not installed here, so we use an equal-angle
lat/lon grid with packed int64 cell ids — the same *architecture* (encode,
k-ring, parent/child, polygon covering) with a simpler cell shape.

Layout of a cell id (non-negative int64)::

    bits 58..62 : resolution r (0..28)
    bits 29..57 : row  = floor((lat + 90) / 180 * 2^r),   clamped to [0, 2^r-1]
    bits  0..28 : col  = floor((lon + 180) / 360 * 2^(r+1)) mod 2^(r+1)

At resolution r there are ``2^r`` latitude rows and ``2^(r+1)`` longitude
columns, so cells are roughly square in degree space.  Resolution 13 gives
cells of ~0.022° (~2.4 km N-S) — appropriate for village-level (admin_3) kNN
over Taiwan's 7,954-centroid table (reference meta_data/tw_geodata.csv).

All functions vectorize over numpy arrays and are deterministic.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 28
_RES_SHIFT = 58
_ROW_SHIFT = 29
_ROW_MASK = (1 << 29) - 1
_COL_MASK = (1 << 29) - 1

#: Default resolution for kNN naming (see module docstring).
DEFAULT_RES = 13


def _check_res(res: int) -> None:
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution must be in [0, {MAX_RES}], got {res}")


def cell_of(lat, lon, res: int = DEFAULT_RES):
    """Encode lat/lon (degrees) to an int64 cell id at ``res``.

    Accepts scalars or numpy arrays; NaN coordinates map to -1.
    """
    _check_res(res)
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    nrows = np.int64(1) << res
    ncols = np.int64(2) << res
    with np.errstate(invalid="ignore"):
        row = np.floor((lat + 90.0) / 180.0 * nrows)
        col = np.floor((lon + 180.0) / 360.0 * ncols)
    row = np.clip(row, 0, float(nrows - 1))
    # wrap longitude (e.g. lon=180 → col 0)
    col = np.mod(col, float(ncols))
    bad = np.isnan(lat) | np.isnan(lon)
    row = np.where(bad, 0.0, row)
    col = np.where(bad, 0.0, col)
    cell = (
        (np.int64(res) << _RES_SHIFT)
        | (row.astype(np.int64) << _ROW_SHIFT)
        | col.astype(np.int64)
    )
    out = np.where(bad, np.int64(-1), cell)
    return out if out.ndim else np.int64(out)


def cell_res(cell):
    return (np.asarray(cell, dtype=np.int64) >> _RES_SHIFT) & 0x1F


def cell_row(cell):
    return (np.asarray(cell, dtype=np.int64) >> _ROW_SHIFT) & _ROW_MASK


def cell_col(cell):
    return np.asarray(cell, dtype=np.int64) & _COL_MASK


def make_cell(res, row, col):
    """Pack (res, row, col) arrays into cell ids (no bounds checks)."""
    return (
        (np.int64(res) << _RES_SHIFT)
        | (np.asarray(row, dtype=np.int64) << _ROW_SHIFT)
        | np.asarray(col, dtype=np.int64)
    )


def cell_center(cell):
    """Return (lat, lon) arrays of cell centers (degrees)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell_res(cell)
    nrows = np.left_shift(np.int64(1), res).astype(np.float64)
    ncols = np.left_shift(np.int64(2), res).astype(np.float64)
    lat = (cell_row(cell) + 0.5) / nrows * 180.0 - 90.0
    lon = (cell_col(cell) + 0.5) / ncols * 360.0 - 180.0
    return lat, lon


def cell_bounds(cell):
    """Return (lat_min, lat_max, lon_min, lon_max) arrays for cells."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell_res(cell)
    nrows = np.left_shift(np.int64(1), res).astype(np.float64)
    ncols = np.left_shift(np.int64(2), res).astype(np.float64)
    row = cell_row(cell).astype(np.float64)
    col = cell_col(cell).astype(np.float64)
    lat_min = row / nrows * 180.0 - 90.0
    lat_max = (row + 1.0) / nrows * 180.0 - 90.0
    lon_min = col / ncols * 360.0 - 180.0
    lon_max = (col + 1.0) / ncols * 360.0 - 180.0
    return lat_min, lat_max, lon_min, lon_max


def cell_to_parent(cell, parent_res: int):
    """Re-address cells at a coarser resolution (adaptive-split support)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell_res(cell)
    shift = res - parent_res
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell resolution")
    return make_cell(parent_res, cell_row(cell) >> shift, cell_col(cell) >> shift)


def k_ring(cell, k: int):
    """All cells within Chebyshev distance ``k`` of each input cell.

    Vectorized: input shape (n,) → output shape (n, (2k+1)^2) int64, with -1
    marking out-of-range rows (beyond the poles).  Longitude wraps.  The
    k-ring of the *small* (cities) side is what gets exploded + broadcast in
    the kNN join, so (2k+1)^2 blow-up never touches the pages table.
    """
    cell = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    res = cell_res(cell)
    if cell.size and not np.all(res == res[0]):
        raise ValueError("k_ring requires uniform resolution input")
    r = int(res[0]) if cell.size else DEFAULT_RES
    nrows = np.int64(1) << r
    ncols = np.int64(2) << r
    row = cell_row(cell)[:, None]
    col = cell_col(cell)[:, None]
    offs = np.arange(-k, k + 1, dtype=np.int64)
    drow = np.repeat(offs, 2 * k + 1)[None, :]
    dcol = np.tile(offs, 2 * k + 1)[None, :]
    rr = row + drow
    cc = np.mod(col + dcol, ncols)
    out = make_cell(r, np.clip(rr, 0, nrows - 1), cc)
    out = np.where((rr < 0) | (rr >= nrows), np.int64(-1), out)
    return out


def covering_cells(lat_min: float, lat_max: float, lon_min: float, lon_max: float,
                   res: int = DEFAULT_RES) -> np.ndarray:
    """All cells at ``res`` intersecting the bbox (no antimeridian support).

    Used to prefilter point-in-polygon joins: each polygon is expanded to its
    covering cell set (small side), broadcast, and equi-joined on the point's
    cell before the exact ray-casting refinement.
    """
    _check_res(res)
    nrows = 1 << res
    ncols = 2 << res
    r0 = int(np.clip(np.floor((lat_min + 90.0) / 180.0 * nrows), 0, nrows - 1))
    r1 = int(np.clip(np.floor((lat_max + 90.0) / 180.0 * nrows - 1e-12), 0, nrows - 1))
    c0 = int(np.clip(np.floor((lon_min + 180.0) / 360.0 * ncols), 0, ncols - 1))
    c1 = int(np.clip(np.floor((lon_max + 180.0) / 360.0 * ncols - 1e-12), 0, ncols - 1))
    rows = np.arange(r0, r1 + 1, dtype=np.int64)
    cols = np.arange(c0, c1 + 1, dtype=np.int64)
    rr, cc = np.meshgrid(rows, cols, indexing="ij")
    return make_cell(res, rr.ravel(), cc.ravel())


def cell_size_deg(res: int) -> tuple[float, float]:
    """(lat_step, lon_step) in degrees at ``res``."""
    return 180.0 / (1 << res), 360.0 / (2 << res)


#: (query, row) pairs expanded per numpy step (8 MB per float64 temporary),
#: so a coarse grid or a full scan never holds a batch's cross product
PAIR_CHUNK = 1_000_000


def sorted_by_cell(cell: np.ndarray, row: np.ndarray):
    """(cell, row) sorted by cell, the rows of a cell in their given order:
    the CSR index :func:`runs` searches."""
    order = np.argsort(cell, kind="stable")
    return cell[order], row[order].astype(np.int32)


def runs(keys: np.ndarray, q: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lo, cnt): ``q[i]``'s run of sorted ``keys`` is ``lo[i]:lo[i] + cnt[i]``."""
    lo = np.searchsorted(keys, q, "left")
    return lo, np.searchsorted(keys, q, "right") - lo


def pairs(lo: np.ndarray, cnt: np.ndarray):
    """Chunks of (i, pos), ``i`` ascending, one pair per ``pos`` in
    ``lo[i]:lo[i] + cnt[i]``; a chunk holds about :data:`PAIR_CHUNK`
    pairs, and at least one ``i``."""
    ends = np.cumsum(cnt)
    i0 = 0
    while i0 < cnt.size:
        done = ends[i0 - 1] if i0 else 0
        i1 = max(i0 + 1, int(np.searchsorted(ends, done + PAIR_CHUNK, "right")))
        c = cnt[i0:i1]
        yield (np.repeat(np.arange(i0, i1), c),
               np.arange(int(c.sum())) + np.repeat(lo[i0:i1] - (np.cumsum(c) - c), c))
        i0 = i1
