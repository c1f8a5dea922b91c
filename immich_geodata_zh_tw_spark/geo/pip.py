"""Vectorized point-in-polygon (ray casting) over WKB geometries.

Replaces the exact-refinement role shapely's STRtree + ``contains`` would play
(SURVEY.md §2.3 J9): the PIP join (``operators/pipjoin.PolygonCover``)
prefilters (point, polygon) pairs with a grid-cell cover, and this kernel
does the exact test, both inside one Arrow-batched ``mapInPandas`` pass.

Algorithm: standard even-odd ray casting (public domain; cf. W. Randolph
Franklin's PNPOLY), vectorized over whole batches of (point, polygon) pairs:
a bbox test per pair, ``np.repeat`` expansion of the survivors' edges, one
crossing test per (pair, edge) and ``np.bincount`` parity — no per-row or
per-polygon Python.

Boundary semantics: points exactly on an edge are implementation-defined (as
with shapely's ``contains``); synthetic fixtures keep points off edges.
"""

from __future__ import annotations

import numpy as np

from . import wkb

#: (pair, edge) rows expanded per numpy step (8 MB per float64 temporary)
_EDGE_CHUNK = 1_000_000
_BREAK = np.full((1, 2), np.nan)  # the ring-break vertex


def _vertices(rings: list[np.ndarray]) -> np.ndarray:
    """One geometry's vertex rows, rings split by a NaN row; a geometry
    without points is one NaN row.  A degenerate ring (< 4 points: fewer
    than 3 distinct + closure) has no edges, but its points still count for
    the bbox, so each of them becomes a one-vertex ring."""
    pieces = [p for r in rings for p in (r[:, None] if len(r) < 4 else [r])]
    if not pieces:
        return _BREAK
    return np.concatenate(
        [pieces[0], *(x for p in pieces[1:] for x in (_BREAK, p))])


class PolygonTable:
    """Polygons as one CSR vertex table, built once on the driver and
    broadcast to executors: geometry ``i`` owns vertices ``off[i]:off[i + 1]``
    of ``x`` / ``y`` (lon / lat), consecutive vertices form its edges, and a
    NaN vertex breaks rings (an edge touching NaN never crosses a ray).
    Vertices, not edges, keep the payload no bigger than the WKB; the bboxes
    are derived on load, not pickled.  Coordinates must be finite."""

    def __init__(self, off, x, y):
        self.off, self.x, self.y = off, x, y
        starts = off[:-1]  # every geometry owns ≥ 1 vertex
        self.bbox = np.stack([np.fmin.reduceat(x, starts),
                              np.fmin.reduceat(y, starts),
                              np.fmax.reduceat(x, starts),
                              np.fmax.reduceat(y, starts)], axis=1)

    def __reduce__(self):
        return PolygonTable, (self.off, self.x, self.y)

    @classmethod
    def from_wkb(cls, bufs) -> "PolygonTable":
        verts = [_vertices(wkb.decode(bytes(b))) for b in bufs]
        sizes = np.fromiter(map(len, verts), dtype=np.int64, count=len(verts))
        xy = np.concatenate(verts) if verts else np.empty((0, 2))
        return cls(np.r_[0, np.cumsum(sizes)].astype(np.int32),
                   np.ascontiguousarray(xy[:, 0]), np.ascontiguousarray(xy[:, 1]))

    def contains(self, row, lon, lat) -> np.ndarray:
        """Is point ``j`` inside geometry ``row[j]`` (even-odd rule)?"""
        row = np.asarray(row, dtype=np.int64)
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        out = np.zeros(row.shape, dtype=bool)
        b = self.bbox[row]
        live = np.flatnonzero((lon >= b[:, 0]) & (lon <= b[:, 2])
                              & (lat >= b[:, 1]) & (lat <= b[:, 3]))
        first = self.off[row[live]]
        n_edges = np.maximum(self.off[row[live] + 1] - first - 1, 0)
        total = int(n_edges.sum())
        cuts = np.searchsorted(np.cumsum(n_edges),
                               np.arange(_EDGE_CHUNK, total, _EDGE_CHUNK))
        for idx in np.split(np.arange(live.size), cuts):
            part, ne = live[idx], n_edges[idx]  # ≤ ~_EDGE_CHUNK edges
            pair = np.repeat(np.arange(part.size), ne)
            e = np.arange(ne.sum()) + np.repeat(
                first[idx] - (np.cumsum(ne) - ne), ne)
            px, py = lon[part][pair], lat[part][pair]
            x1, y1, x2, y2 = self.x[e], self.y[e], self.x[e + 1], self.y[e + 1]
            with np.errstate(divide="ignore", invalid="ignore"):
                straddle = (y1 > py) != (y2 > py)
                xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            crossings = np.bincount(pair[straddle & (px < xint)],
                                    minlength=part.size)
            out[part] = (crossings % 2) == 1
        return out


def contains_wkb(wkb_bytes: bytes, lon, lat) -> np.ndarray:
    """One-shot convenience: PIP test of points against one geometry."""
    lon = np.asarray(lon)
    return PolygonTable.from_wkb([wkb_bytes]).contains(
        np.zeros(lon.shape, dtype=np.int64), lon, lat)
