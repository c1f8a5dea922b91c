"""Minimal OGC WKB codec for Polygon / MultiPolygon (pure struct + numpy).

The engine stores geometry as WKB ``BinaryType`` columns (SURVEY.md §1.1) —
the standard interchange the reference gets implicitly from geopandas
(core/geodata/taiwan.py:50).  shapely is absent here, so we implement the tiny
subset of the public WKB spec we need: little-endian Polygon (type 3) and
MultiPolygon (type 6), 2-D coordinates.

A decoded geometry is a list of *rings*, each a float64 ndarray of shape
(n, 2) with columns (lon, lat) — exterior rings and holes are all carried;
ray-casting PIP treats them uniformly (a point inside a hole crosses both
boundaries → even crossing count → outside), so no orientation bookkeeping is
needed.
"""

from __future__ import annotations

import struct

import numpy as np

_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6


def encode_polygon(rings: list[np.ndarray]) -> bytes:
    """Encode rings [(n,2) lon/lat arrays] as little-endian WKB Polygon.

    Rings are closed automatically (first point appended if absent).
    """
    parts = [struct.pack("<BII", 1, _WKB_POLYGON, len(rings))]
    for ring in rings:
        ring = np.asarray(ring, dtype="<f8")
        if ring.ndim != 2 or ring.shape[1] != 2:
            raise ValueError("ring must have shape (n, 2)")
        if len(ring) and not np.array_equal(ring[0], ring[-1]):
            ring = np.vstack([ring, ring[:1]])
        parts.append(struct.pack("<I", len(ring)))
        parts.append(ring.tobytes())
    return b"".join(parts)


def encode_multipolygon(polygons: list[list[np.ndarray]]) -> bytes:
    parts = [struct.pack("<BII", 1, _WKB_MULTIPOLYGON, len(polygons))]
    for rings in polygons:
        parts.append(encode_polygon(rings))
    return b"".join(parts)


def _decode_polygon_body(buf: bytes, off: int, order: str) -> tuple[list[np.ndarray], int]:
    (nrings,) = struct.unpack_from(order + "I", buf, off)
    off += 4
    rings = []
    for _ in range(nrings):
        (npts,) = struct.unpack_from(order + "I", buf, off)
        off += 4
        arr = np.frombuffer(buf, dtype=("<f8" if order == "<" else ">f8"),
                            count=npts * 2, offset=off).reshape(npts, 2)
        rings.append(arr.astype(np.float64, copy=False))
        off += npts * 16
    return rings, off


def decode(buf: bytes) -> list[np.ndarray]:
    """Decode WKB Polygon or MultiPolygon into a flat list of rings."""
    byte_order, geom_type = struct.unpack_from("<BI", buf, 0)
    order = "<" if byte_order == 1 else ">"
    if order == ">":
        (geom_type,) = struct.unpack_from(">I", buf, 1)
    off = 5
    if geom_type == _WKB_POLYGON:
        rings, _ = _decode_polygon_body(buf, off, order)
        return rings
    if geom_type == _WKB_MULTIPOLYGON:
        (npolys,) = struct.unpack_from(order + "I", buf, off)
        off += 4
        rings: list[np.ndarray] = []
        for _ in range(npolys):
            sub_order = "<" if buf[off] == 1 else ">"
            off += 5  # byte order + geom type of the child polygon
            sub, off = _decode_polygon_body(buf, off, sub_order)
            rings.extend(sub)
        return rings
    raise ValueError(f"unsupported WKB geometry type {geom_type}")


_ORIGIN = np.zeros((1, 2))


def bounds_array(bufs) -> np.ndarray:
    """(n, 4) float64 array of (lon_min, lat_min, lon_max, lat_max), one row
    per WKB geometry in ``bufs``, degenerate rings included.  A geometry
    without points reports (0, 0, 0, 0).  One min/max reduction over all
    geometries' points, not one per geometry."""
    pts = [np.concatenate(decode(bytes(b)) or [_ORIGIN]) for b in bufs]
    pts = [g if len(g) else _ORIGIN for g in pts]
    if not pts:
        return np.empty((0, 4))
    sizes = np.fromiter(map(len, pts), dtype=np.int64, count=len(pts))
    allp = np.concatenate(pts)
    starts = np.cumsum(sizes) - sizes
    return np.hstack([np.minimum.reduceat(allp, starts),
                      np.maximum.reduceat(allp, starts)])
