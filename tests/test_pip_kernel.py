"""``geo.pip.PolygonTable`` (one flat CSR kernel over whole batches of
(point, polygon) pairs) against the per-polygon kernel it replaced, kept
here as the reference.  Driver-side numpy, no Spark session needed."""

from __future__ import annotations

import pickle
import struct

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from immich_geodata_zh_tw_spark.geo import pip, wkb
from immich_geodata_zh_tw_spark.synth import polygons


class ReferenceGeometry:
    """The replaced kernel: edge arrays of one geometry, tested against
    points by broadcasting (points × edges)."""

    def __init__(self, wkb_bytes: bytes):
        rings = wkb.decode(wkb_bytes)
        xs1, ys1, xs2, ys2 = [], [], [], []
        for ring in rings:
            if len(ring) < 4:  # degenerate (needs >=3 distinct + closure)
                continue
            x, y = ring[:, 0], ring[:, 1]
            xs1.append(x[:-1]); ys1.append(y[:-1])
            xs2.append(x[1:]);  ys2.append(y[1:])
        if xs1:
            self.x1 = np.concatenate(xs1); self.y1 = np.concatenate(ys1)
            self.x2 = np.concatenate(xs2); self.y2 = np.concatenate(ys2)
        else:
            self.x1 = self.y1 = self.x2 = self.y2 = np.empty(0)
        pts = np.vstack([r for r in rings]) if rings else np.zeros((1, 2))
        self.lon_min = float(pts[:, 0].min()); self.lat_min = float(pts[:, 1].min())
        self.lon_max = float(pts[:, 0].max()); self.lat_max = float(pts[:, 1].max())

    def contains(self, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        out = np.zeros(lon.shape, dtype=bool)
        cand = (
            (lon >= self.lon_min) & (lon <= self.lon_max)
            & (lat >= self.lat_min) & (lat <= self.lat_max)
        )
        if not cand.any() or self.x1.size == 0:
            return out
        px = lon[cand][:, None]
        py = lat[cand][:, None]
        y1, y2 = self.y1[None, :], self.y2[None, :]
        x1, x2 = self.x1[None, :], self.x2[None, :]
        straddle = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        crossings = np.sum(straddle & (px < xint), axis=1)
        out[cand] = (crossings % 2) == 1
        return out


def reference(bufs, row, lon, lat) -> np.ndarray:
    """Per distinct polygon of the batch, the reference kernel."""
    out = np.zeros(len(row), dtype=bool)
    for p in np.unique(row):
        idx = np.flatnonzero(row == p)
        out[idx] = ReferenceGeometry(bufs[p]).contains(lon[idx], lat[idx])
    return out


def raw_wkb(parts: list[list[np.ndarray]]) -> bytes:
    """Polygon (one part) or MultiPolygon WKB with the rings exactly as
    given — closed or not, any length (the encoders close rings)."""
    def body(rings):
        out = [struct.pack("<I", len(rings))]
        for r in rings:
            out += [struct.pack("<I", len(r)), np.asarray(r, "<f8").tobytes()]
        return b"".join(out)
    if len(parts) == 1:
        return struct.pack("<BI", 1, 3) + body(parts[0])
    return struct.pack("<BII", 1, 6, len(parts)) + b"".join(
        struct.pack("<BI", 1, 3) + body(p) for p in parts)


#: vertices on a coarse dyadic grid, so that points drawn on edges, on
#: vertices and on the horizontal lines through vertices hit them exactly
coord = st.integers(0, 16).map(lambda v: v / 4.0)
ring = st.lists(st.tuples(coord, coord), min_size=1, max_size=8).map(
    lambda pts: np.array(pts, dtype=np.float64)).flatmap(
    lambda r: st.sampled_from([r, np.vstack([r, r[:1]])]))  # open or closed
geometry = st.lists(st.lists(ring, min_size=1, max_size=3),
                    min_size=1, max_size=3).map(raw_wkb)


@st.composite
def batch(draw, n_polys):
    """(row, lon, lat): points on vertices, on edge midpoints, on vertex
    lines and anywhere, each paired with a random polygon of the table."""
    bufs = draw(st.lists(geometry, min_size=n_polys, max_size=n_polys))
    verts = np.vstack([np.vstack(wkb.decode(b)) for b in bufs])
    n = draw(st.integers(0, 60))
    kind = draw(st.lists(st.integers(0, 3), min_size=n, max_size=n))
    pick = draw(st.lists(st.integers(0, len(verts) - 1),
                         min_size=2 * n, max_size=2 * n))
    free = draw(st.lists(st.floats(-1.0, 5.0, allow_nan=False),
                         min_size=2 * n, max_size=2 * n))
    lon, lat = np.empty(n), np.empty(n)
    for j, k in enumerate(kind):
        a, b = verts[pick[2 * j]], verts[pick[2 * j + 1]]
        lon[j], lat[j] = {0: (a[0], a[1]),                  # on a vertex
                          1: ((a[0] + b[0]) / 2, (a[1] + b[1]) / 2),
                          2: (free[2 * j], a[1]),           # vertex line
                          3: (free[2 * j], free[2 * j + 1])}[k]
    row = np.array(draw(st.lists(st.integers(0, n_polys - 1),
                                 min_size=n, max_size=n)), dtype=np.int64)
    return bufs, row, lon, lat


def table_of(bufs) -> pip.PolygonTable:
    return pip.PolygonTable.from_wkb(bufs)


class TestKernelEquivalence:
    @given(st.integers(1, 6).flatmap(batch))
    @settings(max_examples=300, deadline=None)
    def test_matches_reference(self, case):
        """Holes, multipolygons, open rings, degenerate rings, points on
        edges and vertices, mixed polygons in one batch."""
        bufs, row, lon, lat = case
        got = table_of(bufs).contains(row, lon, lat)
        assert got.tolist() == reference(bufs, row, lon, lat).tolist()

    def test_enclave_and_holes(self):
        polys = polygons.admin_polygons_pdf(village_grid=5)
        square = np.array([[0, 0], [8, 0], [8, 8], [0, 8], [0, 0]], float)
        bufs = [bytes(polys["geometry_wkb"][0]),  # the two-part enclave
                wkb.encode_polygon([square, square[::-1] / 4 + 2,
                                    square / 4 + 5])]
        rng = np.random.default_rng(0)
        (lon0, lat0, lon1, lat1), = wkb.bounds_array(bufs[:1])
        lon = np.r_[rng.uniform(lon0 - 0.01, lon1 + 0.01, 400),
                    rng.uniform(-1, 9, 400), square[:, 0], 2.0, 3.0, 4.0]
        lat = np.r_[rng.uniform(lat0 - 0.01, lat1 + 0.01, 400),
                    rng.uniform(-1, 9, 400), square[:, 1], 2.5, 3.0, 4.0]
        row = np.r_[np.zeros(400, int), np.ones(lon.size - 400, int)]
        got = table_of(bufs).contains(row, lon, lat)
        assert got.tolist() == reference(bufs, row, lon, lat).tolist()
        assert got[:400].any() and not got[:400].all()
        assert not got[-2]  # the centre of the first hole

    def test_degenerate_rings_only(self):
        bufs = [raw_wkb([[np.array([[0.0, 0.0]]),
                          np.array([[0.0, 0.0], [2.0, 2.0], [0.0, 2.0]])]]),
                struct.pack("<BII", 1, 3, 0)]  # no rings at all
        row = np.array([0, 0, 1])
        lon, lat = np.array([1.0, 0.5, 0.0]), np.array([1.0, 1.5, 0.0])
        got = table_of(bufs).contains(row, lon, lat)
        assert got.tolist() == reference(bufs, row, lon, lat).tolist()
        assert not got.any()

    def test_empty_batch(self):
        got = table_of([wkb.encode_polygon([np.eye(2)])]).contains(
            np.array([], dtype=np.int64), np.array([]), np.array([]))
        assert got.shape == (0,) and got.dtype == bool

    def test_every_pair_fails_the_bbox(self):
        bufs = [wkb.encode_polygon([np.array([[0, 0], [1, 0], [1, 1]], float)]),
                wkb.encode_polygon([np.array([[5, 5], [6, 5], [6, 6]], float)])]
        row = np.array([0, 1, 0, 1])
        lon, lat = np.array([5.5, 0.5, 3.0, 9.0]), np.array([5.2, 0.2, 3.0, 9.0])
        got = table_of(bufs).contains(row, lon, lat)
        assert not got.any()
        assert got.tolist() == reference(bufs, row, lon, lat).tolist()

    def test_edge_chunks_join_up(self, monkeypatch):
        """Batches larger than one edge chunk give the same answers."""
        polys = polygons.admin_polygons_pdf(village_grid=3)
        bufs = [bytes(b) for b in polys["geometry_wkb"]]
        rng = np.random.default_rng(1)
        row = rng.integers(0, len(bufs), 3000)
        lon = rng.uniform(119.5, 122.5, 3000)
        lat = rng.uniform(21.5, 25.5, 3000)
        whole = table_of(bufs).contains(row, lon, lat)
        monkeypatch.setattr(pip, "_EDGE_CHUNK", 7)
        assert table_of(bufs).contains(row, lon, lat).tolist() == whole.tolist()
        assert whole.tolist() == reference(bufs, row, lon, lat).tolist()


class TestPolygonTable:
    def test_pickle_carries_vertices_only(self):
        """Bboxes are derived on load; the payload is no bigger than the
        pickled {id: WKB} dict at 8,000 villages."""
        polys = polygons.admin_polygons_pdf(village_grid=20)
        ids = np.arange(len(polys))
        t = pip.PolygonTable.from_wkb(polys["geometry_wkb"])
        back = pickle.loads(pickle.dumps(t))
        assert np.array_equal(back.bbox, t.bbox)
        assert np.array_equal(back.bbox, wkb.bounds_array(polys["geometry_wkb"]))
        wkb_dict = {i: bytes(b) for i, b in zip(ids, polys["geometry_wkb"])}
        assert len(pickle.dumps(t)) <= len(pickle.dumps(wkb_dict))

    def test_contains_wkb_is_one_polygon_table(self):
        buf = wkb.encode_polygon([np.array([[0, 0], [4, 0], [4, 4], [0, 4]],
                                           float)])
        lon, lat = np.array([1.0, 5.0, 4.0]), np.array([1.0, 1.0, 2.0])
        assert pip.contains_wkb(buf, lon, lat).tolist() == \
            ReferenceGeometry(buf).contains(lon, lat).tolist()
