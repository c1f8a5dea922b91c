"""Output checks, independent of the engine's own geometry code.

The crawl check decodes polygon WKB with ``struct``, tests containment by
even-odd ray casting and finds the nearest place by a full haversine scan —
no ``geo.pip``, no ``operators.knn``.  Points that lie on a polygon edge
accept either neighbour, so the check never depends on boundary rules.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

EARTH_RADIUS_KM = 6371.0088
EDGE_EPS = 1e-9


def _rings(buf: bytes, off: int = 0) -> tuple[list[np.ndarray], int]:
    """All rings of a WKB Polygon or MultiPolygon starting at ``off``."""
    order = "<" if buf[off] == 1 else ">"
    (gtype,) = struct.unpack_from(order + "I", buf, off + 1)
    off += 5
    if gtype == 6:  # MultiPolygon: count, then one Polygon per part
        (n,) = struct.unpack_from(order + "I", buf, off)
        off += 4
        rings = []
        for _ in range(n):
            part, off = _rings(buf, off)
            rings += part
        return rings, off
    if gtype != 3:
        raise ValueError(f"unexpected WKB geometry type {gtype}")
    (n_rings,) = struct.unpack_from(order + "I", buf, off)
    off += 4
    rings = []
    for _ in range(n_rings):
        (n_pts,) = struct.unpack_from(order + "I", buf, off)
        off += 4
        pts = np.frombuffer(buf, dtype=order + "f8", count=2 * n_pts, offset=off)
        rings.append(pts.reshape(n_pts, 2))
        off += 16 * n_pts
    return rings, off


class Polygons:
    """Decoded polygon table with per-polygon bounding boxes."""

    def __init__(self, wkbs) -> None:
        self.rings = [_rings(bytes(b))[0] for b in wkbs]
        allpts = [np.concatenate(r) for r in self.rings]
        self.lo = np.array([p.min(axis=0) for p in allpts])  # (lon, lat)
        self.hi = np.array([p.max(axis=0) for p in allpts])

    def containing(self, lon: float, lat: float) -> tuple[set, set]:
        """(polygons strictly containing the point, polygons whose edge it
        touches)."""
        near = np.flatnonzero((self.lo[:, 0] - EDGE_EPS <= lon)
                              & (lon <= self.hi[:, 0] + EDGE_EPS)
                              & (self.lo[:, 1] - EDGE_EPS <= lat)
                              & (lat <= self.hi[:, 1] + EDGE_EPS))
        inside, edge = set(), set()
        for i in near.tolist():
            crossings = 0
            for ring in self.rings[i]:
                x0, y0 = ring[:-1, 0], ring[:-1, 1]
                x1, y1 = ring[1:, 0], ring[1:, 1]
                # on-edge: collinear and within the segment's box
                cross = (x1 - x0) * (lat - y0) - (y1 - y0) * (lon - x0)
                within = ((np.minimum(x0, x1) - EDGE_EPS <= lon)
                          & (lon <= np.maximum(x0, x1) + EDGE_EPS)
                          & (np.minimum(y0, y1) - EDGE_EPS <= lat)
                          & (lat <= np.maximum(y0, y1) + EDGE_EPS))
                if np.any(within & (np.abs(cross) <= EDGE_EPS)):
                    edge.add(i)
                straddle = (y0 > lat) != (y1 > lat)
                with np.errstate(divide="ignore", invalid="ignore"):
                    x_at = x0 + (lat - y0) * (x1 - x0) / (y1 - y0)
                crossings += int(np.sum(straddle & (lon < x_at)))
            if crossings % 2 == 1 and i not in edge:
                inside.add(i)
        return inside, edge


def haversine_km(lat1, lon1, lat2, lon2) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(np.asarray(lon2) - np.asarray(lon1))
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))


def check_crawl(out: pd.DataFrame, truth: pd.DataFrame, polys: pd.DataFrame,
                cities: pd.DataFrame, bbox, *, sample: int, seed: int,
                country_zh: str) -> list[str]:
    """Errors found in a reverse-geocode output; empty means correct.

    ``truth`` holds each page's (url, lat, lon) as generated (NaN = no geo
    tag).  Every output row must be a page inside ``bbox`` that some
    polygon contains; every page strictly inside a polygon must be output;
    a seeded sample of rows is checked attribute by attribute.
    """
    errors: list[str] = []
    lat_min, lat_max, lon_min, lon_max = bbox
    t = truth[(truth["lat"] >= lat_min) & (truth["lat"] <= lat_max)
              & (truth["lon"] >= lon_min) & (truth["lon"] <= lon_max)]
    geom = Polygons(polys["geometry_wkb"])
    hits = [geom.containing(lo, la) for la, lo in zip(t["lat"], t["lon"])]
    must = sum(1 for inside, _ in hits if inside)
    may = sum(1 for inside, edge in hits if inside or edge)
    if not must <= len(out) <= may:
        errors.append(f"{len(out)} output rows, expected {must}..{may}")
    if out["url"].duplicated().any():
        errors.append("duplicate urls in output")
    if set(out["country_zh"].unique()) != {country_zh}:
        errors.append(f"country_zh values {set(out['country_zh'].unique())}")
    by_url = t.set_index("url")
    joined = out.join(by_url, on="url", rsuffix="_truth")
    if joined["lat_truth"].isna().any():
        errors.append("output rows for pages outside the bbox or untagged")
        return errors
    rng = np.random.default_rng([seed, 7])
    pick = joined.iloc[rng.choice(len(joined), min(sample, len(joined)),
                                  replace=False)]
    names = list(zip(polys["county"], polys["township"], polys["village"]))
    c_lat = cities["latitude"].to_numpy()
    c_lon = cities["longitude"].to_numpy()
    c_id = cities["geoname_id"].to_numpy()
    bad_pip = bad_knn = bad_coord = 0
    for r in pick.itertuples(index=False):
        if (r.lat, r.lon) != (r.lat_truth, r.lon_truth):
            bad_coord += 1
        inside, edge = geom.containing(r.lon, r.lat)
        if (r.county, r.township, r.village) not in {names[i] for i in inside | edge}:
            bad_pip += 1
        d = haversine_km(r.lat, r.lon, c_lat, c_lon)
        chosen = d[c_id == r.geoname_id]
        if (len(chosen) != 1 or chosen[0] - d.min() > 1e-6
                or abs(chosen[0] - r.knn_dist_km) > 1e-5):
            bad_knn += 1
    for what, n in (("coordinate", bad_coord), ("admin polygon", bad_pip),
                    ("nearest place", bad_knn)):
        if n:
            errors.append(f"{n} of {len(pick)} sampled rows: wrong {what}")
    return errors


# ---------------------------------------------------------------------------
# release
# ---------------------------------------------------------------------------

def release_expectations(tables: dict[str, pd.DataFrame]) -> dict:
    """What a correct release of ``tables`` (the generated inputs) holds,
    worked out from the inputs alone."""
    from .inputs import TRADITIONAL_ONLY

    cities = tables["cities"]
    handler_rows = {"TW": len(tables["tw"]), "KR": len(tables["kr"]),
                    "JP": len(tables["jp"])}
    counts = cities["country_code"].value_counts().to_dict()
    counts.update(handler_rows)
    # a traditional metadata name on a kept row is the row's shipped name
    trad = set(TRADITIONAL_ONLY)
    meta = tables["metadata"]
    meta = meta[meta["admin_2"].map(lambda n: bool(n) and set(n) <= trad)
                & ~meta["country_code"].isin(list(handler_rows))]
    named = cities.merge(meta, on=["country_code", "latitude", "longitude"])
    admin1 = tables["admin1"]["id"].str.split(".").str[0].value_counts()
    admin1 = admin1.to_dict()
    admin1.update({"TW": tables["tw"]["COUNTYNAME"].nunique(),
                   "KR": tables["kr"]["sidonm"].nunique(),
                   "JP": tables["jp"]["N03_001"].nunique()})
    return {
        "counts": counts,
        "tw_names": sorted(v.replace("裏", "里", 1)
                           for v in tables["tw"]["VILLNAME"]),
        "meta_names": dict(zip(named["geoname_id"], named["admin_2"])),
        "admin1": admin1,
    }


def check_release(out: pd.DataFrame, admin1: pd.DataFrame, members: set,
                  expected: dict, expected_members: set) -> list[str]:
    """Errors in a release: ``out`` is cities500.txt (named columns, all
    strings), ``admin1`` admin1CodesASCII.txt, ``members`` the zip's
    members."""
    errors = []
    counts = out["country_code"].value_counts().to_dict()
    for cc, n in sorted(expected["counts"].items()):
        if counts.get(cc, 0) != n:
            errors.append(f"{cc}: {counts.get(cc, 0)} cities500 rows, "
                          f"expected {n}")
    if extra := set(counts) - set(expected["counts"]):
        errors.append(f"unexpected countries {sorted(extra)}")
    if out["geoname_id"].duplicated().any() or (out["geoname_id"] == "").any():
        errors.append("geoname_id values missing or not unique")
    tw = sorted(out.loc[out["country_code"] == "TW", "name"])
    if tw != expected["tw_names"]:
        errors.append("TW names differ from the input villages")
    names = out.set_index("geoname_id")["name"]
    wrong = sum(names.get(gid) != name
                for gid, name in expected["meta_names"].items())
    if wrong:
        errors.append(f"{wrong} of {len(expected['meta_names'])} rows lack "
                      f"their traditional metadata name")
    a1 = admin1[0].str.split(".").str[0].value_counts().to_dict()
    if a1 != expected["admin1"]:
        errors.append(f"admin1 codes per country {a1}, "
                      f"expected {expected['admin1']}")
    if members != expected_members:
        errors.append(f"zip members {sorted(members)}")
    return errors


# ---------------------------------------------------------------------------
# doc queries
# ---------------------------------------------------------------------------

def _kind(dtype) -> str:
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    return "other"


def _canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        kind = _kind(pdf[c].dtype)
        if kind in ("bool", "int"):
            pdf[c] = pdf[c].astype("int64")
        elif kind == "float":
            pdf[c] = pdf[c].astype("float64")
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(
        drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame,
                   name: str) -> list[str]:
    """Errors unless ``got`` equals ``want`` as a multiset of rows: same
    columns, same value kinds, same values (floats exactly)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} vs "
                f"{sorted(want.columns)}"]
    kinds = [c for c in got.columns
             if _kind(got[c].dtype) != _kind(want[c].dtype)]
    if kinds:
        return [f"{name}: value kinds differ in {kinds}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle {len(want)}"]
    a, b = _canonical(got), _canonical(want)
    bad = [c for c in a.columns
           if not ((a[c].to_numpy() == b[c].to_numpy())
                   | (a[c].isna() & b[c].isna()).to_numpy()).all()]
    return [f"{name}: values differ in {bad}"] if bad else []
