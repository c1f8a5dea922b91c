"""``operators.knn.max_nn_spacing_km`` (grid-bucketed search) against the
O(n²) scan it replaced, kept here as the reference.  Driver-side numpy, no
Spark session needed."""

from __future__ import annotations

import math
import time

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from immich_geodata_zh_tw_spark.operators.knn import max_nn_spacing_km


def reference_spacing_km(places_pdf, *, lat_col: str = "latitude",
                         lon_col: str = "longitude",
                         chunk: int = 2048) -> float:
    """Max over distinct points of the distance to the nearest other
    distinct point (km): every pair, ``chunk`` rows at a time."""
    pts = places_pdf[[lat_col, lon_col]].drop_duplicates()
    lat = np.radians(pts[lat_col].to_numpy(dtype=np.float64))
    lon = np.radians(pts[lon_col].to_numpy(dtype=np.float64))
    n = lat.size
    if n < 2:
        return math.inf
    worst = 0.0
    for i0 in range(0, n, chunk):
        i1 = min(i0 + chunk, n)
        dlat = lat[i0:i1, None] - lat[None, :]
        dlon = lon[i0:i1, None] - lon[None, :]
        a = (np.sin(dlat / 2) ** 2
             + np.cos(lat[i0:i1, None]) * np.cos(lat[None, :])
             * np.sin(dlon / 2) ** 2)
        d = 2.0 * 6371.0088 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))
        d[np.arange(i1 - i0), np.arange(i0, i1)] = np.inf  # self-distance
        worst = max(worst, float(d.min(axis=1).max()))
    return worst


def places(lat, lon) -> pd.DataFrame:
    return pd.DataFrame({"latitude": np.asarray(lat, dtype=np.float64),
                         "longitude": np.asarray(lon, dtype=np.float64)})


def family(name: str, n: int, rng: np.random.Generator) -> pd.DataFrame:
    """``n`` points of one input family."""
    if name == "uniform":  # uniform on the sphere
        return places(np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
                      rng.uniform(-180, 180, n))
    if name == "cluster":  # a 0.05° cluster plus far outliers
        m = n - n // 20
        return places(
            np.r_[25.0 + rng.uniform(0, 0.05, m), rng.uniform(-80, 80, n - m)],
            np.r_[121.0 + rng.uniform(0, 0.05, m),
                  rng.uniform(-180, 180, n - m)])
    if name == "duplicated":  # every point twice, rows shuffled
        base = family("uniform", (n + 1) // 2, rng)
        return pd.concat([base, base]).sample(frac=1.0, random_state=1)[:n]
    if name == "pole":  # within 1° of one pole, the pole itself included
        sign = rng.choice([-1.0, 1.0])
        lat = sign * rng.uniform(89.0, 90.0, n)
        lat[: min(n, 2)] = sign * 90.0
        return places(lat, rng.uniform(-180, 180, n))
    if name == "antimeridian":  # ±1° either side of ±180°
        lon = rng.uniform(179.0, 180.0, n) * rng.choice([-1.0, 1.0], n)
        return places(rng.uniform(-20, 20, n), lon)
    if name == "identical":
        return places(np.full(n, 23.5), np.full(n, 121.0))
    raise ValueError(name)


FAMILIES = ["uniform", "cluster", "duplicated", "pole", "antimeridian",
            "identical"]


def assert_same(df: pd.DataFrame) -> None:
    # bit-identical on x86-64 numpy here; rel 1e-12 leaves room for a
    # platform whose SIMD transcendentals differ in the last ulp
    assert max_nn_spacing_km(df) == pytest.approx(reference_spacing_km(df),
                                                  rel=1e-12)


@given(st.sampled_from(FAMILIES), st.integers(0, 400),
       st.integers(0, 2**32 - 1))
@settings(max_examples=150, deadline=None)
def test_matches_reference_per_family(name, n, seed):
    assert_same(family(name, n, np.random.default_rng(seed)))


coords = st.tuples(
    st.floats(-90.0, 90.0, allow_nan=False),
    st.floats(-180.0, 180.0, allow_nan=False))


@given(st.lists(st.one_of(coords, st.sampled_from(
    [(90.0, 0.0), (-90.0, 45.0), (0.0, 180.0), (0.0, -180.0),
     (89.9999, 10.0), (0.0, 179.9999)])), max_size=40))
@settings(max_examples=300, deadline=None)
def test_matches_reference_drawn_points(pts):
    """Hypothesis-drawn coordinates: boundary values, repeats, n ∈ {0, 1, 2}."""
    lat, lon = zip(*pts) if pts else ((), ())
    assert_same(places(lat, lon))


@pytest.mark.parametrize("name", FAMILIES)
def test_matches_reference_at_4000(name):
    assert_same(family(name, 4000, np.random.default_rng(2024)))


@pytest.mark.parametrize("name, n", [("uniform", 0), ("uniform", 1),
                                     ("uniform", 2), ("identical", 500)])
def test_spacing_needs_two_distinct_points(name, n):
    df = family(name, n, np.random.default_rng(n))
    assert_same(df)
    assert (max_nn_spacing_km(df) == math.inf) == (len(df.drop_duplicates()) < 2)


def test_pole_point_in_a_far_column():
    """Every longitude meets at the pole: the point at -90° is two cell
    columns from q yet nearer to it than q's ring neighbour, so q must
    not settle on that neighbour (an 89.999° latitude cap in the bound
    let it, reading 0.020 km for a true 0.0096 km)."""
    df = places([-90.0, -89.99991342323736, -89.99973, -89.99973],
                [64.06131642329353, 103.24353888242291, 103.24, 103.25])
    assert_same(df)
    assert max_nn_spacing_km(df) < 0.01


def test_village_tiling_value():
    """The flagship benchmark's 8,000-village table (static-kNN decision)."""
    from immich_geodata_zh_tw_spark.synth.cities import cities_pdf

    assert max_nn_spacing_km(cities_pdf(20)) == pytest.approx(
        3.8791369360922046, rel=1e-12)


def test_large_cluster_finishes():
    """50 k points, 95 % in a 0.05° cluster: the O(n²) scan takes minutes
    and an unchunked candidate expansion runs out of memory."""
    df = family("cluster", 50_000, np.random.default_rng(5))
    t0 = time.perf_counter()
    got = max_nn_spacing_km(df)
    assert time.perf_counter() - t0 < 60.0
    # the max is an outlier's spacing, far above the cluster's
    assert 100.0 < got < math.inf
