"""Synthetic cities500-style point table derived from the admin polygons.

Mirrors how the reference builds its point set: one record per village
centroid, deterministic sequential geoname ids after a full sort
(core/geodata/base.py:137-143), admin1 codes as zero-padded alphabetical dense
ranks (base.py:627-671), 8-decimal coordinate rounding (base.py:24-25,
COORD_DECIMAL_PLACES=8).
"""

from __future__ import annotations

import pandas as pd

from .hashing import u01
from .polygons import admin_polygons_pdf

BASE_GEONAME_ID = 10_000_000
COORD_DECIMAL_PLACES = 8


def cities_pdf(village_grid: int = 5) -> pd.DataFrame:
    """Columns: geoname_id, name, admin_1, admin_2, latitude, longitude,
    population, country_code."""
    polys = admin_polygons_pdf(village_grid)
    df = pd.DataFrame({
        "name": polys["village"],
        "admin_1": polys["county"],
        "admin_2": polys["township"],
        "latitude": polys["centroid_lat"].round(COORD_DECIMAL_PLACES),
        "longitude": polys["centroid_lon"].round(COORD_DECIMAL_PLACES),
    })
    df = df.sort_values(["admin_1", "admin_2", "name"], kind="mergesort").reset_index(drop=True)
    df.insert(0, "geoname_id", BASE_GEONAME_ID + df.index)
    # deterministic population: dense urban villages get large values
    df["population"] = (100 + (u01(df["geoname_id"].to_numpy(), salt=11) * 50_000)).astype("int64")
    df["country_code"] = "TW"
    # admin1 code: zero-padded alphabetical dense rank (reference base.py:655-660)
    ranks = {name: i + 1 for i, name in enumerate(sorted(df["admin_1"].unique()))}
    digits = len(str(len(ranks)))
    df["admin1_code"] = df["admin_1"].map(
        lambda n: f"TW.{str(ranks[n]).zfill(digits)}")
    return df
