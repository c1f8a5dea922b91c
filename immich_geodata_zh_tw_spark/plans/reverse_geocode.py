"""Flagship plan: reverse-geocode web pages (SURVEY.md §7.1).

pages(url, warc_ts, html, text, lang)
  → Arrow-UDF extract: (url, lat, lon, text)           [extract/html_meta]
  → non-null + Taiwan-bbox filter                       [P2; pushdown-friendly]
  → grid cell in Column algebra                         [functions/geo]
  → PIP join vs admin polygons (exact admin_1/2/3)      [operators/pipjoin]
  → kNN (k=1) naming join vs cities500-style points     [operators/knn]
  → zh-TW country name (a literal: one country code per call)
  → url, lat, lon, cell, county, township, village, name, admin1_code

This is the Immich runtime semantic (reference README.md:103 — nearest-
distance match against cities500) fused with the extract-stage polygon
semantics, expressed as one Catalyst plan: the pages side crosses exactly one
exchange (the round-robin repartition after the bbox filter); every join is
broadcast, and the kNN pick is a per-row ``array_min`` over the broadcast
ring candidates — no aggregation on the pages side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extract.html_meta import extract_pages
from ..functions.countries import COUNTRY_ZH_TW
from ..functions.geo import cell_expr, in_bbox
from ..geo import grid, wkb
from ..operators.knn import (knn_join, knn_join_static, max_nn_spacing_km,
                             min_cell_km, ring_covers)
from ..operators.pipjoin import pip_join
from ..synth import TW_BBOX


def grid_res(points_pdf: pd.DataFrame,
             bbox: tuple[float, float, float, float] = TW_BBOX) -> int | None:
    """The finest res in [4, MAX_RES] whose k=1 ring guard covers the max
    nearest-neighbour spacing of ``points_pdf`` (latitude, longitude), or
    None.

    A cost choice only, never an exactness one: the flagship takes the
    static kNN join at it only where ``knn.ring_covers`` proves every query
    settles, and otherwise the general join, whose per-row guard sends
    every unsettled row to the full-array fallback.  For a tiling-derived point set the spacing is
    about the covering radius, so at this res nearly every row settles on
    a one-ring of about one place per cell; the polygon bbox centres pick
    the PIP res the same way, about one polygon per cell.  At 8,000
    villages both are 12 (spacing 3.88 km, guard 4.37 km; 4.4 candidates
    per point and 11.5 per query, against 29.7 and 175 at a fixed res 10),
    on the 500-village ``bench.py`` fixture both are 10.  History: res 10
    was fixed on that fixture, where an interleaved A/B put a res-12, k=3
    kNN ring beside a res-10 PIP grid at 3.79 s vs 3.13 s (2 M pages, 32
    cores); the computed res keeps k=1.
    """
    spacing_km = max_nn_spacing_km(points_pdf)
    max_lat = max(abs(bbox[0]), abs(bbox[1])) + 1.0
    return next((res for res in range(grid.MAX_RES, 3, -1)
                 if min_cell_km(res, max_lat) >= spacing_km), None)


def reverse_geocode_pages(spark: SparkSession, pages: DataFrame,
                          polys_pdf: pd.DataFrame, cities_pdf: pd.DataFrame, *,
                          bbox: tuple[float, float, float, float] = TW_BBOX,
                          country_code: str = "TW") -> DataFrame:
    """Full reverse-geocode of a pages table against polygon + point tables."""
    # geo-only kernel: this plan never outputs text, and pruning cannot
    # reach inside mapInPandas — the text pass (tag-strip + entities + ws
    # regexes per page) would otherwise run for every page only to be
    # dropped, and at a global corpus vs a Taiwan bbox that is ~all of it
    ext = extract_pages(pages, with_text=False).observe(
        "extract_metrics",
        F.count(F.lit(1)).alias("pages_extracted"),
        F.count(F.col("lat")).alias("pages_with_geo"))
    pts = (ext
           .filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
           .filter(in_bbox(F.col("lat"), F.col("lon"), bbox))
           # explicit exchange: (a) separates the extract mapInPandas and the
           # PIP pandas UDF into different stages — chaining two Python
           # workers inside one task pipeline doubles Python-process
           # oversubscription per core; (b) rebalances rows after the bbox
           # filter, whose selectivity is geographically skewed (dense urban
           # partitions).  The shuffle payload is the post-filter minority of
           # the input — cheap relative to both effects.  Fan-out targets
           # CORES, not bytes: the downstream stage is Python-compute-bound,
           # and the alternatives both measured slower end-to-end at sf0.1 on
           # 32 cores — AQE REBALANCE (6.4 s vs 5.5 s: its 64 MB advisory
           # size packs the narrow (url, lat, lon) rows into ~2 partitions
           # and starves the 32-core PIP stage) and cores×4 (6.2 s: more
           # Python-worker batch boundaries for no utilization gain).  One
           # partition per core is also the right grain on a 1000-executor
           # cluster: mapInPandas streams Arrow batches, so partition
           # byte-size need not fit RAM, and AQE skew-split still covers
           # stragglers.
           .repartition(spark.sparkContext.defaultParallelism))

    # PIP res from the polygons' bbox centres (res 4 when no res guards
    # their spacing: one polygon, or polygons a continent apart); kNN res
    # from the cities, or auto_ring's (res, k) when none guards theirs
    lon0, lat0, lon1, lat1 = wkb.bounds_array(polys_pdf["geometry_wkb"]).T
    pip_res = grid_res(pd.DataFrame({"latitude": (lat0 + lat1) / 2,
                                     "longitude": (lon0 + lon1) / 2}), bbox)
    knn_res = grid_res(cities_pdf, bbox)

    polys = polys_pdf.reset_index(drop=True).copy()
    polys.insert(0, "poly_id", range(len(polys)))
    with_admin = pip_join(
        spark, pts, polys[["poly_id", "geometry_wkb", "county", "township", "village"]],
        id_col="poly_id", attr_cols=["county", "township", "village"],
        res=pip_res or 4,
    ).drop("poly_id")
    # every kNN query is a PIP hit inside ``bbox``, so it lies in the
    # domain below; where the cities' one-rings provably cover it, the
    # static join is exact and skips the guard and the full-array operand
    # (the benchmark's 8,000 villages); elsewhere the guarded join
    lat_min, lat_max, lon_min, lon_max = bbox
    domain = np.stack([np.maximum(lon0, lon_min), np.maximum(lat0, lat_min),
                       np.minimum(lon1, lon_max), np.minimum(lat1, lat_max)], 1)
    static = knn_res is not None and ring_covers(cities_pdf, domain, res=knn_res)
    named = (knn_join_static if static else knn_join)(
        spark, with_admin, cities_pdf, query_id="url",
        place_cols=["geoname_id", "name", "admin1_code"], res=knn_res or "auto")
    # localized country display name (reference i18n-iso-countries zh-tw.json
    # via Immich's display path, README.md:103).  country_code travels with
    # bbox: a non-Taiwan invocation passes its own code and gets that
    # country's zh-TW name (ADVICE.md round-2 item 5).  The code is one
    # constant per call, so the name is a literal: the dim join
    # (functions.countries.localize_country) would cost a DataFrame, a
    # broadcast job and a join to look up one key
    return named.select(
        "url", "lat", "lon",
        cell_expr("lat", "lon", grid.DEFAULT_RES).alias("cell"),
        "county", "township", "village",
        "geoname_id", "name", "admin1_code",
        F.lit(COUNTRY_ZH_TW.get(country_code)).cast("string").alias("country_zh"),
        F.round("knn_dist_km", 6).alias("knn_dist_km"),
    )
