"""Flagship plan: reverse-geocode web pages (SURVEY.md §7.1).

pages(url, warc_ts, html, text, lang)
  → Arrow-UDF extract: (url, lat, lon, text)           [extract/html_meta]
  → non-null + Taiwan-bbox filter                       [P2; pushdown-friendly]
  → grid cell in Column algebra                         [functions/geo]
  → PIP join vs admin polygons (exact admin_1/2/3)      [operators/pipjoin]
  → kNN (k=1) naming join vs cities500-style points     [operators/knn]
  → url, lat, lon, cell, county, township, village, name, admin1_code

This is the Immich runtime semantic (reference README.md:103 — nearest-
distance match against cities500) fused with the extract-stage polygon
semantics, expressed as one Catalyst plan: the pages side crosses exactly one
exchange (the round-robin repartition after the bbox filter); every join is
broadcast, and the kNN pick is a per-row ``array_min`` over the broadcast
ring candidates — no aggregation on the pages side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extract.html_meta import extract_pages
from ..functions.countries import localize_country
from ..functions.geo import cell_expr, in_bbox
from ..geo import grid
from ..operators.knn import (knn_join, knn_join_static, max_nn_spacing_km,
                             min_cell_km)
from ..operators.pipjoin import pip_join
from ..synth import TW_BBOX

# res 10 ⇒ k=1 exactness guard ≈ 17.6 km > the 12.2 km worst-case
# nearest-centroid distance of the village tiling, so virtually every row
# settles in the zero-shuffle static path — one broadcast join + codegen.
# The kNN ring grid is the PIP prefilter grid because an INTERLEAVED
# same-session A/B (noop-measured, 2 M pages/32 cores) put a res-12 ring
# with k=3 at 3.79 s vs 3.13 s here, even though the kNN stage ALONE
# measured faster at 12/3 (0.93 vs 1.30 s over uniform synthetic points) —
# sharing res lets the per-row cell encode CSE across the PIP and kNN joins,
# and the 9-entry ring map beats the 49-entry one on broadcast build+probe.
RES = 10      # PIP prefilter grid
KNN_RES = 10  # kNN ring grid
KNN_K = 1     # ring radius in cells


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

    polys = polys_pdf.reset_index(drop=True).copy()
    polys.insert(0, "poly_id", range(len(polys)))
    with_admin = pip_join(
        spark, pts, polys[["poly_id", "geometry_wkb", "county", "township", "village"]],
        id_col="poly_id", attr_cols=["county", "township", "village"], res=RES,
    ).drop("poly_id")

    # exactness precondition for the static (single-pass, action-free) kNN:
    # the k-ring at KNN_RES must cover the worst-case nearest-centroid distance
    # of the cities table.  We MEASURE that from the data: the max nearest-
    # neighbor spacing of the (driver-resident) cities table is a covering-
    # radius proxy for tiling-derived point sets (adjacent tile centroids are
    # one tile apart; half-diagonal ≤ NN spacing at aspect ratio ≤ ~1.4).
    # The measurement is an exact grid-bucketed search, near-linear in the
    # table size (0.02 s at 8,000 villages, ~1 s at the global cities500's
    # ~200 k points; the O(n²) scan it replaced took 3.5 s at 8,000 and was
    # the bulk of this plan's build time).  When the check fails — sparse or
    # irregular cities tables — fall back to the general kNN join, whose
    # per-row guard + full-array CASE fallback is exact for any point set
    # (VERDICT.md round-1 item 5 / ADVICE.md item 2).
    guard_km = KNN_K * min_cell_km(KNN_RES,
                                   max(abs(bbox[0]), abs(bbox[1])) + 1.0)
    spacing_km = max_nn_spacing_km(cities_pdf)
    if spacing_km <= guard_km:
        named = knn_join_static(
            spark, with_admin, cities_pdf, query_id="url",
            place_cols=["geoname_id", "name", "admin1_code"],
            res=KNN_RES, k=KNN_K)
    else:
        named = knn_join(
            spark, with_admin, cities_pdf, query_id="url",
            place_cols=["geoname_id", "name", "admin1_code"],
            res=KNN_RES, k=KNN_K)
    # localized country display name (reference i18n-iso-countries zh-tw.json
    # via Immich's display path, README.md:103) — broadcast dim join.
    # country_code travels with bbox: a non-Taiwan invocation passes its own
    # code and gets that country's zh-TW name (ADVICE.md round-2 item 5)
    localized = localize_country(
        named.withColumn("country_code", F.lit(country_code)))
    return localized.select(
        "url", "lat", "lon",
        cell_expr(F.col("lat"), F.col("lon"), grid.DEFAULT_RES).alias("cell"),
        "county", "township", "village",
        "geoname_id", "name", "admin1_code", "country_zh",
        F.round("knn_dist_km", 6).alias("knn_dist_km"),
    )
