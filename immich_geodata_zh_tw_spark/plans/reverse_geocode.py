"""Flagship plan: reverse-geocode web pages (SURVEY.md §7.1).

pages(url, warc_ts, html, text, lang)
  → one Arrow pass over (url, html): geo-tag extract → Taiwan bbox → PIP
    refine vs admin polygons (exact admin_1/2/3) → kNN (k=1) pick vs
    cities500-style points                              [plans/geocode_kernel]
  → one JVM select: cell, zh-TW country name, rounded distance
  → url, lat, lon, cell, county, township, village, name, admin1_code

This is the Immich runtime semantic (reference README.md:103 — nearest-
distance match against cities500) fused with the extract-stage polygon
semantics.  The plan is scan → MapInPandas → Project: no exchange, no join,
no second Python stage; the polygons and cities reach the executors as one
broadcast reference per call.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.countries import COUNTRY_ZH_TW
from ..functions.geo import cell_expr
from ..geo import grid
from ..synth import TW_BBOX
from .geocode_kernel import GeocodeReference


def reverse_geocode_pages(spark: SparkSession, pages: DataFrame,
                          polys_pdf: pd.DataFrame, cities_pdf: pd.DataFrame, *,
                          bbox: tuple[float, float, float, float] = TW_BBOX,
                          country_code: str = "TW") -> DataFrame:
    """Full reverse-geocode of a pages table against polygon + point tables."""
    ref = GeocodeReference(polys_pdf, cities_pdf, bbox)
    bc = spark.sparkContext.broadcast(ref)

    def geocode_batches(batches):
        return bc.value.batches(batches)

    rows = pages.select("url", "html").mapInPandas(geocode_batches,
                                                   schema=ref.schema())
    # the zh-TW country name (reference i18n-iso-countries zh-tw.json) of
    # the one country_code per call is a literal, not a dim join; a
    # non-Taiwan invocation passes its own code with its bbox
    return rows.select(
        "url", "lat", "lon",
        cell_expr("lat", "lon", grid.DEFAULT_RES).alias("cell"),
        "county", "township", "village",
        "geoname_id", "name", "admin1_code",
        F.lit(COUNTRY_ZH_TW.get(country_code)).cast("string").alias("country_zh"),
        F.round("knn_dist_km", 6).alias("knn_dist_km"),
    )
