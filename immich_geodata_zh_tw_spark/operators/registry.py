"""Per-country extraction-strategy registry (reference base.py:725-760).

The reference dispatches country-specific geometry→GEODATA logic through a
``@register_handler("TW")`` decorator + ``get_handler(cc)`` lookup; the
release pipeline iterates registered countries.  The engine keeps the same
dispatch shape, but a handler *emits a Catalyst plan* (a DataFrame in the
GEODATA schema — latitude, longitude, country, admin_1..admin_4; reference
core/schemas.py:18-28) instead of running eager Polars code.

Built-in handlers wire the already-tested country rule operators:

* TW — column select/alias + 臺灣 literal (reference taiwan.py:84-94);
* JP — Japan R1-R5 admin_2 when-chain + gun-duplicate marker
  (reference japan.py:227-337 → operators/admin_rules.japan_admin2_rules);
* KR — city/district regex split + admin_3 prefix strip + Sejong
  normalization (reference south_korea.py:173-295,418-443 →
  operators/admin_rules korea_* + sejong_normalize).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .admin_rules import (japan_admin2_rules, korea_admin3_strip,
                          korea_split_city_district, sejong_normalize)

#: handler: raw per-country geometry-attribute DataFrame → GEODATA DataFrame
Handler = Callable[[DataFrame], DataFrame]

_HANDLER_REGISTRY: dict[str, Handler] = {}

GEODATA_COLS = ["latitude", "longitude", "country",
                "admin_1", "admin_2", "admin_3", "admin_4"]


def register_handler(country_code: str):
    """Decorator registering a handler under an ISO 3166-1 alpha-2 code
    (reference base.py:728-739)."""
    def decorator(fn: Handler) -> Handler:
        _HANDLER_REGISTRY[country_code.upper()] = fn
        return fn
    return decorator


def get_handler(country_code: str) -> Handler:
    """Lookup with the reference's error contract (base.py:742-760)."""
    cc = country_code.upper()
    if cc not in _HANDLER_REGISTRY:
        available = ", ".join(sorted(_HANDLER_REGISTRY))
        raise ValueError(f"no handler for country {cc!r}; available: {available}")
    return _HANDLER_REGISTRY[cc]


def _geodata_select(df: DataFrame, *, country: str,
                    admin_1, admin_2, admin_3=None, admin_4=None) -> DataFrame:
    null_s = F.lit(None).cast("string")
    return df.select(
        F.col("latitude").cast("double").alias("latitude"),
        F.col("longitude").cast("double").alias("longitude"),
        F.lit(country).alias("country"),
        admin_1.alias("admin_1"),
        admin_2.alias("admin_2"),
        (admin_3 if admin_3 is not None else null_s).alias("admin_3"),
        (admin_4 if admin_4 is not None else null_s).alias("admin_4"))


@register_handler("TW")
def taiwan_handler(df: DataFrame) -> DataFrame:
    """NLSC village rows → GEODATA (reference taiwan.py:84-94): county /
    township / village columns pass through under the 臺灣 country literal."""
    return _geodata_select(df, country="臺灣",
                           admin_1=F.col("COUNTYNAME"),
                           admin_2=F.col("TOWNNAME"),
                           admin_3=F.col("VILLNAME"))


@register_handler("JP")
def japan_handler(df: DataFrame) -> DataFrame:
    """MLIT municipality rows → GEODATA (reference japan.py:172-357):
    R1-R5 when-chain derives admin_2, prefecture is admin_1."""
    ruled = japan_admin2_rules(df)
    return _geodata_select(ruled, country="日本",
                           admin_1=F.col("N03_001"),
                           admin_2=F.col("admin_2"))


@register_handler("KR")
def korea_handler(df: DataFrame) -> DataFrame:
    """admdongkor rows → GEODATA (reference south_korea.py:350-631):
    admin_3 strip → Sejong normalization → city/district split."""
    stripped = korea_admin3_strip(df)
    normalized = sejong_normalize(stripped)
    split = korea_split_city_district(normalized)
    return _geodata_select(split, country="韓國",
                           admin_1=F.col("sidonm"),
                           admin_2=F.col("city"),
                           admin_3=F.col("district"),
                           admin_4=F.col("admin_3"))
