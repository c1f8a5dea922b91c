"""The reference's `main.py release` data pipeline as Catalyst plans.

Re-expresses the enhance + translate stages (reference core/enhance_data.py,
core/translate.py, core/geodata/base.py — see SURVEY.md §3.1) on DataFrames:

* ``enhance_countries``      — every handler country in one plan: ONE
  bounded driver action returns the global max id (A4,
  core/utils/geoname_ids.py:36-75) and each country's admin1 and city
  counts, from which the driver threads the reference's ``current_max_id``
  (run_release's enhance stage and the declared ``release_pipeline`` query);
* ``generate_admin1_records`` — distinct (country, admin_1) → zero-padded
  rank codes + sequential geoname ids (base.py:493-592, :627-671);
* ``convert_to_cities_schema`` — GEODATA rows → cities500 rows: 8-dp rounded
  coordinates, admin1-code lookup, sequential ids (base.py:71-188);
* ``update_admin1``          — delete-by-prefix + insert (enhance_data.py:137-142);
* ``merge_extra_data``       — anti-join new rows ≥ population floor, then
  coordinate dedup keep-max-pop/min-id (enhance_data.py:222-297);
* ``translate_cities500``    — metadata coordinate join (J5) + alternate-name
  priority pick (A3) + coalesce chain (P10) + TW passthrough
  (translate.py:149-338).

Both id allocations (W1) here are a plain ``row_number()`` over a window
partitioned by country, plus the country's base as a literal.  The
10^12-row ``ids.sequential_ids_scalable`` is the allocator of the declared
``seq_id_assign`` query only.

Handler rows are one country's admin units (thousands of rows), so
``enhance_countries`` puts their union on ONE partition with a narrow
``coalesce(1)``: the admin1 distinct, both per-country windows and the
counts ``groupBy`` then find their distribution met and plan no exchange.
The global max id is one ``max`` over the union of the id columns.

Everything is built from the operator library; no step shuffles more than the
keys + payload it aggregates, and all dimension sides are broadcastable.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.dedup import coordinate_dedup
from ..operators.merge import replace_by_key, union_all
from ..operators.registry import GEODATA_COLS
from ..operators.translate import (CHINESE_PRIORITY, extract_chinese_names,
                                   fix_li_names, metadata_coordinate_join,
                                   normalize_null_tokens, priority_pick)

COORD_DECIMAL_PLACES = 8  # reference base.py:24-25

#: the full-column sort that orders a country's city id allocation
#: (base.py:137-143)
CITIES_SORT_COLS = ["country", "admin_1", "admin_2", "admin_3", "admin_4",
                    "latitude", "longitude"]


def global_max_geoname_id_df(tables: list[DataFrame],
                             id_col: str = "geoname_id") -> DataFrame:
    """One-row ``(m)`` subplan: max id across all id-bearing tables
    (geoname_ids.py:36-75), un-collected so ``enhance_countries`` fuses it
    with the per-country counts into ONE driver action.

    ONE ``max`` over the union of the id columns: one partial aggregate per
    scan and one exchange, not an aggregate and an exchange per table.  A
    NULL id is skipped; when every table is empty ``m`` is NULL.  A
    non-numeric id fails the cast under ANSI mode (Spark's default, and the
    reference's strict cast) and is skipped as NULL without it."""
    ids = [t.select(F.col(id_col).cast("long").alias("m")) for t in tables]
    return reduce(DataFrame.unionByName, ids).agg(F.max("m").alias("m"))


def _country_ids(order: list[str], bases: dict[str, int]) -> Column:
    """``bases[country_code] + row_number() - 1`` within each country: the
    bases are ONE parsed CASE of long literals, not a py4j call each."""
    arms = " ".join(f"WHEN '{cc}' THEN {b}L" for cc, b in bases.items())
    w = Window.partitionBy("country_code").orderBy(*order)
    return (F.row_number().over(w) - 1
            + F.expr(f"CASE country_code {arms} END")).cast("string")


def enhance_countries(geodata: dict[str, DataFrame],
                      id_tables: list[DataFrame]
                      ) -> tuple[DataFrame, DataFrame, dict[str, int]]:
    """Admin1 records and cities500 rows of every handler country
    (enhance_data.py:10-68): ``(admin1, cities, city_bases)``.

    ``geodata`` maps a country code to its handler's GEODATA rows.  ONE
    bounded driver action returns the max id of ``id_tables`` and each
    country's admin1-record and city-row counts; from them the driver
    threads the reference's ``current_max_id`` (countries in sorted order,
    admin1 ids first, then city ids) into per-country base literals.
    """
    # dimension-sized rows on ONE partition: the distinct, windows and
    # counts below plan no Exchange (module docstring)
    g = union_all([geodata[cc].select(F.lit(cc).alias("country_code"),
                                      *GEODATA_COLS)
                   for cc in sorted(geodata)]).coalesce(1)
    counts = g.groupBy("country_code").agg(
        (F.count_distinct("admin_1")  # + 1 for a NULL admin_1, its own row
         + F.max(F.col("admin_1").isNull().cast("int"))).alias("n_a1"),
        F.count(F.when(F.col("latitude").isNotNull()
                       & F.col("longitude").isNotNull(), 1)).alias("n_cities"))
    row = (global_max_geoname_id_df(id_tables)
           .crossJoin(counts.agg(F.collect_list(F.struct(*counts.columns))
                                 .alias("n")))
           .first())
    n = {r.country_code: (r.n_a1, r.n_cities) for r in row.n}
    current = (row.m or 0) + 1
    a1_bases, city_bases = {}, {}
    for cc in sorted(geodata):
        n_a1, n_cities = n.get(cc, (0, 0))
        a1_bases[cc], city_bases[cc] = current, current + n_a1
        current += n_a1 + n_cities  # reference threads current_max_id
    admin1 = generate_admin1_records(g, bases=a1_bases)
    cities = convert_to_cities_schema(g, bases=city_bases, admin1_codes=admin1)
    return admin1, cities, city_bases


def generate_admin1_records(geodata: DataFrame, *,
                            bases: dict[str, int]) -> DataFrame:
    """One ADMIN1 row per distinct (country_code, admin_1): code
    ``CC.<rank>`` (zero-padded to the digits of the country's count,
    alphabetical, NULL first) + sequential geoname ids from the country's
    base in ``bases`` (base.py:493-592, :627-671).

    Like the city rows (``convert_to_cities_schema``), the ids come from a
    plain window partitioned by country, not ``ids.sequential_ids_scalable``:
    handler rows are one country's admin units (tens of admin_1 names,
    thousands of rows, never cities500), and at that size the scalable
    allocator's boundary sample, range join, count and offsets window cost
    more than its sort saves (BENCH/BASELINE.md).
    """
    distinct = geodata.select("country_code", "admin_1").distinct()
    by_cc = Window.partitionBy("country_code")
    rank = F.row_number().over(by_cc.orderBy("admin_1")).cast("string")
    width = F.length(F.count(F.lit(1)).over(by_cc).cast("string"))
    return distinct.select(
        F.concat("country_code", F.lit("."),
                 F.lpad(rank, width, "0")).alias("id"),
        F.col("admin_1").alias("name"),
        F.col("admin_1").alias("asciiname"),
        _country_ids(["admin_1"], bases).alias("geoname_id"))


def update_admin1(admin1: DataFrame, new_records: DataFrame, *,
                  country_codes: list[str]) -> DataFrame:
    """Replace the countries' admin1 rows (delete-by-prefix + insert,
    enhance_data.py:137-142)."""
    return replace_by_key(admin1, new_records, reduce(Column.__or__, [
        F.col("id").startswith(f"{cc}.") for cc in country_codes]))


def convert_to_cities_schema(geodata: DataFrame, *, bases: dict[str, int],
                             admin1_codes: DataFrame) -> DataFrame:
    """GEODATA rows (with ``country_code``) → cities500-shaped rows
    (base.py:71-188).

    * rows without a coordinate dropped, coordinates rounded to 8 dp
      (join-key stability, SURVEY §1.3), admin null tokens → NULL;
    * admin1_code via broadcast join against the admin1 table on
      (country, admin_1) (J7 — the reference's per-country dict lookup);
    * geoname ids allocated sequentially per country after the
      full-column sort (W1), from the country's base in ``bases``.
    """
    g = geodata.filter(F.col("latitude").isNotNull()
                       & F.col("longitude").isNotNull()).select(
        "country_code", "country",
        *[normalize_null_tokens(F.col(c)).alias(c)
          for c in ("admin_1", "admin_2", "admin_3", "admin_4")],
        *[F.round(c, COORD_DECIMAL_PLACES).alias(c)
          for c in ("latitude", "longitude")])
    parts = F.split(F.col("id"), "\\.")
    a1 = admin1_codes.select(
        parts[0].alias("country_code"), F.col("name").alias("admin_1"),
        F.element_at(parts, -1).alias("admin1_code"))
    g = g.join(F.broadcast(a1), ["country_code", "admin_1"], "left")
    name = F.coalesce(F.col("admin_3"), F.col("admin_2"), F.col("admin_1"))
    return g.select(
        _country_ids(CITIES_SORT_COLS, bases).alias("geoname_id"),
        name.alias("name"),
        name.alias("asciiname"),
        F.lit(None).cast("string").alias("alternatenames"),
        "latitude", "longitude",
        F.lit("A").alias("feature_class"),
        F.lit("ADM3").alias("feature_code"),
        "country_code",
        F.lit(None).cast("string").alias("cc2"),
        "admin1_code",
        F.col("admin_2").alias("admin2_code"),
        F.lit(None).cast("string").alias("admin3_code"),
        F.lit(None).cast("string").alias("admin4_code"),
        F.lit(0).alias("population"),
        F.lit(None).cast("string").alias("elevation"),
        F.lit(0).alias("dem"),
        F.lit("Asia/Taipei").alias("timezone"),
        F.current_date().alias("modification_date"),
    )


def merge_extra_data(cities: DataFrame, extra: DataFrame, *,
                     min_population: int = 100) -> DataFrame:
    """Add missing high-population rows, then coordinate-dedup
    (enhance_data.py:222-297): keep max population, tie → min geoname_id."""
    new_rows = (extra.join(cities.select("geoname_id"), "geoname_id", "left_anti")
                .filter(F.col("population") >= min_population))
    merged = cities.unionByName(new_rows)
    return coordinate_dedup(
        merged.withColumn("geoname_id", F.col("geoname_id").cast("long"))
    ).withColumn("geoname_id", F.col("geoname_id").cast("string"))


def replace_country_rows(cities: DataFrame, handler_rows: DataFrame, *,
                         country_codes: list[str]) -> DataFrame:
    """U3: drop the countries' rows, insert the handler-generated ones
    (base.py:694-722)."""
    return replace_by_key(cities, handler_rows,
                          F.col("country_code").isin(country_codes))


def pick_chinese_names(alternate_names: DataFrame) -> DataFrame:
    """Top-priority Chinese alternate name per geoname_id
    (alternate_names.py:41-90), including the 桃園縣→桃園市 rewrite."""
    zh = alternate_names.filter(F.col("lang").isin(CHINESE_PRIORITY))
    best = priority_pick(zh, key="geoname_id", lang_col="lang",
                         preferred_col="is_preferred_name",
                         tiebreak=[F.col("name").asc()])
    return best.select(
        "geoname_id",
        F.regexp_replace(F.col("name"), "桃園縣", "桃園市").alias("alternate_name"))


def translate_cities500(cities: DataFrame, metadata: DataFrame,
                        chinese_names: DataFrame, *,
                        passthrough_country: str = "TW") -> DataFrame:
    """translate.py:149-338 as one plan, all steps:

    1. metadata coordinate join (J5, on 8-dp rounded coords + country),
       gated exactly like the reference's translate_from_metadata
       (translate.py:200-207): a non-Chinese metadata name yields NULL
       (falling through to the alternate-name tiers), a simplified one is
       s2t-converted, a traditional one passes as-is (ADVICE.md round-2
       item 1 — round 2 emitted raw metadata names verbatim);
    2. alternate-name left join (J3), s2t-converted unless already
       traditional (translate.py:219-229);
    3. ``extract_chinese_names`` comma-candidate scan over ``alternatenames``
       (F11, translate.py:230-263) — pure JVM expression;
    3.5. empty-string → NULL so the coalesce skips blanks;
    4. final = coalesce(metadata, alternate, extracted) (translate.py:277-286);
    4.5. passthrough: rows of ``passthrough_country`` keep their original
       (already-localized) name;
    5/6. 裏→里 final-name fixup, first occurrence (translate.py:313-320);
    7. name = asciiname = coalesce(final, name) (translate.py:323-326).
    """
    from ..functions import zh

    meta = metadata.select(
        F.col("country_code"), F.col("latitude"), F.col("longitude"),
        F.col("admin_2").alias("meta_name"))
    joined = metadata_coordinate_join(
        cities, meta, keys=["country_code", "latitude", "longitude"],
        attrs=["meta_name"])
    joined = joined.join(F.broadcast(chinese_names), "geoname_id", "left")

    # Value-identical restatement of the reference gate (translate.py:200-207):
    #   non-Chinese            → NULL            (reference: fall through)
    #   s2t-fixpoint           → meta            (= s2t(meta) there anyway)
    #   t2s-fixpoint           → s2t(meta)       (proper simplified)
    #   mixed (neither)        → meta            (reference passes verbatim)
    # Both conversions come from ONE Arrow kernel call per row
    # (zh.s2t_t2s_udf; the DuckDB oracle runs zh.s2t_sql/t2s_sql), not once
    # per branch of this CASE.
    meta_name = F.col("meta_name")
    pair = zh.s2t_t2s_udf()(meta_name)
    meta_translated = (F.when(~zh.is_chinese(meta_name), F.lit(None))
                       .when(pair["s2t"] == meta_name, meta_name)
                       .when(pair["t2s"] == meta_name, pair["s2t"])
                       .otherwise(meta_name))

    # when alt is fully-Han traditional, s2t(alt) == alt — so the reference's
    # "keep if traditional else convert" (translate.py:219-229) is exactly
    # s2t(alt): one kernel instead of a fixpoint probe plus a fold
    alt = F.col("alternate_name")
    alt_translated = zh.s2t_udf()(alt)
    if "alternatenames" in cities.columns:
        extracted = extract_chinese_names("alternatenames")
    else:  # engine-generated cities rows carry no alternatenames
        extracted = F.lit(None).cast("string")

    def blank_to_null(c):
        return F.when(c == "", F.lit(None)).otherwise(c)

    final = F.coalesce(blank_to_null(meta_translated),
                       blank_to_null(alt_translated),
                       blank_to_null(extracted))
    final = F.when(F.col("country_code") == passthrough_country,
                   F.col("name")).otherwise(final)
    final = fix_li_names(final)
    named = F.coalesce(final, F.col("name"))
    # ONE select instead of withColumn×2 + drop: each of those re-analyzes
    # the deepest plan of the whole release pipeline driver-side (guide §5
    # — plan construction was ~half this query's bench time at sf0.1);
    # same columns, same order (replace-in-place when present, append when
    # absent — the withColumn contract), same values
    out = [named.alias(c) if c in ("name", "asciiname") else c
           for c in joined.columns if c not in ("meta_name", "alternate_name")]
    out += [named.alias(c) for c in ("name", "asciiname")
            if c not in joined.columns]
    return joined.select(*out)
