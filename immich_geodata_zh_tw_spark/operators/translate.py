"""Name-translation operators (SURVEY.md §2.2 P6/P10, §2.3 J3/J5, §2.4 A3).

Reference semantics:
* per-row metadata coordinate lookup (translate.py:187-215) — an O(N·M) scan
  that is really an equi-join on (country_code, lat, lon) → broadcast join J5;
* alternate-name priority pick: score languages by a priority list, keep the
  top row per geoname_id (alternate_names.py:61-85);
* coalesce fallback chains (translate.py:277-286,323-326) are plain
  ``F.coalesce`` at their call sites;
* null-token normalization: '', 'None', 'nan', '""' → NULL (base.py:389-398).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NULL_TOKENS = ["", '""', "None", "nan"]

#: reference core/constants.py:8 CHINESE_PRIORITY
CHINESE_PRIORITY = ["zh-Hant", "zh-TW", "zh-HK", "zh", "zh-Hans", "zh-CN", "zh-SG"]


def normalize_null_tokens(col: Column) -> Column:
    return F.when(col.isin(NULL_TOKENS), F.lit(None)).otherwise(col)


def metadata_coordinate_join(cities: DataFrame, metadata: DataFrame, *,
                             keys: list[str], attrs: list[str]) -> DataFrame:
    """The J5 win: per-row lookup → broadcast left equi-join on rounded
    coordinates (join-key stability via 8-dp rounding, SURVEY.md §1.3)."""
    meta = metadata.select(*keys, *attrs)
    return cities.join(F.broadcast(meta), keys, "left")


def translate_admin1(admin1: DataFrame, alternate: DataFrame, *,
                     id_col: str = "geoname_id", name_col: str = "name",
                     alt_col: str = "alt_name") -> DataFrame:
    """Admin1 file translation — reference translate.py:380-409
    (``convert_admin_name``): left-join the picked zh alternate name by
    geoname_id, then per row

    * missing/empty alternate  → keep the existing name;
    * simplified alternate     → s2t(alternate);
    * anything else            → the alternate verbatim (the reference
      passes traditional AND non-Chinese alternates straight through);

    ``asciiname`` mirrors the final name (reference :409).  The reference's
    row-wise ``map_elements`` becomes one Arrow kernel call for both
    conversions (s2t for the value, t2s for the simplified fixpoint
    probe) + a broadcastable left join.
    """
    from ..functions import zh

    j = admin1.join(
        F.broadcast(alternate.select(F.col(id_col),
                                     F.col(alt_col).alias("__nr"))),
        id_col, "left")
    nr = F.col("__nr")
    pair = zh.s2t_t2s_udf()(nr)
    new_name = (F.when(nr.isNull() | (nr == ""), F.col(name_col))
                .when(zh.is_chinese(nr) & (pair["t2s"] == nr), pair["s2t"])
                .otherwise(nr))
    # one withColumns (one plan re-analysis, not two); asciiname gets the
    # same expression OBJECT, so Catalyst's Python-UDF extraction sees one
    # canonical kernel call, exactly as the sequential column-copy form did
    return (j.withColumns({name_col: new_name, "asciiname": new_name})
            .drop("__nr"))


def extract_chinese_names_sql(col: str) -> str:
    """F11 — the reference's comma-candidate scan (translate.py:230-263) as
    DuckDB SQL text: the oracles' restatement of
    :func:`extract_chinese_names`.

    Reference loop semantics: scan comma-split ``alternatenames``; return the
    first *traditional* candidate; else s2t(first *simplified* candidate);
    else the first candidate *containing* Han; else NULL.  The loop's
    bookkeeping (the elif chain that can route a second simplified candidate
    into the generic slot) only matters in branches that are unreachable at
    the return: the generic slot is consulted only when no traditional AND no
    simplified candidate exists anywhere — in which case every exclusion is
    vacuous — so three order-preserving ``filter``+first reductions are
    exactly equivalent:

        coalesce(first(trad), s2t(first(simp)), first(contains_han))
    """
    from ..functions.zh import HAS_CHINESE_SQL, IS_CHINESE_SQL, s2t_sql, t2s_sql

    def first(pred: str) -> str:
        return f"(list_filter(string_split({col}, ','), w -> {pred}))[1]"

    is_cn = f"regexp_matches(w, '{IS_CHINESE_SQL['duckdb']}')"
    trad = f"({is_cn} AND {s2t_sql('w')} = w)"
    simp = f"({is_cn} AND {t2s_sql('w')} = w)"
    inc = f"regexp_matches(w, '{HAS_CHINESE_SQL['duckdb']}')"
    return f"coalesce({first(trad)}, {s2t_sql(first(simp))}, {first(inc)})"


def extract_chinese_names(col: str) -> Column:
    """The comma-candidate scan as Spark runs it: JVM regex filters + ONE
    Arrow kernel for the conversion fixpoint probes.

    Same value as the DuckDB text :func:`extract_chinese_names_sql`
    (pinned by tests/test_operators_unit.py):

    * the Han-script predicates are JVM regexes (``IS_CHINESE_SQL`` /
      ``HAS_CHINESE_SQL``; RE2's ``\\p{Han}`` on the DuckDB side) — no
      Python re dialect in the semantics;
    * the kernel scans the is_chinese candidate array in order and probes
      s2t/t2s fixpoints with ``_py_s2t``/``_py_t2s`` (C-speed
      ``str.translate``+``replace``; tests/test_properties.py pins them to
      the DuckDB ``s2t_sql``/``t2s_sql``);
    * candidates repeat heavily in name corpora, so the kernel memoizes
      conversions per batch (bounded by the batch's distinct candidates —
      no cross-run state).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.zh import (HAS_CHINESE_SQL, IS_CHINESE_SQL, _py_s2t,
                                _py_t2s)

    def pick(arrs: pd.Series) -> pd.Series:
        s2t_memo: dict[str, str] = {}
        t2s_memo: dict[str, str] = {}
        out: list[str | None] = []
        for arr in arrs:
            if arr is None:
                out.append(None)
                continue
            best: str | None = None
            for w in arr:
                t = s2t_memo.get(w)
                if t is None:
                    t = s2t_memo[w] = _py_s2t(w)
                if t == w:          # first traditional candidate wins
                    best = w
                    break
                if best is None:    # remember s2t(first simplified)
                    s = t2s_memo.get(w)
                    if s is None:
                        s = t2s_memo[w] = _py_t2s(w)
                    if s == w:
                        best = t
            out.append(best)
        return pd.Series(out, dtype=object)

    pick.__annotations__ = {"arrs": pd.Series, "return": pd.Series}
    pick_udf = pandas_udf(pick, "string")

    cn_arr = F.expr(f"filter(split({col}, ','), "
                    f"w -> regexp_like(w, '{IS_CHINESE_SQL['spark']}'))")
    inc_first = F.expr(f"get(filter(split({col}, ','), "
                       f"w -> regexp_like(w, '{HAS_CHINESE_SQL['spark']}')), 0)")
    return F.coalesce(pick_udf(cn_arr), inc_first)


def fix_li_names(col: Column) -> Column:
    """裏→里 final-name fixup (reference translate.py:313-320).

    Polars ``str.replace`` replaces the FIRST occurrence only; the anchored
    pattern reproduces that (one possible match) under Spark's replace-all
    ``regexp_replace``.
    """
    return F.regexp_replace(col, "裏(.*)$", "里$1")


def priority_pick(df: DataFrame, *, key: str, lang_col: str,
                  priority: list[str] | None = None,
                  preferred_col: str | None = None,
                  tiebreak: list[Column] | None = None) -> DataFrame:
    """Top-1 per key by language priority (lower = better), preferred flag
    wins within a language (reference alternate_names.py:61-85)."""
    if priority is None:
        priority = CHINESE_PRIORITY
    pr = F.array_position(F.array(*[F.lit(p) for p in priority]), F.col(lang_col))
    score = F.when(pr > 0, pr).otherwise(F.lit(len(priority) + 1))
    order = [score.asc()]
    if preferred_col is not None:
        order.append(F.coalesce(F.col(preferred_col), F.lit(0)).desc())
    if tiebreak:
        order.extend(tiebreak)
    from .dedup import keep_best_per_key
    return keep_best_per_key(df, [key], order)
