"""Set/merge operators (SURVEY.md §2.7 U1-U3, §2.2 P5/J6).

Reference semantics: replace-by-key delete+insert (base.py:694-722,
enhance_data.py:137-142), schema-aligned vertical union (base.py:718),
anti-join merge of new rows above a population floor (enhance_data.py:262-265
— an ``is_in`` that must be a left_anti join at scale).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def replace_by_key(old: DataFrame, new: DataFrame, predicate: Column) -> DataFrame:
    """Delete rows matching ``predicate`` from ``old``, insert ``new``.

    On an Iceberg/Delta sink this is MERGE / overwritePartitions; as a plan
    it is filter + unionByName (both narrow — no shuffle).
    """
    return old.filter(~predicate).unionByName(new)


def union_all(dfs: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), dfs)


def marker_join(df: DataFrame, dup_keys: list[str], *,
                flag_col: str = "has_dup") -> DataFrame:
    """Flag rows whose key combination occurs more than once
    (reference japan.py:281-307: group-count → left join lit(True) →
    fill_null(False)).

    No forced broadcast of ``dups`` — it is a data-dependent aggregate
    that can be corpus-scale on a dup-heavy table (forcing it was the
    same driver-OOM class as the shuffle_hash hazard fixed in
    ``_stats.hint_if_large``).  AQE's runtime join selection broadcasts
    it anyway whenever its ACTUAL size is small (the reference's
    dimension-table case), from measured shuffle statistics instead of a
    guess — small stays fast, huge stays safe."""
    dups = (df.groupBy(*dup_keys).agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") > 1)
            .select(*dup_keys, F.lit(True).alias(flag_col)))
    return (df.join(dups, dup_keys, "left")
            .withColumn(flag_col, F.coalesce(F.col(flag_col), F.lit(False))))


def release_diff(old: DataFrame, new: DataFrame, *, key: str,
                 compare_cols: list[str]) -> DataFrame:
    """Version-to-version release diff (the reference's update workflow —
    update_data.sh regenerates geodata and ships the delta as a release;
    CHANGELOG.md documents per-release added/renamed entries by hand).

    Full-outer keyed join classifying every key as ``added`` / ``removed``
    / ``changed`` / ``unchanged``, with the exact list of differing columns
    for ``changed`` rows (null-safe ``<=>`` comparison, so NULL→value and
    value→NULL edits are detected and NULL==NULL is not a change).

    Scale shape: ONE keyed equi-join (both sides shuffle once on the key —
    AQE picks broadcast when a side is dim-sized); the per-column compare
    is a codegen'd projection; downstream consumers usually filter
    ``status <> 'unchanged'``, which pushes into the join output before
    anything wide happens.
    """
    o = old.select(key, *compare_cols).alias("o")
    n = new.select(key, *compare_cols).alias("n")
    joined = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    o_key, n_key = F.col(f"o.{key}"), F.col(f"n.{key}")
    diffs = F.array_compact(F.array(*[
        F.when(~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")), F.lit(c))
        for c in compare_cols]))
    status = (F.when(o_key.isNull(), F.lit("added"))
              .when(n_key.isNull(), F.lit("removed"))
              .when(F.size(diffs) > 0, F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    return joined.select(
        F.coalesce(o_key, n_key).alias(key),
        status.alias("status"),
        F.when(status == "changed", diffs).alias("changed_cols"),
        *[F.col(f"o.{c}").alias(f"old_{c}") for c in compare_cols],
        *[F.col(f"n.{c}").alias(f"new_{c}") for c in compare_cols])
