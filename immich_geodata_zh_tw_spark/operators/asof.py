"""As-of join — match each left row to the newest right row at-or-before it.

The classic time-series join Spark's DataFrame API lacks (pandas
``merge_asof``, DuckDB ``ASOF JOIN``): for every left row, find the single
right row with the greatest ``on`` value satisfying ``right.on <= left.on``
within the same ``by`` key (the backward direction; the declared queries use
no other).  The web-scale motivation here is recrawl resolution over
Common-Crawl-style pages (``url``/``warc_ts``): "the newest snapshot of each
url as of T", "the click context preceding each error", "the config active
when each event fired".

Scale shape
-----------
A naive formulation is a range join (``l.by = r.by AND r.on <= l.on`` +
argmax), which Catalyst executes as a broadcast-nested-loop or an exploding
theta-join — quadratic per key.  This operator instead materializes the
union-merge form:

1. tag right rows side=0 / left rows side=1, union on the narrow common
   shape (right payload folded into ONE nullable struct column);
2. one shuffle on ``by``, sort within the window by ``(on, side, tie)``;
3. ``last(payload, ignorenulls=True)`` over rows UNBOUNDED PRECEDING →
   CURRENT ROW gives every left row its newest at-or-before right payload;
4. keep side=1, unpack the struct, apply the optional tolerance as a pure
   projection (the backward match is the newest candidate, so if IT misses
   the tolerance window no candidate makes it — no re-scan needed).

Cost: one shuffle of each side on ``by`` — identical to any equi-join on the
key — and NO row multiplication (a right row is never duplicated per left
row).  Equal-``on`` ties are deterministic: right-before-left at the same
``on`` (inclusive semantics, matching DuckDB's ``l.on >= r.on``), and among
right rows sharing ``(by, on)`` the greatest ``tie_col`` wins.

Skew: the window partitions by ``by``, so one zipfian key (a mega-host's
recrawl history) serializes into a single task's sort.  ``bucket_span``
switches to the two-pass carry form (the same shape as
``textstats.sequence_pack``): rows are windowed inside bounded
``(by, floor(on/span))`` buckets, each bucket is reduced to ONE final-payload
row, a second window over the tiny per-bucket frame cumulates the carry
across a key's bucket timeline, and bucket-local misses coalesce to the
carried payload.  No single task ever sorts more than one bucket; results
are provably bucket-invariant (property-tested in tests/test_asof.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join"]

_SIDE = "__asof_side"
_PAY = "__asof_payload"
_TIE = "__asof_tie"
_BKT = "__asof_bucket"
_CARRY = "__carry"
_BFINAL = "__bucket_final"


def _check(left: DataFrame, right: DataFrame, on: str, by: list[str],
           value_cols: list[str], prefix: str,
           tie_col: str | None) -> None:
    for c in [on, *by, *value_cols,
              *([tie_col] if tie_col is not None else [])]:
        if c not in right.columns:
            raise ValueError(f"right side lacks column {c!r}")
    for c in [on, *by]:
        if c not in left.columns:
            raise ValueError(f"left side lacks column {c!r}")
    if on in value_cols:
        raise ValueError(f"{on!r} is the `on` column — it is always emitted "
                         f"as {prefix + on!r}; drop it from value_cols")
    if len(set(value_cols)) != len(value_cols):
        raise ValueError(f"duplicate value_cols: {value_cols}")
    clash = [prefix + c for c in (on, *value_cols)
             if prefix + c in left.columns]
    if clash:
        raise ValueError(f"output columns {clash} already exist on the left; "
                         f"pick another prefix")
    internal = {_SIDE, _PAY, _TIE, _BKT, _CARRY, _BFINAL}
    bad = internal.intersection(left.columns).union(
        internal.intersection(right.columns))
    if bad:
        raise ValueError(f"columns {sorted(bad)} collide with asof_join's "
                         f"internal working columns; rename them first")


def asof_join(left: DataFrame, right: DataFrame, *, on: str,
              by: list[str] | str, value_cols: list[str] | str,
              tolerance: float | None = None,
              tie_col: str | None = None, prefix: str = "r_",
              bucket_span: float | None = None) -> DataFrame:
    """Left as-of join: every ``left`` row, plus ``prefix + on`` (the matched
    right ``on`` value) and ``prefix + c`` for each payload column — all NULL
    when no right row qualifies.

    Parameters
    ----------
    on : ordering column (timestamp or numeric), present on both sides.
    by : equi-key column(s).
    value_cols : right columns carried onto matches.
    tolerance : max allowed ``l.on - r.on`` — SECONDS when ``on`` is a
        timestamp, else in ``on``'s own units; matches farther away are
        nulled out (pure projection — see module docstring step 4).
    tie_col : numeric column making the winner among right rows sharing
        ``(by, on)`` deterministic — greatest value wins.  Without it,
        equal-key-equal-``on`` right duplicates make the match
        nondeterministic (documented, not checked: verifying
        uniqueness would cost a shuffle).
    bucket_span : span of the mega-key escape hatch, in the same units as
        ``tolerance``.  Bounds every window partition to one
        ``(by, bucket)`` slice; see module docstring.
    """
    by = [by] if isinstance(by, str) else list(by)
    value_cols = ([value_cols] if isinstance(value_cols, str)
                  else list(value_cols))
    _check(left, right, on, by, value_cols, prefix, tie_col)

    on_type = dict(left.dtypes)[on]
    is_ts = on_type.startswith("timestamp")
    # tolerance/bucket_span are SECONDS for timestamps; the arithmetic runs
    # in integer MICROSECONDS (exact — epoch-2024 magnitudes have ~0.5 µs
    # double ulp, enough to corrupt a sub-µs tolerance as float seconds)
    unit = 1_000_000.0 if is_ts else 1.0

    is_int = on_type in ("tinyint", "smallint", "int", "bigint")

    def _exact_num(col: Column) -> Column:
        """``on`` as an EXACT number where the type allows it: long micros
        for timestamps (the seconds-truncating unix_timestamp would break
        sub-second order), the long value itself for integral columns (a
        double cast would lose ulp-scale precision above 2^53 — snowflake
        ids — the same reason _TIE keeps its own type), double for
        genuinely fractional columns.  TIMESTAMP_NTZ has no epoch instant,
        so it counts wall-clock micros from 1970-01-01T00:00 — tz-free and
        session-setting-independent (unix_micros would reject it)."""
        if on_type == "timestamp_ntz":
            epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
            return F.timestamp_diff("MICROSECOND", epoch, col)
        if is_ts:
            return F.unix_micros(col)
        if is_int:
            return col.cast("long")
        return col.cast("double")

    def _num(col: Column) -> Column:
        """``on`` as a double, for the BUCKET math only: floor(x/span)
        stays monotonic non-decreasing in scan order under double rounding
        (long→double never inverts order), so bucketing — whose only
        contract is a deterministic monotone partition of the timeline —
        is correct at any magnitude; boundary placement may shift by ulp,
        which the bucket-invariance property covers.  Match/tolerance
        decisions never use this — they run on `_exact_num`."""
        return _exact_num(col).cast("double")

    payload = F.struct(F.col(on).alias("matched_on"),
                       *[F.col(c).alias(c) for c in value_cols])
    # NULL `on` never matches (DuckDB ASOF / pandas merge_asof semantics):
    # a NULL-ts right row would otherwise sort NULLS-FIRST into the window
    # scan and act as an "earliest ever" candidate — drop it here; NULL-ts
    # LEFT rows keep their row but get a NULL payload (guard on `out`)
    right = right.filter(F.col(on).isNotNull())
    # _TIE keeps the column's OWN type — a cast to double would collapse
    # 64-bit ids above 2^53 (snowflake ids) and silently void determinism
    tie = F.col(tie_col) if tie_col is not None else F.lit(0)
    r = right.select(*by, F.col(on).alias(on),
                     payload.alias(_PAY), F.lit(0).alias(_SIDE),
                     tie.alias(_TIE))
    tie_type = r.schema[_TIE].dataType
    l = left.select(*left.columns,
                    F.lit(None).cast(r.schema[_PAY].dataType).alias(_PAY),
                    F.lit(1).alias(_SIDE), F.lit(0).cast(tie_type)
                    .alias(_TIE))
    u = l.unionByName(r, allowMissingColumns=True)

    # "greatest tie wins" = the candidate closest in scan order
    order_cols = [F.col(on).asc(), F.col(_SIDE).asc(), F.col(_TIE).asc()]

    if bucket_span is None:
        w = (Window.partitionBy(*by).orderBy(*order_cols)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        matched = u.withColumn(_PAY, F.last(_PAY, ignorenulls=True).over(w))
    else:
        bkt = F.floor(_num(F.col(on)) / F.lit(float(bucket_span) * unit))
        ub = u.withColumn(_BKT, bkt)
        # pass 1: the SAME scan, but windowed inside one (by, bucket) slice
        wl = (Window.partitionBy(*by, _BKT).orderBy(*order_cols)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        local = ub.withColumn(_PAY, F.last(_PAY, ignorenulls=True).over(wl))
        # pass 2: one row per (by, bucket) — the payload at the bucket's
        # scan-order-final row (max_by over the exact-typed key tuple: a
        # double k1 could collapse distinct >2^53 integer on-values and
        # let k2/k3 pick the WRONG final row)
        fin_key = F.struct(_exact_num(F.col(on)).alias("k1"),
                           F.col(_SIDE).alias("k2"),
                           F.col(_TIE).alias("k3"))
        per_bucket = (local.groupBy(*by, _BKT)
                      .agg(F.max_by(_PAY, fin_key).alias(_BFINAL)))
        wc = (Window.partitionBy(*by).orderBy(F.col(_BKT).asc())
              .rowsBetween(Window.unboundedPreceding, -1))
        carry = per_bucket.withColumn(
            _CARRY,
            F.last(_BFINAL, ignorenulls=True).over(wc)).select(
            *by, _BKT, _CARRY)
        matched = (local.join(carry, [*by, _BKT], "left")
                   .withColumn(_PAY, F.coalesce(_PAY, _CARRY))
                   .drop(_CARRY, _BKT))

    out = matched.filter(F.col(_SIDE) == 1)
    # NULL-`on` left rows keep their row, match nothing (see the right-side
    # filter above); without this a NULL left row would inherit whatever
    # payload its NULLS-FIRST/LAST sort position happened to scan past
    out = out.withColumn(_PAY, F.when(F.col(on).isNotNull(), F.col(_PAY)))
    if tolerance is not None:
        # exact-typed gap: for timestamps / integral `on` both operands are
        # long, so the subtraction is exact at any magnitude (a double gap
        # mis-rounds near the threshold above 2^53); an integer gap against
        # a fractional tolerance compares via floor (gap ≤ 2.5 ≡ gap ≤ 2)
        gap = (_exact_num(F.col(on))
               - _exact_num(F.col(_PAY + ".matched_on")))
        tol_units = float(tolerance) * unit
        bound = (F.lit(min(int(tol_units // 1), 2 ** 63 - 1))
                 if is_ts or is_int else F.lit(tol_units))
        out = out.withColumn(_PAY, F.when(gap <= bound, F.col(_PAY)))
    sel = [F.col(c) for c in left.columns]
    sel.append(F.col(_PAY + ".matched_on").alias(prefix + on))
    sel += [F.col(f"{_PAY}.{c}").alias(prefix + c) for c in value_cols]
    return out.select(*sel)
