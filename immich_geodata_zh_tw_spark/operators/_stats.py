"""Scale-safe join-strategy correction for UDF-derived fan-out frames.

Catalyst cannot see through an ArrowEvalPython node: a corpus-derived
frame that EXPLODES behind a pandas UDF (shingle hashes, band signatures,
LSH table sigs) keeps the *pre-fan-out* scan estimate, so once the input
parquet is small enough the planner happily BROADCASTS the exploded
corpus — a single-threaded hashed-relation build locally
(``BENCH/BENCH_r5_scaling_dedup.json``: 31 M-row broadcast builds
serialized the scoring stage) and a driver OOM at real scale.

``hint_if_large`` re-derives the decision from the statistic Catalyst
gets RIGHT — the source frame's estimated bytes — times a call-site
fan-out multiplier (how many bytes of join-side rows one source byte
becomes, hashed-relation overhead included).  Under the session's
broadcast threshold the frame is left unhinted (broadcast stays the
fast path for genuinely small corpora — measured +2.2 s on the sf0.1
jaccard bench row when force-hinted); over it, ``merge`` forces
SORT-MERGE — the only strategy that is spillable on BOTH sides.  The
first version of this hint used ``shuffle_hash`` there; a 1.6 M-doc
stress run killed it with ``Can't acquire 268435456 bytes memory to
build hash relation``: the per-partition hashed-relation build is
non-spillable, and the true build width of an exploded hash frame runs
~30× the compressed scan estimate (snappy text compresses far better
than fixed-width hash rows), so no static estimate can safely budget
it.  Sort-merge costs a sort per side but cannot OOM at any corpus
size — the 100-TB-first trade.  Unknown stats or an unparsable
threshold fail toward the hint — the scale-safe side.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_UNITS = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
          "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30}


def _parse_bytes(v: str) -> int | None:
    m = re.fullmatch(r"(-?\d+)\s*([a-zA-Z]{0,2})", v.strip())
    if not m or m.group(2).lower() not in _UNITS:
        return None
    return int(m.group(1)) * _UNITS[m.group(2).lower()]


def estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate (bytes), or None."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return int(size if isinstance(size, int) else size.toString())
    except Exception:
        return None


def broadcast_budget_ok(source: DataFrame, *, fanout: float) -> bool:
    """True iff ``source``'s estimate × ``fanout`` fits the session's
    broadcast threshold — the gate for small-corpus fast paths that ship a
    corpus-derived structure as a broadcast (e.g. the jaccard scoring
    kernel's hash-set dict).  Same statistic and knob as
    :func:`hint_if_large`, same failure direction: unknown stats or a
    disabled threshold answer False (the scale-safe join path)."""
    try:
        raw = source.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold")
    except Exception:
        return False
    thr = _parse_bytes(raw) if raw is not None else None
    est = estimated_bytes(source)
    return (thr is not None and thr > 0 and est is not None
            and est * fanout <= thr)


def hint_if_large(derived: DataFrame, source: DataFrame, *,
                  fanout: float) -> DataFrame:
    """``derived`` (a fan-out frame computed from ``source`` behind a
    Python UDF) gets a spill-safe ``merge`` hint unless ``source``'s
    estimate × ``fanout`` fits under the session broadcast threshold
    (module docstring: why merge and not shuffle_hash)."""
    try:
        raw = source.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold")
    except Exception:
        raw = None
    thr = _parse_bytes(raw) if raw is not None else None
    est = estimated_bytes(source)
    if thr is not None and thr > 0 and est is not None \
            and est * fanout <= thr:
        return derived
    return derived.hint("merge")
