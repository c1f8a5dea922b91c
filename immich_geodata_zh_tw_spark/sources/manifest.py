"""Checkpoint manifests: per-partition lineage + metrics, resumable runs.

North-rule mapping of the reference's resumability features (SURVEY.md §2.10):

* R1 resume-by-key (generate_geodata_locationiq.py:164-202) → only the
  splits without an ``ok`` manifest row are pending;
* R2 batched checkpoint writes (:264-278) → per-split dynamic-partition
  overwrite, manifest row appended only after the split's data is committed
  (a split without a manifest row is retried — idempotent because the re-run
  overwrites exactly that partition);
* R4 versioned cache schema (wikidata_translator.py:623-668) → explicit
  ``schema_version`` column in every manifest row.

At 10^12 rows the unit of work is a *split* (a coarse partition of the input,
e.g. a date or an id range), not a Spark task: task retries are Spark-native
(R5); the manifest makes whole-job restarts cheap.

Every manifest value comes from a job the run makes anyway (the jobs are
listed in :func:`checkpointed_run`).
"""

from __future__ import annotations

import time
import uuid

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA_VERSION = 1


def completed_splits(spark: SparkSession, manifest_path: str,
                     split_type: str) -> set:
    """Split ids already committed (status='ok') as ``split_type`` (a DDL
    type: int ids read as bigint too); empty when nothing exists at
    ``manifest_path`` yet, an error when what exists is not a manifest.

    A NULL ``split_id`` (committed by older code from an all-NULL split
    column) is ignored: in ``NOT IN`` it would filter out every row.

    A manifest that older code wrote for a bigint split column holds int
    ``split_id`` files next to this code's bigint ones, so any other
    reader must pass an explicit schema too: a plain
    ``spark.read.parquet`` of it fails with
    ``PARQUET_COLUMN_DATA_TYPE_MISMATCH``."""
    try:
        m = spark.read.schema(f"split_id {split_type}, status string").parquet(
            manifest_path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return set()
        raise
    ok = m.filter((F.col("status") == "ok") & F.col("split_id").isNotNull())
    return {r.split_id for r in ok.collect()}


def checkpointed_run(spark: SparkSession, df: DataFrame, *, split_col: str,
                     process, output_path: str, manifest_path: str,
                     run_id: str | None = None,
                     batch_size: int | None = None) -> dict:
    """Process only not-yet-committed splits of ``df``; fully resumable.

    ``process(sub_df) -> DataFrame`` must keep ``split_col`` in its output.
    Committed output lands under ``output_path`` partitioned by ``split_col``
    (dynamic overwrite → re-runs are idempotent); one manifest row per split:
    ``(split_id, row_count, input_fingerprint, run_id, status, wall_ms,
    schema_version, committed_at)``.

    Jobs: one read of the committed split ids (none before the first
    commit); one exact ``groupBy(split_col)`` over the uncommitted rows,
    whose keys are the pending splits and whose ``bit_xor(xxhash64(*columns))``
    is each one's order-insensitive ``input_fingerprint``; then per batch the
    write and a one-file manifest append.  ``row_count`` is a ``count_if``
    per split observed in the write's own result stage, where Spark applies
    each partition's update once, so retried and speculative tasks do not
    double-count, and a split with no output rows commits with 0.

    A NULL split id can be neither selected by ``isin`` nor committed, so
    one in the pending rows raises ``ValueError`` before any write.

    ``batch_size`` = R3 checkpoint cadence (reference flushes every
    ``batch_size`` rows / 20 cache writes): pending splits run in batches of
    that many splits (default: one batch), the manifest appended after EACH,
    so a mid-run failure loses at most one batch of work; it also bounds the
    write's observed columns, one per split of a batch.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    split = F.col(split_col)
    split_type = df.schema[split_col].dataType.simpleString()
    done = completed_splits(spark, manifest_path, split_type)
    fingerprint = dict(df.filter(split.isNull() | ~split.isin(*done))
                       .groupBy(split)
                       .agg(F.bit_xor(F.xxhash64(*df.columns))).collect())
    if None in fingerprint:
        raise ValueError(f"checkpointed_run: split column {split_col!r} "
                         "holds NULL split ids")
    pending = sorted(fingerprint)
    schema = (f"split_id {split_type}, row_count bigint, input_fingerprint "
              "bigint, run_id string, status string, wall_ms int, schema_version int")
    step = batch_size or max(len(pending), 1)
    total_rows = 0
    for i in range(0, len(pending), step):
        ids = pending[i:i + step]
        obs = Observation()
        t0 = time.time()
        (process(df.filter(split.isin(*ids)))
         .observe(obs, *(F.count_if(split == F.lit(s)).alias(f"n{k}")
                         for k, s in enumerate(ids)))
         .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy(split_col).parquet(output_path))
        counts = list(obs.get.values())
        rows = pd.DataFrame({"split_id": ids, "row_count": counts,
                             "input_fingerprint": [fingerprint[s] for s in ids],
                             "run_id": run_id, "status": "ok",
                             "wall_ms": int((time.time() - t0) * 1000),
                             "schema_version": MANIFEST_SCHEMA_VERSION})
        # Arrow → a local relation: no Python worker; one file per append
        (spark.createDataFrame(rows, schema).coalesce(1)
         .withColumn("committed_at", F.current_timestamp())
         .write.mode("append").parquet(manifest_path))
        total_rows += sum(counts)
    return {"run_id": run_id, "processed_splits": len(pending),
            "rows": total_rows}
