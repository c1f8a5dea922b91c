"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-vs-oracle (UTC session timezone — DuckDB timestamps are
UTC-naive) and for scale (AQE on, Arrow on, shuffle partitions sized to cores
in local mode; on a real cluster AQE coalesces post-shuffle partitions).
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path
from tempfile import gettempdir

from pyspark.sql import SparkSession
from pyspark.sql.types import _make_type_verifier, _parse_datatype_string


def _parse_mem_mb(text: str) -> int:
    """'16g' / '512m' / bare '16384' → MiB.  A bare number is MiB because
    that is how the JVM reads a suffixless spark.driver.memory — parsing
    it as bytes here would compute the advisory size from ~0 MB while
    Spark itself got gigabytes."""
    text = text.strip().lower()
    if text.endswith("g"):
        return int(float(text[:-1]) * 1024)
    if text.endswith("m"):
        return int(float(text[:-1]))
    return int(text)


def _advisory_partition_mb(mem_mb: int, cores: int) -> int:
    """Spill-safe AQE advisory partition size for this process shape.

    A reduce task in a join+aggregate stage holds several memory consumers
    at once (two SMJ sort buffers, a partial-agg map, the shuffle writer),
    each sized by the partition's input, with UnsafeRow expansion ~2-3×
    over the compressed shuffle bytes — so the safe advisory size is a
    small fraction of the per-core execution pool (0.6 × heap / cores).
    Spark's 64 MiB default assumes the production ~2-8 GiB-per-core shape;
    at this sandbox's 16 GiB / 32 cores (300 MiB per core) it is the
    measured OOM cliff: a 6.4 M-doc ngram_jaccard_pairs died with
    SPILL_OUT_OF_MEMORY / UNABLE_TO_ACQUIRE at 64 MiB-advisory partitions
    and ran clean at 16 MiB (BENCH/BASELINE.md round-5 stress notes).
    pool_per_core/10 reproduces both data points with headroom and leaves
    production shapes on the Spark default (capped at 64 MiB).
    """
    pool_per_core_mb = (mem_mb * 6) // (10 * max(cores, 1))
    return min(64, max(16, pool_per_core_mb // 10))


def get_spark(app_name: str = "immich-geodata-zh-tw-spark",
              parallelism: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(parallelism, 4)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    advisory_mb = os.environ.get(
        "SPARK_GRAFT_ADVISORY_PARTITION_MB",
        str(_advisory_partition_mb(_parse_mem_mb(driver_mem), parallelism)))
    # reduce-side width must be bounded by DATA/advisory, not by the core
    # count: with the default (initialPartitionNum = shuffle.partitions) a
    # 100 GB shuffle on 32 cores gets 3 GB partitions no matter what the
    # advisory says, and the sort+agg stage OOMs.  Starting wide costs
    # nothing at small scale — AQE coalesces back down to advisory-sized
    # partitions — and keeps per-task input flat as the corpus grows.
    initial_partitions = os.environ.get(
        "SPARK_GRAFT_INIT_PARTITIONS", str(max(32 * parallelism, 1024)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{parallelism}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                initial_partitions)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                f"{advisory_mb}m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-optimize the output partitioning of plans feeding a
        # cache (Spark 3.4+; default false): without it an InMemoryRelation
        # freezes its compile-time shuffle width, so a vocabulary-bounded
        # cached table (BPE word table: 31 rows at sf0.1) carries
        # cores-many near-empty partitions through every downstream stage
        # — the r5 workaround was a manual coalesce before persist, which
        # cannot know the data-dependent right width; AQE's byte-sized
        # coalescing can (measured r6: the 6-round BPE loop's per-round
        # stages drop to 1-task over the 31-row cache).  Explicit
        # user repartition(n) calls are still honored unchanged.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 16g measured best AND tightest for the flagship on this box
        # (8g: 6.0-10.4 s across identical reps — GC-bound; 24g: fast best
        # case but a 27 s full-GC outlier; 16g: 4.6-5.4 s consistently)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # UI off by default (costs listener overhead at bench time); the
        # stage-decomposition diagnostic (bench/stage_decompose.py) flips
        # it on to read per-stage times from the REST API
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def local_dim_df(spark: SparkSession, rows, schema: str):
    """Driver-side dimension rows as a ONE-partition DataFrame.

    ``spark.createDataFrame(list)`` parallelizes the rows into
    ``defaultParallelism`` pickle partitions, so EVERY scan of the frame
    schedules that many tasks and each pays a Python-worker round-trip to
    deserialize a (mostly empty) slice — measured 0.28 s vs 0.15 s per
    noop scan of a 20-row frame at local[32], repeated on every re-scan
    of the subtree (the doc_vocab plan scans its vocab dim three times).
    A table that fits the driver by contract is one partition's worth of
    data: downstream broadcast joins/aggregations are indifferent to the
    input partitioning, so results are identical while every scan
    schedules exactly one task at any cluster width.

    Rows are type-checked against ``schema`` here, on the driver: from an
    RDD, Spark would only check them on an executor at the first action.
    """
    struct = _parse_datatype_string(schema)
    rows = list(rows)
    verify = _make_type_verifier(struct)
    for row in rows:
        verify(row)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), struct,
        verifySchema=False)


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the spark-submit --py-files story).

    Python workers unpickle UDFs by importing the module by name; on a real
    cluster the package must ride along as a zip.  ``addPyFile`` makes every
    entry point (pytest, bench.py, a bare script) deployment-correct without
    relying on an inherited PYTHONPATH.
    """
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(gettempdir()) / f"{pkg_dir.name}-pyfiles.zip"
    sources = sorted(pkg_dir.rglob("*.py"))
    newest_src = max(p.stat().st_mtime for p in sources)
    if not zip_path.exists() or zip_path.stat().st_mtime <= newest_src:
        tmp = zip_path.with_suffix(".zip.tmp")
        with zipfile.ZipFile(tmp, "w") as zf:
            for py in sources:
                zf.write(py, f"{pkg_dir.name}/{py.relative_to(pkg_dir)}")
        tmp.replace(zip_path)  # atomic: concurrent sessions never see a partial zip
    spark.sparkContext.addPyFile(str(zip_path))
