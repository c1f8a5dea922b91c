"""Two-parallelism scaling protocol (BASELINE.json north_rule evidence).

A real N→4N-executor cluster is unavailable in this sandbox, so per the driver
instructions we run the identical flagship job on the same input at two local
parallelism levels (local[N] and local[4N]) and report throughput at both plus
``eff = (pages/sec @ 4N) / (4 × pages/sec @ N)``.

The measurement protocol itself (materialize-at-4N, per-leg sessions,
full-size warm-up, min-of-2 reps) is ``bench.common.two_level_scaling``.
"""

from __future__ import annotations

import os


def run_scaling(sf_dir: str, cpus_4n: int, *, n_pages: int | None = None,
                warmup: bool = True) -> dict:
    from immich_geodata_zh_tw_spark.session import get_spark

    from .common import flagship, materialize_pages, two_level_scaling

    if n_pages is None:
        n_pages = int(os.environ.get("SPARK_GRAFT_SCALING_PAGES", "0")) or None
    if n_pages is None:
        spark = get_spark(app_name="scaling-size", parallelism=4)
        try:
            # 80× events: large enough that fixed per-job latencies (a few
            # seconds of driver-side scheduling) stay well under 10% of wall
            n_pages = spark.read.parquet(f"{sf_dir}/events.parquet").count() * 80
        finally:
            spark.stop()

    return two_level_scaling(
        cpus_4n=cpus_4n, n_items=n_pages,
        materialize=lambda spark: materialize_pages(spark, n_pages),
        build_job=flagship,
        unit="pages", metric="scaling_efficiency_n_to_4n", warmup=warmup)


if __name__ == "__main__":
    import json
    import sys

    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    print(json.dumps(run_scaling(sf_dir, cpus)))
