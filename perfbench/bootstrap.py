"""Store a pages parquet directory as an Iceberg-lite table, in a process of
its own: the Spark job that writes the table would otherwise warm the
measured session's JVM, and runs whose input was cached would set up
slower than runs that generated it.

    python3 -m perfbench.bootstrap <parquet dir> <table dir>
"""

from __future__ import annotations

import os
import shutil
import sys


def main(parquet: str, table: str) -> None:
    from perfbench import run

    cpus = len(os.sched_getaffinity(0))
    run.configure_environment(cpus, trace=False)
    from immich_geodata_zh_tw_spark.sources.iceberg_lite import \
        bootstrap_table

    shutil.rmtree(table, ignore_errors=True)
    spark = run.start_session(cpus)
    try:
        bootstrap_table(spark.read.parquet(parquet), table)
    finally:
        run.shutdown(spark)


if __name__ == "__main__":
    main(*sys.argv[1:])
