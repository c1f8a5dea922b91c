"""Benchmark entry point: one workload, one seed, one driver process.

    python3 perfbench/run.py --workload crawl_tw_villages --seed 1 \\
        --seconds 3 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object: ``correct``, ``attempted`` and ``failed`` passes, and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it is the run's environment and noise
record.  All files go under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path.cwd()
WORK = ROOT / ".perfbench"
EVENT_LOG = WORK / "eventlog"
MIN_PASSES = 1  # timed passes per run, at least
MAX_FAILED = 3  # stop a run's passes after this many failures
DRIVER_MEM = "4g"

END_TO_END = {"pass_s": "s", "rows_per_s": "1/s", "setup_s": "s"}
SPARK_LABEL_METRICS = {  # per-layer name → event-log field, per pass
    "spark.jobs": "jobs", "spark.tasks": "tasks",
    "spark.executor_run_s": "run_s", "spark.executor_cpu_s": "cpu_s",
    "spark.gc_s": "gc_s", "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric with its unit (BENCHMARK.json order)."""
    with open(Path(__file__).resolve().parent.parent / "BENCHMARK.json") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def configure_environment(cpus: int, trace: bool) -> None:
    """Keep every file the run writes — Spark's, the JVM's and Python's
    temporary files included — inside the working directory.  A traced run
    turns the Spark event log on: plain JSON lines in one file."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # -XX:-UsePerfData: HotSpot writes its perf-data file to /tmp
    # whatever java.io.tmpdir says — in spark-submit's launcher JVM too
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        shutil.rmtree(EVENT_LOG, ignore_errors=True)
        EVENT_LOG.mkdir(parents=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": EVENT_LOG.as_uri(),
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
        + ["pyspark-shell"])
    sys.path.insert(0, str(ROOT))


def start_session(cpus: int):
    from immich_geodata_zh_tw_spark.session import get_spark

    spark = get_spark(app_name="perfbench", parallelism=cpus,
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until it and its Python workers
    have exited."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")
                and not _zombie(k)]
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, signal.SIGKILL)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def timed_passes(w, spark, record: dict, n: int, seconds: float = 0.0,
                 label: str | None = None) -> list[float]:
    """At least ``n`` timed passes, and more until ``seconds`` have passed.
    Each pass is checked after its timer stops; the check's time is kept
    in ``record["check_s"]``, the digest of a pass that passed its check
    in ``record["digests"]``.  ``label`` names the passes' Spark jobs in
    the event log."""
    from perfbench.workloads import timed

    sc = spark.sparkContext
    times: list[float] = []
    t_end = time.perf_counter() + seconds
    while len(times) < n or time.perf_counter() < t_end:
        if record["failed"] >= MAX_FAILED:
            break
        record["attempted"] += 1
        t_check = None
        try:
            sc.setJobDescription(label)
            try:
                res, t = timed(w.run_pass, spark, record["attempted"])
            finally:
                sc.setJobDescription(None)
            times.append(t)
            t_check = time.perf_counter()
            digest, errors = w.check_pass(spark, res)
            if not errors:
                record["digests"].append(digest)
                record["last"] = res
        except Exception:
            errors = [traceback.format_exc(limit=3)]
        if t_check is not None:
            record["check_s"] += time.perf_counter() - t_check
        if errors:
            record["failed"] += 1
            record["errors"] += errors
    if not times:
        raise RuntimeError("every pass failed:\n" + "\n".join(record["errors"]))
    return times


def verify_digests(w, spark, record: dict) -> None:
    """Compare every pass's digest with the verified one: from the cache
    for this (workload, seed, size, code version), or else from the
    workload's independent check, cached when it passes.  A pass whose
    digest differs counts as failed."""
    from perfbench.workloads import verified_path

    path = verified_path(WORK, w.key)
    t0 = time.perf_counter()
    last = record.pop("last", None)  # the last checked pass's result
    if path.exists():
        expect = json.loads(path.read_text())["digest"]
        record["verified"] = "cached"
    else:
        try:
            expect, errors = (w.verify(spark, last) if last is not None
                              else (None, ["no pass passed its own check"]))
        except Exception:
            expect, errors = None, [traceback.format_exc(limit=3)]
        expect = json.loads(json.dumps(expect))  # the cached form
        record["verified"] = "checked"
        if errors:
            record["errors"] += errors
            expect = None  # nothing the passes made can be right
        else:
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(json.dumps({"digest": expect}))
    record["verify_s"] = time.perf_counter() - t0
    # passes that failed their own check left no digest and are counted
    wrong = sum(d != expect for d in record["digests"])
    if wrong:
        record["failed"] += wrong
        record["errors"].append(f"{wrong} passes differ from the verified "
                                f"output {expect}")


def untraced_log(w) -> Path:
    """Pass times of the untraced runs of a workload, one JSON line each."""
    path = WORK / "untraced" / f"{w.name}.jsonl"
    path.parent.mkdir(parents=True, exist_ok=True)
    return path


def environment_record(cpus: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {"cpus": cpus, "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "spark": pyspark.__version__, "python": platform.python_version(),
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
            "numpy": numpy.__version__, "machine": platform.machine()}


def host_fracs(t0, t1) -> dict:
    if not (t0 and t1):
        return {}
    dt = max(t1[2] - t0[2], 1)
    return {"host_sys_frac": round((t1[0] - t0[0]) / dt, 4),
            "host_steal_frac": round((t1[1] - t0[1]) / dt, 4)}


def run(args) -> tuple[dict, dict]:
    from bench.common import cpu_sys_steal_total

    from perfbench.tracing import parse_event_log, peak_rss_mb
    from perfbench.workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, **environment_record(cpus),
              "attempted": 0, "failed": 0, "errors": [], "digests": [],
              "check_s": 0.0}
    w = WORKLOADS[args.workload](WORK, args.seed, bool(args.trace))
    t0 = time.perf_counter()
    w.generate()
    gen_s = record["gen_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = start_session(cpus)
    record["session_start_s"] = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        w.open(spark)
        record["open_s"] = time.perf_counter() - t0
        # the cold pass: checked like every pass, not timed as one
        record["cold_s"] = timed_passes(w, spark, record, 1)[0]
        setup_s = time.perf_counter() - T_START - gen_s - record["check_s"]
        record["setup_s"] = setup_s
        ticks0 = cpu_sys_steal_total()
        times = timed_passes(w, spark, record, MIN_PASSES, args.seconds,
                             label="pass" if args.trace else None)
        record.update(pass_times=times,
                      **host_fracs(ticks0, cpu_sys_steal_total()))
        pass_s = statistics.median(times)
        if not args.trace:
            verify_digests(w, spark, record)
            if not record["failed"]:
                with open(untraced_log(w), "a") as fh:
                    fh.write(json.dumps({"seed": args.seed,
                                         "pass_s": pass_s}) + "\n")
            return record, {"pass_s": pass_s, "rows_per_s": w.n_rows / pass_s,
                            "setup_s": setup_s}
        # traced run: the passes above ran with the event log on; then the
        # layer measurements, whose checked jobs count as one attempt
        layers = w.pass_metrics(len(times))
        try:
            traced, errors = w.trace(spark, args.seconds / 2)
        except Exception:
            traced, errors = {}, [traceback.format_exc(limit=3)]
        layers.update(traced)
        record["attempted"] += 1
        if errors:
            record["failed"] += 1
            record["errors"] += errors
        jvm_rss, py_rss = peak_rss_mb(jvm_pid())
        verify_digests(w, spark, record)
    finally:
        shutdown(spark)
    log = parse_event_log(next(EVENT_LOG.iterdir()))
    layers.update(w.log_metrics(log))
    passes, n = log["pass"], len(times)
    for name, field in SPARK_LABEL_METRICS.items():
        layers[name] = passes[field] / n
    layers["spark.py_bytes_sent"] = sum(
        v for (node, metric), v in passes["nodes"].items()
        if metric == "data sent to Python workers") / n
    layers["session.start_s"] = record["session_start_s"]
    layers["session.jvm_peak_rss_mb"] = jvm_rss
    layers["session.py_worker_peak_rss_mb"] = py_rss
    # tracing overhead: this run's passes against the untraced runs of the
    # workload made in this working directory (0 when there are none)
    untraced = []
    if untraced_log(w).exists():
        untraced = [json.loads(line)["pass_s"]
                    for line in untraced_log(w).read_text().splitlines()]
    record["untraced_runs"] = len(untraced)
    if untraced:
        layers["tracing.overhead_frac"] = (
            pass_s / statistics.median(untraced) - 1.0)
    return record, {name: layers.get(name, 0.0) for name in per_layer_names()}


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if not (ROOT / "immich_geodata_zh_tw_spark" / "__init__.py").exists():
        print("run from the repository root: immich_geodata_zh_tw_spark "
              "package not found", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    configure_environment(cpus, bool(args.trace))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; "
                     f"choose from {sorted(WORKLOADS)}")
    record, metrics = run(args)
    units = per_layer_names() if args.trace else END_TO_END
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"], "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
