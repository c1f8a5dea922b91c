"""Tracing helpers for the per-layer run, all applied from outside the engine.

* :func:`self_times` — layer self time from cumulative prefix timings;
* :func:`parse_event_log` — per-label Spark task metrics and per-plan-node
  SQL metrics from an uncompressed, non-rolling Spark event log;
* :class:`Py4jCalls` — counts driver→JVM call commands;
* :func:`peak_rss_mb` — peak resident memory of the JVM and Python workers.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from pathlib import Path


def self_times(prefixes: list[tuple[str, float]]) -> dict[str, float]:
    """Self time of each layer from ``[(layer, cumulative prefix time), …]``.

    Layer i's self time is its prefix minus the previous prefix.  Noise can
    make a longer prefix read faster than a shorter one, so the prefix times
    are first made monotone by a running maximum: every self time is then
    ≥ 0 and the self times sum to the largest prefix.
    """
    out, prev = {}, 0.0
    for name, t in prefixes:
        cur = max(prev, t)
        out[name] = cur - prev
        prev = cur
    return out


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_metrics(info: dict, into: dict) -> None:
    for m in info.get("metrics", []):
        into[m["accumulatorId"]] = (info["nodeName"], m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, into)


def parse_event_log(path: Path) -> dict[str, dict]:
    """Per job-description label: job, stage and task counts, summed task
    metrics, and ``nodes`` — {(plan node name, metric name): total}.

    Stages map to labels through the job that submitted them; a plan-node
    metric counts toward the label of the stages whose tasks updated it.
    """
    acc_names: dict[int, tuple[str, str]] = {}
    stage_label: dict[int, str] = {}
    labels: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
        "gc_s": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0,
        "nodes": defaultdict(float)})
    updates: list[tuple[str, int, float]] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_metrics(ev["sparkPlanInfo"], acc_names)
            elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                for m in ev.get("sqlPlanMetrics", []):
                    acc_names.setdefault(m["accumulatorId"], ("?", m["name"]))
            elif kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get(
                    "spark.job.description") or "unlabelled"
                labels[label]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_label[sid] = label
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                labels[stage_label.get(sid, "unlabelled")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(ev["Stage ID"], "unlabelled")
                rec = labels[label]
                tm = ev.get("Task Metrics") or {}
                rec["tasks"] += 1
                rec["run_s"] += _num(tm.get("Executor Run Time")) / 1e3
                rec["cpu_s"] += _num(tm.get("Executor CPU Time")) / 1e9
                rec["gc_s"] += _num(tm.get("JVM GC Time")) / 1e3
                rec["shuffle_write_bytes"] += _num(
                    (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written"))
                rec["spill_bytes"] += (_num(tm.get("Memory Bytes Spilled"))
                                       + _num(tm.get("Disk Bytes Spilled")))
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    updates.append((label, acc["ID"], _num(acc.get("Update"))))
    for label, acc_id, value in updates:
        if acc_id in acc_names:
            labels[label]["nodes"][acc_names[acc_id]] += value
    return {k: {**v, "nodes": dict(v["nodes"])} for k, v in labels.items()}


def node_total(rec: dict, node_prefix: str, metric: str) -> float:
    """Sum of ``metric`` over plan nodes whose name starts with
    ``node_prefix``."""
    return sum(v for (node, name), v in rec["nodes"].items()
               if node.startswith(node_prefix) and name == metric)


class Py4jCalls:
    """Counts py4j call commands ("c") sent by the driver while active.

    Only call commands are counted: memory commands ("m", the garbage
    collector detaching Java objects) vary from run to run.
    """

    def __init__(self) -> None:
        self.calls = 0

    def __enter__(self) -> Py4jCalls:
        from py4j.clientserver import ClientServerConnection

        self._cls = ClientServerConnection
        self._orig = orig = ClientServerConnection.send_command

        def send_command(conn, command, *a, **kw):
            if command.startswith("c\n"):
                self.calls += 1
            return orig(conn, command, *a, **kw)

        ClientServerConnection.send_command = send_command
        return self

    def __exit__(self, *exc) -> None:
        self._cls.send_command = self._orig


def _children(pid: int) -> list[int]:
    """Child processes of every thread of ``pid``."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith(
            "python")
    except OSError:
        return False


def peak_rss_mb(jvm_pid: int | None) -> tuple[float, float]:
    """(JVM peak RSS, largest Python-worker peak RSS) in MiB."""
    if jvm_pid is None:
        return 0.0, 0.0
    workers = [p for p in descendants(jvm_pid) if _is_python(p)]
    return _hwm_mb(jvm_pid), max((_hwm_mb(p) for p in workers), default=0.0)
