"""Spark's own metrics, read after each action through the status REST API
of the Spark UI (local host only).

Each benchmark operation runs under its own job group, so the jobs, stages
and SQL executions it caused can be picked out afterwards. Stage metrics
give task run/CPU/GC time and shuffle bytes; SQL plan metrics give the scan,
Arrow-boundary and write numbers per plan node.
"""

from __future__ import annotations

import json
import os
import re
import urllib.parse
import urllib.request

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the UI renders it -> bytes, seconds or a count.

    Per-task metrics read ``"total (min, med, max ...)\\n<total> (<...>)"``;
    the total is the first value on the last line."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    if unit:
        raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")
    return num


# (per-layer metric, plan-node name prefix, SQL metric name). Spark times a
# file write only at commit, so engine.write_s is task plus job commit time.
_NODE_METRICS = (
    ("sources.scan_s", "Scan ", "scan time"),
    ("sources.scan_bytes", "Scan ", "size of files read"),
    ("audio.arrow_bytes_to_python", "ArrowEvalPython", "data sent to Python workers"),
    ("audio.arrow_bytes_from_python", "ArrowEvalPython", "data returned from Python workers"),
    ("audio.arrow_rows", "ArrowEvalPython", "number of output rows"),
    ("audio.python_run_s", "ArrowEvalPython", "time to run Python workers"),
    ("engine.write_bytes", "Execute InsertIntoHadoopFsRelationCommand", "written output"),
    ("engine.write_s", "Execute InsertIntoHadoopFsRelationCommand", "task commit time"),
    ("engine.write_s", "Execute InsertIntoHadoopFsRelationCommand", "job commit time"),
)


class SparkMetrics:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        # the UI listens on all interfaces; uiWebUrl may name the host's address
        port = urllib.parse.urlsplit(self._sc.uiWebUrl).port
        self._base = (
            f"http://localhost:{port}/api/v1/applications/{self._sc.applicationId}"
        )
        self._sql_seen = 0  # the SQL listing is paged; skip what was read

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        # the REST view is fed by the listener bus; wait until it caught up
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def for_group(self, group: str) -> dict[str, float]:
        """Engine, source, Arrow and write metrics of every job run under
        job group ``group``."""
        self._drain()
        jobs = [j for j in self._get("jobs") if j.get("jobGroup") == group]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._get("stages?status=complete")
            if s["stageId"] in stage_ids
        ]
        out = {
            "engine.jobs": float(len(jobs)),
            "engine.stages": float(len(stages)),
            "engine.tasks": float(sum(s["numCompleteTasks"] for s in stages)),
            "engine.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "engine.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "engine.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "engine.shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
            "sources.stage_input_bytes": float(sum(s["inputBytes"] for s in stages)),
        }
        for name, _, _ in _NODE_METRICS:
            out[name] = 0.0
        executions = self._get(f"sql?details=true&offset={self._sql_seen}&length=100000")
        self._sql_seen += len(executions)
        for ex in executions:
            if not job_ids.intersection(ex.get("successJobIds", [])):
                continue
            for node in ex["nodes"]:
                values = {m["name"]: m["value"] for m in node["metrics"]}
                for name, prefix, metric in _NODE_METRICS:
                    if node["nodeName"].startswith(prefix) and metric in values:
                        out[name] += parse_metric(values[metric])
        return out

    def peak_heap_bytes(self) -> float:
        """Peak JVM heap used by the local-mode executor so far."""
        self._drain()
        for ex in self._get("executors"):
            if ex["id"] == "driver":
                return float(ex["peakMemoryMetrics"]["JVMHeapMemory"])
        raise RuntimeError("no local-mode executor in the status API")


def python_worker_pids() -> list[int]:
    """Python processes descended from this one (the PySpark daemon and its
    forked workers); the JVM between them is not a Python process."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process exited while scanning
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            out.append(pid)
    return out


def python_workers_peak_rss_bytes() -> float:
    """Sum of VmHWM (peak resident set) over the live Python workers."""
    total = 0
    for pid in python_worker_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            continue  # worker exited
    return float(total)
