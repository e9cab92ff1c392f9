"""Host-sized validation benchmark for jsonschema_spark.

    python3 perfbench/run.py --workload clips_validate --seed 1 --seconds 20 --trace 0

Runs one workload at local[nproc] from one process, with one client in a
closed loop: the next operation starts when the previous one returned.
Set-up (session start, corpus materialization or verification, untimed
warm-up operations) is timed on its own as ``setup_s``. Every
operation's result is checked against a value computed without Spark.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced operations for ``--seconds`` and prints the per-layer
metrics: span self times, Spark's stage and plan metrics, the Python UDF
profile, a Spark-free kernel rate and the tracing overhead (median traced
minus median untraced operation time).

Host facts go on the line before the result; the last stdout line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
Corpora, spans, scratch space and a record of each result are written
under ``.bench_build/perfbench`` in the repository root.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

from sparkmetrics import SparkMetrics, python_worker_pids, python_workers_peak_rss_bytes
from spans import NullTracer, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "peak_mem_mb": "MB",
}
SPAN_NAMES = (
    "op", "sources.read", "validate", "compile", "compile.inline_refs",
    "engine.plan", "engine.exec", "engine.write",
)
PER_LAYER = {
    "compile.s": "s",
    "compile.inline_refs_s": "s",
    "compile.checks": "count",
    "validate.build_s": "s",
    "validate.violation_rows": "count",
    "engine.plan_s": "s",
    "engine.exec_s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.gc_s": "s",
    "engine.slot_utilization": "ratio",
    "engine.shuffle_write_bytes": "B",
    "engine.write_s": "s",
    "engine.write_bytes": "B",
    "sources.read_s": "s",
    "sources.scan_s": "s",
    "sources.scan_bytes": "B",
    "sources.file_bytes": "B",
    "sources.stage_input_bytes": "B",
    "audio.arrow_bytes_to_python": "B",
    "audio.arrow_bytes_from_python": "B",
    "audio.arrow_rows": "count",
    "audio.python_run_s": "s",
    "audio.python_udf_s": "s",
    "audio.kernel_clips_per_s": "clips/s",
    "audio.kernel_ceiling_ratio": "ratio",
    **{f"self.{name}_s": "s" for name in SPAN_NAMES},
    "trace.coverage": "ratio",
    "trace.untraced_op_ms": "ms",
    "trace.traced_op_ms": "ms",
    "trace.overhead_ms": "ms",
    "trace.spans": "count",
}
# corpus verification and expected values are recomputed this many times
# and the median kept; session start and warm-up happen once per process
SETUP_REPEATS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["clips_validate", "jsonl_validate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    nproc = len(os.sched_getaffinity(0))
    mem_gb = mem_kb / 2**20
    # ~30% of RAM for the JVM heap: the clips scan needs a few GB for
    # Arrow batches of ~40 KB payloads; 6 GB measured no clear gain over
    # 4 GB on a 4-core, 16 GB host
    heap_gb = max(2, min(6, int(mem_gb * 0.3)))
    return {"nproc": nproc, "master": f"local[{nproc}]", "mem_total_gb": round(mem_gb, 1),
            "heap_gb": heap_gb, "python": platform.python_version()}


def prepare_env() -> None:
    """Thread pinning, scratch space inside the checkout, and the package
    on the Python workers' path (they do not inherit this process's sys.path)."""
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
              "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ[v] = "1"
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def start_session(host: dict):
    from pyspark.sql import SparkSession

    tmp = os.environ["TMPDIR"]
    java_opts = f"-XX:G1HeapRegionSize=32m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = (
        SparkSession.builder.master(host["master"])
        .appName("perfbench")
        .config("spark.driver.memory", f"{host['heap_gb']}g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(host["nproc"], 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.parquet.columnarReaderBatchSize", "128")
        .config("spark.executor.metrics.pollingInterval", "100ms")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    workers = python_worker_pids()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


class Runner:
    def __init__(self, spark, workload, host: dict) -> None:
        self.spark = spark
        self.w = workload
        self.host = host
        self.metrics = SparkMetrics(spark)
        self.n_ops = 0
        self.failed = 0
        self.python_rss_peak = 0.0
        self.op_ms: list[float] = []

    def run_op(self, tracer) -> tuple[float, int]:
        """One checked operation under its own job group; (wall s, rows)."""
        i = self.n_ops
        self.n_ops += 1
        self.spark.sparkContext.setJobGroup(f"op{i}", f"{self.w.name} op {i}")
        tracer.op = i
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                rows, ok, violations = self.w.op(i, tracer)
        except Exception:
            traceback.print_exc()
            rows, ok, violations = 0, False, 0
        wall = time.perf_counter() - t0
        if not ok:
            self.failed += 1
            print(f"perfbench: {self.w.name} op {i} result differs from expected",
                  file=sys.stderr)
        self.last_violations = violations
        self.op_ms.append(wall * 1e3)
        self.python_rss_peak = max(self.python_rss_peak, python_workers_peak_rss_bytes())
        return wall, rows

    def loop(self, seconds: float, tracer) -> list[tuple[float, int]]:
        """Closed loop: passes back to back until ``seconds`` elapsed."""
        samples: list[tuple[float, int]] = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            samples.append(self.run_op(tracer))
        return samples

    @staticmethod
    def rows_per_s(samples) -> float:
        return statistics.median(rows / wall for wall, rows in samples)


def end_to_end(runner: Runner, setup_s: float, seconds: float) -> tuple[dict, dict]:
    samples = runner.loop(seconds, NullTracer())
    heap = runner.metrics.peak_heap_bytes()
    values = {
        "setup_s": setup_s,
        "rows_per_s": runner.rows_per_s(samples),
        "peak_mem_mb": (heap + runner.python_rss_peak) / 2**20,
    }
    counts = {"passes": len(samples), "jvm_heap_peak_mb": heap / 2**20,
              "python_rss_peak_mb": runner.python_rss_peak / 2**20}
    return values, counts


def per_layer(runner: Runner, seconds: float) -> tuple[dict, dict]:
    V = importlib.import_module("jsonschema_spark.operators.validate")
    C = importlib.import_module("jsonschema_spark.plans.compile")
    JJ = importlib.import_module("jobs.validate_jsonl_job")

    spark, w = runner.spark, runner.w
    tracer = Tracer()
    per_op: list[dict] = []

    def trace_on() -> None:
        tracer.wrap(V, "validate", "validate")
        tracer.wrap(JJ, "validate", "validate")
        tracer.wrap(V, "compile_schema", "compile", count=lambda c: {"checks": len(c.checks)})
        tracer.wrap(C, "inline_refs", "compile.inline_refs")
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    def trace_off() -> None:
        tracer.unwrap_all()
        spark.conf.unset("spark.sql.pyspark.udf.profiler")

    def collect(op: int) -> None:
        m = runner.metrics.for_group(f"op{op}")
        profiles = spark._profiler_collector._perf_profile_results
        m["audio.python_udf_s"] = sum(s.total_tt for s in profiles.values())
        spark.profile.clear(type="perf")
        selfs = tracer.self_times(op)
        for name in SPAN_NAMES:
            m[f"self.{name}_s"] = selfs.get(name, 0.0)
        op_s = tracer.total(op, "op")
        exec_s = tracer.total(op, "engine.exec") + tracer.total(op, "engine.write")
        m.update({
            "compile.s": tracer.total(op, "compile"),
            "compile.inline_refs_s": tracer.total(op, "compile.inline_refs"),
            "compile.checks": float(sum(s.get("checks", 0) for s in tracer.op_spans(op))),
            "validate.build_s": selfs.get("validate", 0.0),
            "validate.violation_rows": float(runner.last_violations),
            "engine.plan_s": tracer.total(op, "engine.plan"),
            "engine.exec_s": exec_s,
            "engine.slot_utilization": m["engine.executor_run_s"]
            / (exec_s * runner.host["nproc"]) if exec_s else 0.0,
            "sources.read_s": tracer.total(op, "sources.read"),
            "trace.coverage": 1.0 - selfs.get("op", 0.0) / op_s,
        })
        per_op.append(m)

    # alternate passes so that warm-up drift hits both sides alike
    untraced: list[tuple[float, int]] = []
    traced: list[tuple[float, int]] = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or not traced:
        if len(untraced) > len(traced):
            trace_on()
            try:
                traced.append(runner.run_op(tracer))
                collect(runner.n_ops - 1)
            finally:
                trace_off()
        else:
            untraced.append(runner.run_op(NullTracer()))
    tracer.dump(os.path.join(WORK, f"spans-{w.name}-seed{w.seed}.json"))

    values = {k: statistics.median(m[k] for m in per_op) for k in per_op[0]}
    untraced_ms = statistics.median(x for x, _ in untraced) * 1e3
    traced_ms = statistics.median(x for x, _ in traced) * 1e3
    values.update({
        "sources.file_bytes": float(getattr(w, "file_bytes", 0)),
        "trace.untraced_op_ms": untraced_ms,
        "trace.traced_op_ms": traced_ms,
        "trace.overhead_ms": traced_ms - untraced_ms,
        "trace.spans": float(len(tracer.spans)),
        "audio.kernel_clips_per_s": 0.0,
        "audio.kernel_ceiling_ratio": 0.0,
    })
    if values["trace.coverage"] < 0.9:
        print(f"perfbench: named layers cover only {values['trace.coverage']:.1%} "
              "of the operation wall time", file=sys.stderr)
    if hasattr(w, "kernel_clips_per_s"):
        kernel = w.kernel_clips_per_s()
        values["audio.kernel_clips_per_s"] = kernel
        values["audio.kernel_ceiling_ratio"] = (
            runner.rows_per_s(untraced) / (runner.host["nproc"] * kernel)
        )
    return values, {"untraced_ops": len(untraced), "traced_ops": len(traced)}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "jsonschema_spark", "__init__.py")):
        print(f"perfbench: no jsonschema_spark package in {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    prepare_env()
    import jsonschema_spark.sources.clips as clips_source

    # corpora live in the versioned cache layout, rooted inside the checkout
    clips_source._MATERIALIZE_ROOT = os.path.join(WORK, "cache")
    from workloads import WORKLOADS

    host = host_facts()
    t0 = time.perf_counter()
    spark = start_session(host)
    session_s = time.perf_counter() - t0
    try:
        w = WORKLOADS[args.workload](spark, WORK, args.seed)
        setup_runs = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            w.setup()
            setup_runs.append(time.perf_counter() - t)
        runner = Runner(spark, w, host)
        t = time.perf_counter()
        for _ in range(w.warmup_passes):  # worker fork, JIT, codegen
            runner.run_op(NullTracer())
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(setup_runs) + warm_s

        if args.trace:
            values, counts = per_layer(runner, args.seconds)
            units = PER_LAYER
        else:
            values, counts = end_to_end(runner, setup_s, args.seconds)
            units = END_TO_END
        host.update({
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "workload": w.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "ops": runner.n_ops,
            "seeded_inputs": "none: the clips and jsonl corpora are fixed "
                             "(their generators take no seed)",
            "setup_parts_s": {"session": session_s, "verify_median": statistics.median(setup_runs),
                              "warmup": warm_s},
            **counts,
        })
    except Exception:
        traceback.print_exc()
        stop_session(spark)
        return 1
    stop_session(spark)

    if set(values) != set(units):
        print(f"perfbench: metric set mismatch: {sorted(set(values) ^ set(units))}",
              file=sys.stderr)
        return 1
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.n_ops,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(values.items())},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    record = os.path.join(WORK, "results", f"{w.name}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as f:
        json.dump({"host": host, **result, "op_ms": runner.op_ms}, f, indent=1)
    error_rate = runner.failed / runner.n_ops
    for k, v in result["metrics"].items():
        print(f"perfbench {w.name} {k} = {v['value']:.6g} {v['unit']}")
    print(f"perfbench {w.name} error_rate = {error_rate:.6g} "
          f"({runner.failed}/{runner.n_ops} ops)")
    print("perfbench host " + json.dumps(host, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
