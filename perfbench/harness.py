"""Session, run context and result assembly shared by the workloads."""

from __future__ import annotations

import gc
import importlib
import json
import os
import statistics
import sys
import threading
import time

from . import eventlog
from .trace import NullTracer, Tracer, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
END_TO_END = ("setup_s", "memory_mb", "op_ms_p50")
# per-layer metrics every traced run measures; each workload module adds its LAYERS
COMMON_LAYERS = ("session.start_s", "session.tiny_job_ms", "bench.trace_overhead_frac")


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
        "workloads": [w["name"] for w in spec["workloads"]],
    }


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Ctx:
    """What a workload sees: the session, its seed and time budget, the
    tracer (a ``NullTracer`` unless this is a traced run) and the
    attempted/failed counters every operation and check reports to."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool, run_dir: str):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.null = NullTracer()
        self.tracer = Tracer(spark.sparkContext) if trace else self.null
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def tracer_for(self, i: int):
        """Traced runs alternate traced and untraced operations, so the
        tracing overhead is measured inside one run on the same inputs."""
        return self.tracer if self.trace and i % 2 == 0 else self.null

    def record(self, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            self.failed += 0 if ok else 1
        if not ok:
            log(f"FAILED: {what}")

    def record_rows(self, checked: int, wrong: int, what: str = "") -> None:
        """A check made row by row: each row is one attempted operation."""
        with self._lock:
            self.attempted += checked
            self.failed += wrong
        if wrong:
            log(f"FAILED ({wrong} of {checked} rows): {what}")


def _cpu_ticks() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024.0


def _reset_peak() -> None:
    """Restart this process's VmHWM from its current resident set, so the
    peak read later belongs to the measured phase, not to set-up and the
    benchmark's own checks."""
    with open("/proc/self/clear_refs", "w", encoding="ascii") as f:
        f.write("5")


def _memory_mb(spark) -> float:
    """Driver Python peak resident set since ``_reset_peak``, plus the
    JVM's retained memory: heap in use after a full GC, and non-heap.
    The JVM term is what the program keeps, not its transient peak: the
    JVM's resident set and its heap peaks follow how far the heap grew
    between collections (1.3-2.7 GB across runs of one workload). Full
    GCs half a second apart, after Python's, until the heap stops
    shrinking: each lets Spark's ContextCleaner drop the blocks and
    broadcasts of RDDs no DataFrame reaches any more (``localCheckpoint``),
    which the next frees; that takes two to three rounds."""
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    py = _hwm_mb(os.getpid())
    gc.collect()
    used = []
    while len(used) < 3 or (used[-2] - used[-1] > 1.0 and len(used) < 12):
        jvm.java.lang.System.gc()
        used.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.5)
    heap, non = used[-1], mx.getNonHeapMemoryUsage().getUsed() / 2**20
    log(f"memory: python peak {py:.0f} MB, jvm heap after gcs {[round(x) for x in used]} MB, non-heap {non:.0f} MB, "
        f"jvm rss peak {_hwm_mb(int(jvm.java.lang.ProcessHandle.current().pid())):.0f} MB")
    return py + heap + non


def _tiny_job_ms(spark) -> float:
    """The per-job floor: a two-stage job over 1000 rows, median of 10."""
    from pyspark.sql import functions as F

    out = []
    for _ in range(10):
        t0 = time.perf_counter()
        spark.range(0, 1000, 1, 4).groupBy(F.col("id") % 4).count().collect()
        out.append((time.perf_counter() - t0) * 1000)
    return median(out)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


WORKLOADS = {
    "grid_refresh": ("grid", "GridRefresh"),
    "analytics_sweep": ("sweep", "AnalyticsSweep"),
}


def load_workload(name: str):
    """(module, class) of a workload; the module declares its ``LAYERS``."""
    module, cls = WORKLOADS[name]
    mod = importlib.import_module(f"perfbench.{module}")
    return mod, getattr(mod, cls)


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    spec = declared()
    mod, cls = load_workload(workload)
    t0 = time.perf_counter()
    from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1).collect()  # first job: executor and scheduler up
    session_s = time.perf_counter() - t0
    ctx = Ctx(spark, seed, seconds, trace, run_dir)
    wl = cls(ctx)
    try:
        setup_s = session_s + wl.setup()
        log(f"{workload}: setup {setup_s:.2f}s")
        tiny_ms = _tiny_job_ms(spark) if trace else 0.0
        _reset_peak()
        before = _cpu_ticks()
        wl.measure()
        d = [b - a for a, b in zip(before, _cpu_ticks())]
        log(f"{workload}: while measuring, cpu busy {1 - (d[3] + d[4]) / sum(d):.2f}, "
            f"stolen by the host {d[7] / sum(d):.3f}")
        memory = 0.0 if trace else _memory_mb(spark)
        wl.check()
    finally:
        _stop(spark)
    if not trace:
        values = {"setup_s": setup_s, "memory_mb": memory, **wl.end_to_end()}
        units = spec["end_to_end"]
    else:
        jobs, stages = eventlog.parse(eventlog.log_file(ctx.path("eventlog")))
        spans = ctx.tracer.spans
        totals = eventlog.span_totals(jobs, stages, spans)
        selfs = self_times(spans)
        # a layer this workload never calls reads 0 (all such metrics are
        # counts or shares, never times)
        values = dict.fromkeys(spec["per_layer"], 0.0)
        produced = wl.layers(totals, selfs)
        if set(produced) != set(mod.LAYERS) or not set(produced) <= set(values):
            raise KeyError(f"per-layer metrics differ from {mod.__name__}.LAYERS / BENCHMARK.json")
        values.update(produced)
        values.update({"session.start_s": session_s, "session.tiny_job_ms": tiny_ms})
        traced, untraced = wl.traced_vs_untraced_ms()
        values["bench.trace_overhead_frac"] = median(traced) / median(untraced) - 1.0
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.dump(
            os.path.join(out_dir, f"{workload}-seed{seed}-spans.json"),
            {"self_s": {str(k): v for k, v in selfs.items()},
             "jobs": {str(k): vars(v) for k, v in totals.items()}},
        )
        units = spec["per_layer"]
    missing = set(units) - set(values)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
