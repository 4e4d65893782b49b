"""The benchmark harness shared by the workloads: one run's isolated
directory, Spark session, metrics, output checks and trace output."""

from __future__ import annotations

import contextlib
import json
import os
import shlex
import sys
import tempfile
import time

from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def proc_status_kb(pid, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS, so input
    generation does not count toward the driver's peak."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


class Run:
    """One benchmark run: its isolated directory, Spark session, counters,
    metrics and output checks."""

    def __init__(self, args, t_process: float) -> None:
        self.t_process = t_process  # perf_counter at process start
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cpus = min(4, os.cpu_count() or 1)
        self.dir = os.path.join(ROOT, ".perfbench_runs", f"{self.workload}-{self.seed}-{os.getpid()}")
        self.metrics: dict[str, dict] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.tracer = Tracer() if self.trace else None
        self.spark = None
        self.excluded_s = 0.0  # input generation and checks, kept out of setup_s

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def metric(self, name: str, value, unit: str) -> None:
        self.metrics[name] = {"value": value, "unit": unit}

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)
        return ok

    @contextlib.contextmanager
    def untimed(self):
        """Work excluded from setup_s (input generation, output checks)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t0

    def setup_done(self, at: float | None = None) -> None:
        """Mark the first measured op (now, or at perf_counter time ``at``):
        setup_s is process start to there, minus generation and checks."""
        at = time.perf_counter() if at is None else at
        self.metric("setup_s", at - self.t_process - self.excluded_s, "s")

    def start_spark(self):
        for sub in ("local", "tmp", "index", "warehouse"):
            os.makedirs(self.path(sub), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_GRAFT_INDEX_DIR"] = self.path("index")
        os.environ["TMPDIR"] = self.path("tmp")
        tempfile.tempdir = self.path("tmp")
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={self.path('tmp')}"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={self.path('warehouse')}"),
            "pyspark-shell",
        ])
        from tranquility_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gw = sc._gateway
        self.spark.stop()
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(60)

    def sink_layout_metrics(self, sink) -> None:
        """Rows and files the sink committed (its batch markers), and every
        file left in its layout (what each batch's sweep walks)."""
        markers = os.path.join(sink.root, "_batches")
        rows = 0
        for f in os.listdir(markers):
            if "." not in f:
                with open(os.path.join(markers, f)) as fh:
                    rows += json.load(fh)["rows"]
        self.metric("sink.rows_written", rows, "count")
        self.metric("sink.files_written", len(sink.committed_files()), "count")
        n = sum(len(fs) for _, _, fs in os.walk(sink._ds_root(0)))
        self.metric("sink.layout_files_end", n, "count")

    def jvm_metrics(self) -> None:
        """JVM CPU and peak RSS from /proc, heap in use after a full GC."""
        sc = self.spark.sparkContext
        pid = sc._gateway.proc.pid
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        ticks = os.sysconf("SC_CLK_TCK")
        self.metric("jvm.cpu_s", (int(fields[11]) + int(fields[12])) / ticks, "s")
        self.metric("jvm.peak_rss_mb", proc_status_kb(pid, "VmHWM") / 1024, "MB")
        rt = sc._jvm.java.lang.Runtime.getRuntime()
        sc._jvm.System.gc()
        self.metric("jvm.heap_after_gc_mb", (rt.totalMemory() - rt.freeMemory()) / 2**20, "MB")

    def calibration(self, when: str) -> None:
        """bench.py's two box-load probes (min of 3) over a generated sf0.1
        lineitem; never used to adjust a number."""
        from pyspark.sql import functions as F

        from perfbench import gen

        lineitem = self.path("cal", "lineitem.parquet")
        if not os.path.exists(lineitem):
            with self.untimed():
                gen.catalog_tables(self.path("cal"), self.seed, tables=("lineitem",))
        spark = self.spark
        probes = {
            "cal_scan_s": lambda: spark.read.parquet(lineitem)
            .agg(F.sum("l_extendedprice"), F.count(F.lit(1))).count(),
            "cal_cpu_s": lambda: spark.range(50_000_000).agg(F.sum(F.xxhash64("id"))).count(),
        }
        for name, fn in probes.items():
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            self.metric(f"box.{name}.{when}", best, "s")

    def result(self) -> dict:
        return {
            "correct": not self.problems and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": self.metrics,
        }


def select_metrics(run: Run) -> dict:
    """The metrics BENCHMARK.json lists for this mode, in its order. An
    end-to-end metric must have been measured; a per-layer metric of a layer
    this workload does not run reads 0. The traced run also reports its own
    op_p50_ms and pass_s, so tracing overhead can be read against an
    untraced run of the same seed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not run.trace:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in run.metrics]
        if missing:
            raise RuntimeError(f"end-to-end metrics not measured: {missing}")
        return {m["name"]: run.metrics[m["name"]] for m in spec["end_to_end"]}
    for name in ("op_p50_ms", "pass_s"):
        run.metrics[f"traced.{name}"] = run.metrics[name]
    return {
        m["name"]: run.metrics.get(m["name"], {"value": 0, "unit": m["unit"]})
        for m in spec["per_layer"]
    }


def write_trace(run: Run, table: list[tuple]) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{run.workload}-seed{run.seed}")
    run.tracer.dump(stem + "-spans.jsonl")
    lines = [f"{'metric':44s} {'value':>14s}  unit", "-" * 66]
    lines += [f"{name:44s} {value:14.4f}  {unit}" for name, value, unit in table]
    with open(stem + "-layers.txt", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("\n".join(lines), file=sys.stderr)
