"""catalog_mix: a closed loop over one fixed pass of CATALOG entries.

dd32 is bound by driver orchestration (about 30 Spark jobs and 6 barriers,
most of the wall before the action) and runs on a 500-document corpus; q21
and dd17 are bound by execution (a few jobs, most of the wall in
``count()``) and run at sf0.05. The first pass warms the session, builds
the served indexes and keeps each entry's output for the oracle check,
which runs after the timed loop. One op is one pass; a run makes at least
three."""

from __future__ import annotations

import gc
import math
import os
import sys
import time
from statistics import median

from perfbench import gen
from perfbench.harness import ROOT, proc_status_kb, reset_peak_rss
from perfbench.trace import JobGroups, Py4jCounter, cover, wrap_method

# corpus -> (scale factor, tables)
CORPORA = {
    "small": (0.01, ("documents",)),
    "sf0.05": (0.05, ("orders", "lineitem", "supplier", "documents")),
}
# (short name, catalog entry, corpus)
ENTRIES = (
    ("dd32", "dd32_video_survivors", "small"),
    ("q21", "q21_waiting_suppliers", "sf0.05"),
    ("dd17", "dd17_simhash_neardup", "sf0.05"),
)
PASS_S = 5.0  # nominal warm pass on a 4-core box; sizes the fixed work
MIN_PASSES = 3


def run(r) -> None:
    n_passes = max(MIN_PASSES, math.floor(r.seconds / PASS_S))
    dirs = {name: r.path(name) for name in CORPORA}
    with r.untimed():
        for name, (sf, tables) in CORPORA.items():
            gen.catalog_tables(dirs[name], r.seed, sf=sf, tables=tables)
        reset_peak_rss()

    spark = r.start_spark()
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from tranquility_spark.catalog import CATALOG

    tr = r.tracer
    if tr:
        py4j, groups = Py4jCounter(), JobGroups(spark)
        py4j.install(spark)
        barriers: list = []
        wrap_method(type(spark.range(1)), "localCheckpoint", tr, "barrier",
                    after=lambda _t, rec: barriers.append(rec))

    def one(p: int, short: str, entry: str, corpus: str, measure: bool):
        fn = CATALOG[entry].fn
        if not tr:
            t0 = time.perf_counter()
            df = fn(spark, dirs[corpus])
            out = df.count() if measure else df.toPandas()
            return time.perf_counter() - t0, out, {}
        op = f"{p}:{short}"
        tr.current_op = op
        before_ungrouped = groups.job_ids(None)
        n0, c0, b0 = py4j.n, time.process_time(), len(barriers)
        groups.enter(op)
        try:
            with tr.span(f"entry.{short}", op=op) as root:
                with tr.span("entry.build") as build:
                    df = fn(spark, dirs[corpus])
                with tr.span("entry.action") as action:
                    out = df.count() if measure else df.toPandas()
        finally:
            groups.exit()
        stats = {"build_s": build["end"] - build["start"],
                 "action_s": action["end"] - action["start"],
                 "py4j_calls": py4j.n - n0, "driver_cpu_s": time.process_time() - c0}
        mine = barriers[b0:]
        stats["barriers"] = len(mine)
        stats["barrier_s"] = cover((b["start"], b["end"]) for b in mine)
        jobs = groups.job_ids(op) | (groups.job_ids(None) - before_ungrouped)
        stats["spark_jobs"] = len(jobs)
        stats["spark_tasks"] = groups.tasks(jobs)
        return root["end"] - root["start"], out, stats

    def settle() -> None:
        gc.collect()
        spark._jvm.System.gc()

    # warm pass: its outputs are the ones the oracles check
    outputs = {}
    for short, entry, corpus in ENTRIES:
        _, outputs[short], _ = one(0, short, entry, corpus, measure=False)
        settle()
    r.setup_done()
    if tr:
        r.calibration("start")

    passes, per_entry = [], {short: [] for short, _, _ in ENTRIES}
    for p in range(1, n_passes + 1):
        wall = 0.0
        for short, entry, corpus in ENTRIES:
            r.attempted += 1
            try:
                dt, n, stats = one(p, short, entry, corpus, measure=True)
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                r.failed += 1
                r.check(False, f"{entry}: {type(exc).__name__}: {exc}")
                continue
            wall += dt
            per_entry[short].append(stats)
            if not r.check(n == len(outputs[short]) and n > 0,
                           f"{entry}: pass {p} counted {n} rows, the checked pass {len(outputs[short])}"):
                r.failed += 1
            settle()
        passes.append(wall)
    r.metric("driver_peak_rss_mb", proc_status_kb("self", "VmHWM") / 1024, "MB")
    r.metric("op_p50_ms", median(passes) * 1000, "ms")
    r.metric("pass_s", sum(passes) / len(passes), "s")

    with r.untimed():
        import duckdb
        from check_parity import compare

        for short, entry, corpus in ENTRIES:
            oracle = CATALOG[entry].oracle
            if oracle is None:
                r.check(len(outputs[short]) > 0, f"{entry}: rows-only entry returned 0 rows")
                continue
            con = duckdb.connect()
            for t in ("lineitem", "orders", "supplier", "documents"):
                path = os.path.join(dirs[corpus], f"{t}.parquet")
                if os.path.exists(path):
                    con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{path}')")
            problems = compare(outputs[short], con.sql(oracle).df())
            r.check(not problems, f"{entry}: oracle mismatch: {'; '.join(problems)}")
            con.close()

    if tr:
        for short, rows in per_entry.items():
            for key in ("build_s", "action_s", "barrier_s", "driver_cpu_s"):
                r.metric(f"entry.{short}.{key}", median([s[key] for s in rows]), "s")
            for key in ("spark_jobs", "spark_tasks", "barriers", "py4j_calls"):
                r.metric(f"entry.{short}.{key}", median([s[key] for s in rows]), "count")
        r.jvm_metrics()
        r.calibration("end")
