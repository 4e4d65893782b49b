"""Fixed-work benchmark of the push ingest path, the stream drain path and a
catalog entry mix (see perfbench/NOTES.md).

    python3 perfbench/run.py --workload push_http --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run and
writes its spans and per-layer table under ``.perfbench_out/``. Every run
works in a fresh directory under ``.perfbench_runs/`` and removes it at the
end. An output-check mismatch prints ``"correct": false`` and exits 1.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import Run, select_metrics, write_trace  # noqa: E402

WORKLOADS = ("push_http", "stream_drain", "catalog_mix")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    mod = importlib.import_module(f"perfbench.{args.workload}")
    run = Run(args, T_PROCESS)
    shutil.rmtree(run.dir, ignore_errors=True)
    os.makedirs(run.dir)
    cwd = os.getcwd()
    os.chdir(run.dir)  # anything Spark drops into its working dir is removed too
    try:
        mod.run(run)
    finally:
        try:
            run.stop_spark()
        finally:
            os.chdir(cwd)
            shutil.rmtree(run.dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run.dir))  # only if no other run is using it
            except OSError:
                pass
    run.metrics = select_metrics(run)
    if run.trace:
        write_trace(run, [(k, v["value"], v["unit"]) for k, v in run.metrics.items()])
    print(json.dumps(run.result()))
    return 0 if run.result()["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
