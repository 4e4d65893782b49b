"""Dump the executed plans of catalog entries at a scale factor.

Run from the root of the checkout whose plans are wanted:
    python3 plans/double_array_lit/dump_plans.py <sf_dir> <out_dir> <name> [name ...]

For each entry: the formatted plan of every localCheckpoint barrier the fn
materializes (in call order), then the formatted plan of the final frame
after collect() (AQE final plan). Expression ids, RDD ids, plan ids, the
checkout path and the data path are normalised so two trees can be diffed;
operator numbers, codegen ids and AQE query-stage ids are left as printed.
"""
import os
import re
import sys

sys.path.insert(0, os.getcwd())

from pyspark.sql import DataFrame  # noqa: E402

from tranquility_spark.session import get_spark  # noqa: E402

sf_dir, out_dir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
os.makedirs(out_dir, exist_ok=True)
spark = get_spark("plan-dump", cpus=2)
import __spark_entry__ as ent  # noqa: E402

ROOT = os.getcwd()


def fmt(df):
    s = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    s = s.replace(ROOT, "<repo>").replace(sf_dir, "<sf_dir>")
    s = re.sub(r"#\d+L?", "#N", s)
    s = re.sub(r"\b(\w*RDD)\[\d+\]", r"\1[N]", s)
    s = re.sub(r"plan_id=\d+", "plan_id=N", s)
    s = re.sub(r"/tmp/[^\s,\]]+", "<tmp>", s)
    return s


barriers = []
_orig_lc = DataFrame.localCheckpoint


def _lc(self, eager=True, *a, **k):
    out = _orig_lc(self, eager, *a, **k)
    barriers.append(fmt(self))
    return out


DataFrame.localCheckpoint = _lc

qs = ent.queries()
for name in names:
    barriers.clear()
    df = qs[name](spark, sf_dir)
    rows = df.collect()
    with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
        for i, b in enumerate(barriers):
            fh.write(f"===== barrier {i} =====\n{b}\n")
        fh.write(f"===== final ({len(rows)} rows) =====\n{fmt(df)}\n")
    print(name, len(barriers), "barriers", len(rows), "rows", flush=True)
spark.stop()
