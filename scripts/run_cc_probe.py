"""Connected-components diameter decades (r16) — the pointer-doubling
rewrite's own scale measurement (VERDICT r15 #2's "Done" condition).

neardup_survivors_converged's r15 form propagated the min label ONE hop
per round, so an adversarial chain made round count (and wall time)
linear in graph diameter: sf0.1's 39-hop video chain cost 39 rounds of
join+groupBy+checkpoint+count = the suite's long pole at 16.3 s. The
r16 _cc_pointer_doubling form hooks trees together and pointer-jumps
twice per round, so the label frontier moves ~4x the distance each
round — round count should grow as LOG of the diameter, not linearly.

This probe builds pure chain graphs (the worst case: diameter = n-1,
every round's frontier fully serialized) at decade lengths and records:

- rounds: doubling rounds actually used (the helper's own counter);
- wall: end-to-end _cc_pointer_doubling + a full label collect;
- labels_ok: every node resolved to the single component min (0).

The retired one-hop loop's linear-vs-log comparison numbers stay in
SCALE.md r16.

Besides chains, a DENSE decade runs blob graphs (k near-dup clusters
of m docs each with full intra-cluster pair sets — the shape real dup
families have): diameter is 1, so rounds should be constant while edge
volume grows 100x; this pins that the doubling loop's round count
tracks DIAMETER, not size.

Usage: python3 scripts/run_cc_probe.py [chain_len ...]
       (default: 10 100 1000, then the dense decade)
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> None:
    lens = [int(a) for a in sys.argv[1:]] or [10, 100, 1000]
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from tranquility_spark.operators.dedup import _cc_pointer_doubling

    print("chain_len | doubling_rounds | doubling_wall_s")
    for n in lens:
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
        ).localCheckpoint(eager=True)

        t0 = time.time()
        labels, rounds, _ = _cc_pointer_doubling(pairs)
        got = {r.cluster_id for r in labels.collect()}
        wall = time.time() - t0
        assert got == {0}, f"chain {n}: wrong labels {sorted(got)[:5]}"
        print(f"{n:9d} | {rounds:15d} | {wall:15.2f}")

    print("\ndense blob decade (k clusters x m docs, full intra-cluster pair sets)")
    print("clusters x size | edges | doubling_rounds | wall_s")
    for k, m in ((10, 10), (100, 10), (100, 32)):
        rows = []
        for c in range(k):
            base = c * 1000
            rows += [
                (base + i, base + j) for i in range(m) for j in range(i + 1, m)
            ]
        pairs = spark.createDataFrame(
            rows, "id_a bigint, id_b bigint"
        ).localCheckpoint(eager=True)
        t0 = time.time()
        labels, rounds, _ = _cc_pointer_doubling(pairs)
        got = {r.cluster_id for r in labels.collect()}
        wall = time.time() - t0
        assert got == {c * 1000 for c in range(k)}, f"blob {k}x{m}: wrong minima"
        print(f"{k:7d} x {m:5d} | {len(rows):5d} | {rounds:15d} | {wall:6.2f}")

    spark.stop()


if __name__ == "__main__":
    main()
