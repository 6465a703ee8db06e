"""Bench driver: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Cores default to every CPU this process may run on and the driver heap
to min(4g, RAM/8), the sizing rule of ``perfbench.host`` and the test
fixture.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "turns_per_sec": ...}

Set SPARK_GRAFT_BENCH_RUNS>1 to take the min over repeated runs (first
run pays JVM/codegen warmup). The scaling-efficiency evidence for the
north rule (local[8] vs local[32]) lives in BENCH/scaling.py which
invokes this module's timing core at two parallelism levels.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession

from perfbench.host import heap_mb, nproc


def make_spark(cpus: int, app: str = "otelcol-spark-bench") -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        # bigger Arrow batches amortize the IPC boundary for pandas-UDF
        # stages (measured: ~20% off the warm Arrow parse at 64k vs 10k)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", f"{heap_mb()}m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


#: headline subset — one per pipeline stage family, plus the flagship
HEADLINE = [
    "parse_regex",
    "parse_regex_arrow",
    "grok_parse",
    "syslog_rfc5424",
    "enrich_broadcast",
    "route_per_sink_counts",
    "routed_rows",
    "count_multi_metric",
    "sum_items_by_team",
    "log_dedup",
    "recombine",
    "conv_text_digest",
    "ottl_transform",
    "dedup_minhash_lsh",
    "pack_sequences",
    "dedup_embedding_pairs",
    "ann_cosine_topk",
    "text_stats",
    "ottl_extended",
    "otlpjson_envelope",
    "ann_ivf_topk",
    "repetition_signals",
    "decontamination",
    "semdedup",
    "dsir_weights",
    "span_dedup",
    "corpus_dag",
]

#: the 19 queries benched since round 3 — their subtotal is emitted as
#: ``comparable_19_total`` so cross-round comparison (r3 36.30s,
#: r4 33.93s on this subset) needs no manual arithmetic. The three
#: round-4 additions (pack_sequences, ann_ivf_topk, repetition_signals)
#: are excluded by construction, as are the round-5 additions
#: (decontamination, semdedup, dsir_weights).
COMPARABLE_19 = [n for n in HEADLINE if n not in (
    "pack_sequences", "ann_ivf_topk", "repetition_signals",
    "decontamination", "semdedup", "dsir_weights", "span_dedup",
    "corpus_dag")]


def _exec(df) -> int:
    """Force full execution without driver-side materialization."""
    return df.write.format("noop").mode("overwrite").save() or df.count()


def run_bench(spark: SparkSession, sf_dir: str, names=None) -> dict[str, float]:
    import __spark_entry__ as e

    qs = dict(e.queries())
    # bench-only twin: the Arrow parse path is pytest-proven equal to
    # parse_regex and no longer occupies a driver-checked query slot,
    # but its JVM-vs-Arrow timing comparison stays a headline number
    qs.setdefault("parse_regex_arrow", e.q_parse_regex_arrow)
    # the driver-board ann_ivf_topk runs at nprobe == nlist (full probe,
    # oracle-replayable); the BENCH number stays the honest ANN setting
    # (nprobe=4 < nlist=16) and comparable with rounds 3-4
    qs["ann_ivf_topk"] = e.q_ann_ivf_bench
    # the board folded brute+LSH top-k into one tagged union (ann_topk);
    # the BENCH number stays the standalone brute-force query so the
    # cross-round comparable subtotal keeps its meaning
    qs.setdefault("ann_cosine_topk", e.q_ann_cosine_topk)
    # the board folded lang_id into text_stats in round 5; the BENCH
    # number stays the round-3/4 scope (no lang_id) so the
    # comparable_19_total subtotal times an identical query each round
    qs["text_stats"] = e.q_text_stats_bench
    # bench-only: C4 span dedup is pytest-oracle-checked, not a board row
    qs.setdefault("span_dedup", e.q_span_dedup)
    # bench-only: the composed declarative corpus-prep DAG end-to-end
    qs.setdefault("corpus_dag", e.q_corpus_dag)
    names = [n for n in (names or HEADLINE) if n in qs]
    times: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        times[name] = round(time.perf_counter() - t0, 3)
    return times


def input_rows(spark: SparkSession, sf_dir: str) -> int:
    return spark.read.parquet(f"{sf_dir}/events.parquet").count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or nproc())
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "1"))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    spark = make_spark(cpus)
    try:
        n_turns = input_rows(spark, sf_dir)
        # session warmup: pay JIT/codegen/broadcast once outside the
        # timings (a real deployment is a warm long-running job)
        import __spark_entry__ as e

        e.queries()["route_per_sink_counts"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        best: dict[str, float] = {}
        for _ in range(max(runs, 1)):
            t = run_bench(spark, sf_dir)
            for k, v in t.items():
                best[k] = min(best.get(k, float("inf")), v)
        total = round(sum(best.values()), 3)
        comparable = round(
            sum(best[n] for n in COMPARABLE_19 if n in best), 3
        )
        # end-to-end pipeline throughput: turns/sec through the flagship
        flagship = best.get("route_per_sink_counts", total)
        print(
            json.dumps(
                {
                    "metric": "headline_queries_total",
                    "value": total,
                    "unit": "sec",
                    "comparable_19_total": comparable,
                    "queries": best,
                    "sf": sf_dir,
                    "cpus": cpus,
                    "input_turns": n_turns,
                    "turns_per_sec": round(n_turns / flagship) if flagship else None,
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
