"""The three workloads: inputs, the timed operation, its output check and
the traced per-layer ladder.

Each workload calls only the program's public entry points. Every
workload is a closed loop with one client: the next operation starts
when the previous one has returned.
"""

from __future__ import annotations

import hashlib
import os
import re
import statistics
import time

import pyarrow.parquet as pq

import gen
import oracle
from tracing import COUNTERS, increments

from opentelemetry_collector_contrib_spark.functions import dedup
from opentelemetry_collector_contrib_spark.operators import connectors
from opentelemetry_collector_contrib_spark.plans import config_pipeline, pipeline
from opentelemetry_collector_contrib_spark.sources import documents, transcripts
from opentelemetry_collector_contrib_spark.streaming import pipeline as streaming


class CheckFailed(Exception):
    """An operation's output disagrees with the reference."""


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs) -> float:
    return float(statistics.median(xs))


def _counters(groups: dict, group: str) -> dict:
    g = groups.get(group, {})
    return {k: float(g.get(k, 0.0)) for k in COUNTERS}


class Workload:
    name = ""
    #: input rows one operation processes (turns or documents)
    rows_per_op = 0

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.in_dir = os.path.join(work, "input")

    def generate(self) -> dict:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        """Work done before timing, beyond the engine warm-up every run
        does. The batch workloads warm nothing up: in production each
        runs once per JVM (spark-submit), so users pay the cold pass on
        every run and the benchmark times that pass."""

    def op(self, spark):
        raise NotImplementedError

    def check(self, spark, result) -> str:
        """Raise CheckFailed on a wrong output; return its digest."""
        raise NotImplementedError

    def trace(self, spark, tracer, seconds: float) -> dict:
        """Run the traced operation and ladder (for at least ``seconds``);
        return the metrics known without the event log, by full name."""
        raise NotImplementedError

    def attach_counters(self, layers: dict, groups: dict) -> None:
        """Fill ``layers`` (layer -> measure -> value) from the traced
        timings and the event-log counters per job group."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# flagship_batch
# ---------------------------------------------------------------------------

FLAGSHIP_TURNS = 100_000
FLAGSHIP_LADDER = (
    "sources",
    "parsers",
    "processors",
    "connectors.route",
    "connectors.fanout",
    "connectors.count",
)


class FlagshipBatch(Workload):
    """One ``plans.pipeline.run`` with an output directory: the CLI batch
    path (per-sink counts, then ``write_routed``)."""

    name = "flagship_batch"
    rows_per_op = FLAGSHIP_TURNS

    def generate(self) -> dict:
        props = gen.make_flagship(self.in_dir, self.seed, FLAGSHIP_TURNS)
        self.ref = oracle.flagship_reference(self.in_dir)
        props["parseable_share"] = self.ref["parseable_share"]
        props["error_fatal_share"] = self.ref["error_fatal_share"]
        self.input_rows = sum(
            pq.read_metadata(os.path.join(self.in_dir, f"{t}.parquet")).num_rows
            for t in transcripts.BASE_TABLES
        )
        self.out_dir = os.path.join(self.work, "out")
        return props

    def op(self, spark):
        return pipeline.run(spark, self.in_dir, out_dir=self.out_dir)

    def check(self, spark, result) -> str:
        want = {s: n for s, (n, _h) in self.ref["per_sink"].items()}
        if result["per_sink_counts"] != want:
            raise CheckFailed(f"per-sink counts {result['per_sink_counts']} != {want}")
        written = oracle.written_digest(os.path.join(self.out_dir, "routed"))
        if written != self.ref["per_sink"]:
            raise CheckFailed(f"routed rows differ from the reference: {written}")
        return oracle.digest(sorted(written.items()))

    def trace(self, spark, tracer, seconds: float) -> dict:
        sc = spark.sparkContext
        runs = []
        t_end = time.perf_counter() + seconds
        it = 0
        while it < 1 or time.perf_counter() < t_end:
            sc.setJobGroup(f"op#{it}", "op")
            with tracer.span("op") as op_span:
                res = pipeline.run(spark, self.in_dir, out_dir=self.out_dir)
            self.check(spark, res)
            r = {"op": op_span.dur, "res": res, "build": [], "exec": {}, "it": it}
            with tracer.span("ladder"):
                self._ladder(spark, tracer, it, r)
            runs.append(r)
            it += 1
        self.runs = runs
        # the streaming layers run the same parse, enrich and route code
        # on small micro-batches; they are measured here too
        self.stream = StreamIncremental(os.path.join(self.work, "stream"), self.seed)
        self.stream.generate()
        self.stream.warm_up(spark)
        with tracer.span("stream"):
            self.stream.trace(spark, tracer, 0.0)
        self.traced_ops = len(runs) + self.stream.traced_ops
        lin = runs[-1]["res"]["lineage"]["parse"]
        routed = sum(runs[-1]["res"]["per_sink_counts"].values())
        return {
            "trace.op_s": median(r["op"] for r in runs),
            "parsers.parse_ok_frac": 1.0 - lin["parse_errors"] / lin["rows"],
            "connectors.fanout_ratio": routed / FLAGSHIP_TURNS,
        }

    def _ladder(self, spark, tracer, it: int, r: dict) -> None:
        sc = spark.sparkContext

        def build():
            sc.setJobGroup(f"plans#{it}", "plans")
            with tracer.span("plans.build") as s:
                res = pipeline.build(spark, self.in_dir)
            r["build"].append(s.dur)
            return res

        def rung(layer, action):
            sc.setJobGroup(f"{layer}#{it}", layer)
            with tracer.span(layer) as s:
                action()
            r["exec"][layer] = s.dur

        # like the other rungs, count only the execution
        sc.setJobGroup(f"sources.build#{it}", "sources")
        turns = transcripts.transcripts_df(spark, self.in_dir)
        rung("sources", lambda: noop(turns))
        res = build()
        rung("parsers", lambda: noop(res.parsed))
        res = build()
        rung("processors", lambda: noop(res.enriched))
        res = build()
        rung("connectors.route", lambda: noop(res.tagged))
        res = build()
        rung("connectors.fanout", lambda: noop(connectors.routed_union(res.tagged, res.sink_map)))
        res = build()
        rung("connectors.count", lambda: pipeline.per_sink_counts(res).collect())
        sc.setJobGroup(f"plans#{it}", "plans")
        with tracer.span("plans.lineage") as s:
            res.lineage.collect()
        r["lineage"] = s.dur
        res = build()
        rung(
            "connectors.write",
            lambda: connectors.write_routed(res.tagged, res.sink_map, self.out_dir),
        )

    def attach_counters(self, layers: dict, groups: dict) -> None:
        per_it = []
        for r in self.runs:
            it = r["it"]
            vals = {
                l: {"self_s": r["exec"][l], **_counters(groups, f"{l}#{it}")}
                for l in FLAGSHIP_LADDER + ("connectors.write",)
            }
            inc = increments([(l, vals[l]) for l in FLAGSHIP_LADDER])
            inc["connectors.write"] = increments(
                [("w", vals["connectors.write"])], base=vals["connectors.fanout"]
            )["w"]
            # per pipeline.build, as pipeline.run builds once
            plans = _counters(groups, f"plans#{it}")
            n = len(r["build"])
            inc["plans"] = {
                "self_s": sum(r["build"]) / n + r["lineage"],
                "jobs": plans["jobs"] / n,
                "tasks": plans["tasks"] / n,
            }
            op = _counters(groups, f"op#{it}")
            inc["sources"]["input_read_ratio"] = op["input_rows"] / self.input_rows
            per_it.append(inc)
        for layer in per_it[0]:
            for m in per_it[0][layer]:
                layers.setdefault(layer, {})[m] = median(p[layer][m] for p in per_it)
        self.stream.attach_counters(layers, groups)


# ---------------------------------------------------------------------------
# corpus_recipe
# ---------------------------------------------------------------------------

CORPUS_SINGLES = 300

#: the ``corpus_dag`` recipe (``q_corpus_dag`` in ``__spark_entry__.py``):
#: PII scrub, Gopher gates, exact dedup, minhash near-dup with connected
#: components, decontamination, DSIR selection, global shuffle, packing
CORPUS_RECIPE = {
    "processors": [
        {"type": "pii_scrub"},
        {"type": "gopher_gates", "min_words": 5, "max_symbol_word_ratio": 0.3},
        {"type": "dedup_exact"},
        {"type": "checkpoint"},
        {"type": "dedup_minhash", "components": True},
        {"type": "checkpoint"},
        {"type": "decontaminate", "eval_where": "doc_id % 17 = 0", "n": 3},
        {"type": "checkpoint"},
        {"type": "dsir_select", "target_where": "doc_id % 13 = 0", "k": 200, "seed": 5},
        {"type": "global_shuffle", "key": "doc_id", "seed": 5},
        {"type": "pack_sequences", "budget": 2048},
    ]
}
#: config-prefix ladder: rung k applies the next ``n`` recipe stages to
#: rung k-1's frame, as build_from_config folds them
CORPUS_LADDER = (
    ("functions.text", 2),
    ("functions.dedup.exact", 1),
    ("plans.checkpoint", 1),
    ("functions.dedup.minhash", 1),
    ("plans.checkpoint", 1),
    ("functions.decontam", 1),
    ("plans.checkpoint", 1),
    ("functions.weighting", 1),
    ("functions.sampling", 1),
    ("functions.packing", 1),
)
#: layers whose stages do work while the plan is built
EAGER_LAYERS = ("functions.dedup.minhash", "plans.checkpoint")


def _norm_hash(text: str) -> str:
    # the exact-dedup normalization: whitespace runs -> one space, lower case
    return hashlib.md5(re.sub(r"\s+", " ", text).lower().encode()).hexdigest()


class CorpusRecipe(Workload):
    """One ``build_from_config`` of the corpus recipe plus a noop write."""

    name = "corpus_recipe"

    def generate(self) -> dict:
        props = gen.make_corpus(self.in_dir, self.seed, CORPUS_SINGLES)
        t = pq.read_table(os.path.join(self.in_dir, "documents.parquet"))
        self.norm = dict(
            zip(t.column("doc_id").to_pylist(), map(_norm_hash, t.column("text").to_pylist()))
        )
        self.rows_per_op = props["documents"]
        self.first_digest = None
        return props

    def op(self, spark):
        docs = documents.documents_df(spark, self.in_dir)
        out, _sinks = config_pipeline.build_from_config(
            spark, self.in_dir, CORPUS_RECIPE, source=docs
        )
        noop(out)
        return out

    def check(self, spark, result) -> str:
        rows = sorted(
            (r["shard"], r["bin_idx"], list(r["doc_ids"])) for r in result.collect()
        )
        ids = [d for _s, _b, ds in rows for d in ds]
        unknown = [d for d in ids if d not in self.norm]
        if unknown:
            raise CheckFailed(f"output holds doc ids not in the input: {unknown[:5]}")
        hashes = [self.norm[d] for d in ids]
        if len(set(hashes)) != len(hashes):
            raise CheckFailed("two survivors share a normalized-text hash")
        d = oracle.digest(rows)
        if self.first_digest is None:
            self.first_digest = d
        elif d != self.first_digest:
            raise CheckFailed(f"output digest {d} differs from the first pass {self.first_digest}")
        return d

    def trace(self, spark, tracer, seconds: float) -> dict:
        sc = spark.sparkContext
        sc.setJobGroup("op#0", "op")
        with tracer.span("op") as op_span:
            out = self.op(spark)
        self.check(spark, out)
        self.traced_ops = 1
        stages = CORPUS_RECIPE["processors"]
        df = documents.documents_df(spark, self.in_dir)
        sc.setJobGroup("source.exec", "source")
        with tracer.span("source") as s:
            noop(df)
        self.rungs = [("source", 0.0, s.dur)]
        frames, i = [], 0
        with tracer.span("ladder"):
            for k, (layer, n) in enumerate(CORPUS_LADDER):
                group = f"{layer}@{k}"
                with tracer.span(layer):
                    sc.setJobGroup(group + ".build", layer)
                    with tracer.span(layer + ".build") as b:
                        df, _ = config_pipeline.build_from_config(
                            spark, self.in_dir, {"processors": stages[i : i + n]}, source=df
                        )
                    sc.setJobGroup(group + ".exec", layer)
                    with tracer.span(layer + ".exec") as e:
                        noop(df)
                self.rungs.append((group, b.dur, e.dur))
                frames.append(df)
                i += n
        # the recipe rebuilt rung by rung is a second pass over the same
        # input: its output must keep the op's digest
        self.check(spark, df)
        self.traced_ops = 2
        sc.setJobGroup("count", "count")
        n_text = frames[0].count()
        n_dedup = frames[4].count()
        # candidate pairs as the recipe's minhash stage finds them (its
        # defaults), over the exact-deduplicated checkpoint
        sigs = dedup.minhash_signatures(
            dedup.shingles(frames[2], w=3, distinct=False), k=12
        )
        pairs = dedup.lsh_pairs(sigs, k=12, bands=4).count()
        return {
            "trace.op_s": op_span.dur,
            "functions.dedup.removed_frac": (n_text - n_dedup) / n_text,
            "functions.dedup.lsh_pairs": float(pairs),
        }

    def attach_counters(self, layers: dict, groups: dict) -> None:
        # a rung's build runs only its own stages; its execution re-runs
        # every lazy stage since the last checkpoint, which the previous
        # rung's execution already measured
        prev_e, prev_c = self.rungs[0][2], _counters(groups, "source.exec")
        for group, b, e in self.rungs[1:]:
            layer = group.split("@")[0]
            cb, ce = _counters(groups, group + ".build"), _counters(groups, group + ".exec")
            inc = {k: cb[k] + ce[k] - prev_c[k] for k in COUNTERS}
            if layer in EAGER_LAYERS:
                inc["build_s"] = b - prev_e
                inc["exec_s"] = e
            else:
                inc["self_s"] = b + e - prev_e
            acc = layers.setdefault(layer, {})
            for k, x in inc.items():
                acc[k] = acc.get(k, 0.0) + x
            prev_e, prev_c = e, ce


# ---------------------------------------------------------------------------
# stream_incremental
# ---------------------------------------------------------------------------

STREAM_FILE_TURNS = 2_000
STREAM_WARM_OPS = 2
#: streaming layer -> progress ``durationMs`` keys it covers
STREAM_PHASES = {
    "streaming.offsets": ("latestOffset", "getBatch", "walCommit"),
    "streaming.planning": ("queryPlanning",),
    "streaming.add_batch": ("addBatch",),
    "streaming.commit": ("commitOffsets",),
}


class StreamIncremental(Workload):
    """Drop one file, run ``streaming.pipeline.run_to_sinks`` with an
    availableNow trigger and wait for it to terminate."""

    name = "stream_incremental"
    rows_per_op = STREAM_FILE_TURNS

    def generate(self) -> dict:
        self.dims_dir = os.path.join(self.work, "dims")
        self.stage_dir = os.path.join(self.work, "staged")
        self.out_dir = os.path.join(self.work, "out")
        self.ck_dir = os.path.join(self.work, "checkpoint")
        os.makedirs(self.in_dir, exist_ok=True)
        os.makedirs(self.stage_dir, exist_ok=True)
        gen.make_stream_dims(self.dims_dir, self.seed)
        self.dropped = 0
        self.expected: dict[str, int] = {}
        self._stage_next()
        return {
            "turns_per_file": STREAM_FILE_TURNS,
            "conversations": gen.STREAM_CONVERSATIONS,
        }

    def _stage_next(self) -> None:
        """Write the next file outside the watched directory (untimed)."""
        name = f"part-{self.dropped:05d}.parquet"
        self.next_file = (os.path.join(self.stage_dir, name), os.path.join(self.in_dir, name))
        gen.make_stream_file(self.next_file[0], self.seed, self.dropped, STREAM_FILE_TURNS)
        self.next_counts = oracle.stream_file_counts(self.next_file[0], self.dims_dir)

    def warm_up(self, spark) -> None:
        for _ in range(STREAM_WARM_OPS):
            self.check(spark, self.op(spark))

    def op(self, spark):
        os.rename(*self.next_file)
        q = streaming.run_to_sinks(
            spark, self.in_dir, self.dims_dir, self.out_dir, self.ck_dir, available_now=True
        )
        q.awaitTermination()
        return q

    def check(self, spark, result) -> str:
        self.dropped += 1
        for s, n in self.next_counts.items():
            self.expected[s] = self.expected.get(s, 0) + n
        got = oracle.metrics_totals(os.path.join(self.out_dir, "metrics"))
        self._stage_next()
        if result.exception() is not None:
            raise CheckFailed(f"stream query failed: {result.exception()}")
        if got != self.expected:
            raise CheckFailed(f"metrics totals {got} != reference {self.expected}")
        return oracle.digest(sorted(got.items()))

    def trace(self, spark, tracer, seconds: float) -> dict:
        self.ops = []
        t_end = time.perf_counter() + seconds
        while len(self.ops) < 3 or time.perf_counter() < t_end:
            with tracer.span("micro-batch") as s:
                q = self.op(spark)
            self.check(spark, q)
            self.ops.append((s.dur, str(q.runId), q.recentProgress))
            self.traced_ops = len(self.ops)
        return {"trace.op_s": median(d for d, _r, _p in self.ops)}

    def attach_counters(self, layers: dict, groups: dict) -> None:
        per_op = []
        for dur, run_id, progress in self.ops:
            ms = {}
            for p in progress:
                for k, v in p["durationMs"].items():
                    ms[k] = ms.get(k, 0) + v
            v = {
                layer: sum(ms.get(k, 0) for k in keys) / 1e3
                for layer, keys in STREAM_PHASES.items()
            }
            v["streaming.start"] = dur - ms.get("triggerExecution", 0) / 1e3
            v["counters"] = _counters(groups, f"stream:{run_id}")
            per_op.append(v)
        for layer in ("streaming.start", *STREAM_PHASES):
            layers.setdefault(layer, {})["self_s"] = median(p[layer] for p in per_op)
        add = layers["streaming.add_batch"]
        for k in COUNTERS:
            add[k] = median(p["counters"][k] for p in per_op)


WORKLOADS = {w.name: w for w in (FlagshipBatch, CorpusRecipe, StreamIncremental)}
