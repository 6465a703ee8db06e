"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload flagship_batch --seed 1 --seconds 10 --trace 0

Generates the workload's input from ``--seed``, starts Spark on
``local[nproc]``, runs the operation in a closed loop until ``--seconds``
of operation time have passed (at least one operation), checks every
output against an independent reference and prints one JSON object as
the last line. ``--trace 0`` reports the end-to-end metrics, ``--trace
1`` the per-layer metrics of a separate traced run. See
perfbench/README.md.
"""

T0 = __import__("time").perf_counter()

import argparse  # noqa: E402
import faulthandler  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: a run must end within 180 s: no operation starts after LAST_START_S,
#: and at WATCHDOG_S a run still going is reported as failed and ended
LAST_START_S = 120.0
WATCHDOG_S = 170.0

#: gated end-to-end metrics: (name, unit, better, bound); ``bound`` is
#: the share of the parent's median by which a metric may worsen
END_TO_END = (
    ("rows_per_s", "1/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
)

_FULL = (
    ("self_s", "s"), ("jobs", "count"), ("tasks", "count"), ("task_cpu_s", "s"),
    ("gc_s", "s"), ("shuffle_write_mb", "MB"), ("input_rows", "count"),
)
_EAGER = (("build_s", "s"), ("exec_s", "s")) + _FULL[1:]
#: ladder -> [(layer, measures)]
LAYERS = {
    "flagship": [
        (layer, _FULL)
        for layer in (
            "sources", "parsers", "processors", "connectors.route",
            "connectors.fanout", "connectors.count", "connectors.write",
        )
    ] + [("plans", _FULL[:3])],
    "corpus": [
        ("functions.text", _FULL),
        ("functions.dedup.exact", _FULL),
        ("functions.dedup.minhash", _EAGER),
        ("plans.checkpoint", _EAGER),
        ("functions.decontam", _FULL),
        ("functions.weighting", _FULL),
        ("functions.sampling", _FULL),
        ("functions.packing", _FULL),
    ],
    "streaming": [
        ("streaming.start", _FULL[:1]),
        ("streaming.offsets", _FULL[:1]),
        ("streaming.planning", _FULL[:1]),
        ("streaming.add_batch", _FULL),
        ("streaming.commit", _FULL[:1]),
    ],
}
#: (name, unit, better) of the ratios each ladder adds
RATIOS = {
    "flagship": [
        ("sources.input_read_ratio", "ratio", "lower"),
        ("parsers.parse_ok_frac", "ratio", "higher"),
        ("connectors.fanout_ratio", "ratio", "lower"),
    ],
    "corpus": [
        ("functions.dedup.removed_frac", "ratio", "higher"),
        ("functions.dedup.lsh_pairs", "count", "lower"),
    ],
    "streaming": [],
}
#: workload -> the ladders its traced run measures; a traced run reports
#: every per-layer metric, and those of ladders it does not run read 0
LADDERS = {
    "flagship_batch": ("flagship", "streaming"),
    "corpus_recipe": ("corpus",),
    "stream_incremental": ("streaming",),
}
#: traced operation time; minus the untraced operation time of the same
#: workload and seed it gives the tracing overhead
TRACE_OP = ("trace.op_s", "s", "lower")


def per_layer_metrics() -> list[tuple[str, str, str, str | None]]:
    """(name, unit, better, ladder or None for every ladder)."""
    out = []
    for ladder, layers in LAYERS.items():
        for layer, measures in layers:
            out += [(f"{layer}.{m}", unit, "lower", ladder) for m, unit in measures]
        out += [(n, u, b, ladder) for n, u, b in RATIOS[ladder]]
    return out + [(*TRACE_OP, None)]


def p90(xs: list[float]) -> float:
    """Nearest-rank 90th percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)]


_OUT = threading.Lock()
_GAVE_UP = threading.Event()


def _say(*parts) -> None:
    """Print a line, unless the watchdog has taken over the output."""
    with _OUT:
        if _GAVE_UP.is_set():
            threading.Event().wait()  # the watchdog ends the process
        print(*parts, flush=True)


def run_loop(w, spark, seconds: float, deadline: float) -> dict:
    """Closed loop, one client: operations until ``seconds`` of
    operation time (at least one). Checks run between operations and
    are not timed."""
    durs, failed, digest = [], 0, None
    while not durs or (sum(durs) < seconds and time.perf_counter() < deadline):
        t = time.perf_counter()
        try:
            res = w.op(spark)
        except Exception:
            durs.append(time.perf_counter() - t)
            failed += 1
            traceback.print_exc()
            continue
        durs.append(time.perf_counter() - t)
        try:
            digest = w.check(spark, res)
        except Exception:
            failed += 1
            traceback.print_exc()
    return {"durs": durs, "failed": failed, "digest": digest}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(LADDERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import opentelemetry_collector_contrib_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # keep every temporary file inside the checkout, the JVMs' too (no
    # hsperfdata files under /tmp)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"])
    )
    import host
    import tracing
    import workloads

    fp = host.fingerprint()
    fp["loadavg_before"] = host.loadavg()
    cpu_before = host.cpu_times()
    w = workloads.WORKLOADS[args.workload](work, args.seed)
    t = time.perf_counter()
    props = w.generate()
    gen_s = time.perf_counter() - t
    _say("input", json.dumps(props), f"gen_s={gen_s:.3f}")

    ev_dir = os.path.join(work, "eventlog") if args.trace else None
    session = host.Session(work, event_log_dir=ev_dir)
    watchdog = threading.Timer(T0 + WATCHDOG_S - time.perf_counter(), give_up, (session,))
    watchdog.daemon = True
    watchdog.start()
    tracer = tracing.Tracer(uuid.uuid4().hex[:12])
    try:
        t = time.perf_counter()
        spark = session.start()
        t_session = time.perf_counter()
        session.warm_up()
        w.warm_up(spark)
        t_warm = time.perf_counter()
        setup_s = t_warm - T0 - gen_s
        _say(f"setup_s {setup_s:.3f}: before session {t - T0 - gen_s:.3f}, "
             f"session {t_session - t:.3f}, warm-up {t_warm - t_session:.3f}")
        fp["java"] = session.java_version()
        if args.trace:
            try:
                with tracer.span("run"):
                    extra = w.trace(spark, tracer, args.seconds)
                failed = 0
            except Exception:
                traceback.print_exc()
                extra, failed = None, 1
        else:
            loop = run_loop(w, spark, args.seconds, T0 + LAST_START_S)
            rss = host.vm_hwm_mb() + host.vm_hwm_mb(session.jvm_pid())
    finally:
        session.stop()
    watchdog.cancel()
    fp["loadavg_after"] = host.loadavg()
    fp["steal_frac"] = host.steal_frac(cpu_before, host.cpu_times())
    _say("host", json.dumps(fp))

    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    if args.trace:
        result = traced_result(w, tracer, ev_dir, extra, failed, stem, fp, props)
    else:
        result = untraced_result(w, loop, setup_s, rss, stem, fp, props)
    shutil.rmtree(work, ignore_errors=True)
    _say(json.dumps(result))
    return 0


def give_up(session) -> None:
    """Watchdog: report a run that overran as failed, with the stack it
    was stuck in, end its JVM and exit."""
    with _OUT:
        _GAVE_UP.set()
    print(f"perfbench: run still going after {WATCHDOG_S:.0f} s; threads:",
          file=sys.stderr, flush=True)
    faulthandler.dump_traceback(file=sys.stderr, all_threads=True)
    session.kill()
    print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}), flush=True)
    os._exit(0)


def untraced_result(w, loop, setup_s, rss, stem, fp, props) -> dict:
    import workloads

    durs = loop["durs"]
    values = {
        "rows_per_s": (w.rows_per_op * len(durs) / sum(durs), "1/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "op_p50_s": (workloads.median(durs), "s"),
        "op_p90_s": (p90(durs), "s"),
        "failed_frac": (loop["failed"] / len(durs), "ratio"),
    }
    _say("digest", loop["digest"])
    _say(f"ops {len(durs)}: op_p50_s and op_p90_s rest on {len(durs)} samples")
    for n, (v, unit) in values.items():
        _say(f"metric {n} = {v:.6g} {unit}")
    result = {
        "correct": loop["failed"] == 0,
        "attempted": len(durs),
        "failed": loop["failed"],
        "metrics": {n: {"value": values[n][0], "unit": u} for n, u, _b, _x in END_TO_END},
    }
    with open(stem + ".json", "w") as f:
        json.dump({**result, "host": fp, "input": props, "op_s": durs,
                   "digest": loop["digest"]}, f, indent=1)
    return result


def traced_result(w, tracer, ev_dir, extra, failed, stem, fp, props) -> dict:
    import tracing

    tracer.write_jsonl(stem + "-spans.jsonl")
    attempted = max(1, getattr(w, "traced_ops", 1))
    if extra is None:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}
    groups = tracing.parse_event_log(tracing.event_log_file(ev_dir))
    layers: dict[str, dict] = {}
    w.attach_counters(layers, groups)
    flat = {f"{layer}.{m}": v for layer, ms in layers.items() for m, v in ms.items()}
    flat.update(extra)
    own = LADDERS[w.name]
    metrics = {}
    for name, unit, _better, ladder in per_layer_metrics():
        if ladder is None or ladder in own:
            if name not in flat:
                raise RuntimeError(f"traced run did not measure {name}")
            metrics[name] = {"value": float(flat[name]), "unit": unit}
        else:
            metrics[name] = {"value": 0.0, "unit": unit}
    ranking = {}
    for ladder in own:
        selfs = []
        for layer, _m in LAYERS[ladder]:
            v = layers[layer]
            selfs.append((layer, v["self_s"] if "self_s" in v else v["build_s"] + v["exec_s"]))
        ranking[ladder] = sorted(selfs, key=lambda x: -x[1])
        _say(f"top {ladder} layers by self time:",
             ", ".join(f"{layer} {s:.3f}s" for layer, s in ranking[ladder][:3]))
    overhead = None
    if os.path.exists(stem + ".json"):
        with open(stem + ".json") as f:
            untraced = json.load(f)["op_s"]
        overhead = extra["trace.op_s"] - sorted(untraced)[len(untraced) // 2]
    _say("tracing overhead (traced minus untraced op time):",
         "n/a (no untraced run of this seed)" if overhead is None else f"{overhead:.3f}s")
    span_self: dict[str, float] = {}
    for sid, st in tracing.self_times(tracer.spans).items():
        name = tracer.spans[sid].name
        span_self[name] = span_self.get(name, 0.0) + st
    with open(stem + "-trace.json", "w") as f:
        json.dump({"host": fp, "input": props, "layers": layers,
                   "self_time_ranking": ranking, "tracing_overhead_s": overhead,
                   "span_self_s": span_self, "job_groups": groups,
                   "spans": os.path.basename(stem) + "-spans.jsonl"},
                  f, indent=1)
    return {"correct": True, "attempted": attempted, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    try:
        code = main()
    except BaseException:
        if _GAVE_UP.is_set():
            threading.Event().wait()  # the watchdog ends the process
        raise
    sys.exit(code)
