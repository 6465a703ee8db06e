"""Spans, self-time arithmetic and Spark event-log counters.

Spans are kept in memory and written as JSONL when the run ends. Each
span has a name, start and end (seconds on the run's monotonic clock),
the id of the span that caused it and the run id.

Layer costs come from a *ladder*: rung k runs layers 0..k through the
program's public functions, so layer k's self time is rung k's time
minus the part of it that rung k-1 already measured. The event-log
counters of a rung are charged the same way. Job groups are set before each rung's DataFrame is built, so jobs
that run while a plan is built (eager checkpoints, convergence counts)
are charged to the rung that caused them.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass, field

#: event-log counters kept per job group
COUNTERS = ("jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_write_mb", "input_rows")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = s.dur - covered
    return out


def increments(rungs: list[tuple[str, dict]], base: dict | None = None) -> dict[str, dict]:
    """Ladder arithmetic: each rung's values minus the previous rung's.

    ``rungs`` is ``[(layer, {measure: value})]`` in ladder order; the
    first rung is charged against ``base`` (zero when omitted).
    """
    out = {}
    prev = base or {}
    for layer, vals in rungs:
        out[layer] = {k: v - prev.get(k, 0.0) for k, v in vals.items()}
        prev = vals
    return out


def _zero() -> dict:
    return {k: 0.0 for k in COUNTERS}


def parse_event_log(path: str) -> dict[str, dict]:
    """Job group -> summed counters, from an uncompressed Spark event log.

    Jobs of a streaming query are grouped under ``stream:<run id>`` (the
    stream execution thread sets the query's run id as its job group).
    A stage shared by several jobs is charged to the first job that
    lists it; tasks run once, so no task is counted twice.
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if "sql.streaming.queryId" in props:
                    group = "stream:" + props.get("spark.jobGroup.id", "")
                else:
                    group = props.get("spark.jobGroup.id") or "-"
                groups.setdefault(group, _zero())["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "-")
                g = groups.setdefault(group, _zero())
                m = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                g["shuffle_write_mb"] += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    / 2**20
                )
                # rows, not bytes: with the local file system Spark 4.1
                # counts only the parquet footer in "Bytes Read"
                g["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return groups


def event_log_file(log_dir: str) -> str:
    """The single application log a run wrote under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
