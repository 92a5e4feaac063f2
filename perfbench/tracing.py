"""Tracing for the traced benchmark run: spans recorded by the benchmark
around calls into the pipeline's public functions, and a fold of
Spark's own event log into per-layer numbers.

Nothing here changes the program. Spans come from wrappers that the
benchmark installs on `Runner.run`, `Runner.stage_*`,
`Runner.flush_metrics` and `stages.connected_components` for the
traced batch passes, and on `TableIO.append` and `TableIO.compact` for
the traced streaming section, and removes afterwards. The stage and
streaming spans also set a Spark job group, so every job the call
starts is tagged in the event log with the layer that caused it.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench:"

# SQL metrics folded per job group: (event-log name, output suffix,
# scale). Timing metrics are in ms, size metrics in bytes.
SQL_TASK_METRICS = (
    ("time to run Python workers", "python_s", 1e-3),
    ("data sent to Python workers", "python_bytes_in", 1),
    ("data returned from Python workers", "python_bytes_out", 1),
    ("task commit time", "commit_s", 1e-3),
)
SQL_DRIVER_METRICS = (("job commit time", "commit_s", 1e-3),)


class Tracer:
    """In-memory spans: name, start, end, parent index and run id.
    Spans nest by call order on the thread that opens them."""

    def __init__(self, run_id: str, spark_context=None):
        self.run_id = run_id
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        prev = None
        if group is not None and self.sc is not None:
            prev = self.sc.getLocalProperty(GROUP_KEY)
            self.sc.setLocalProperty(GROUP_KEY, GROUP_PREFIX + group)
        try:
            yield rec
        finally:
            if group is not None and self.sc is not None:
                self.sc.setLocalProperty(GROUP_KEY, prev)
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, group: str | None = None,
             record=None) -> None:
        """Replace owner.attr with a wrapper that runs it in a span.
        `record(result)`, if given, returns extra fields for the span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name, group) as rec:
                result = original(*args, **kwargs)
                if record is not None:
                    rec.update(record(result))
                return result

        self._undo.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)

    def totals(self) -> dict[str, dict]:
        """Per span name: summed wall, summed self time and count."""
        selfs = self_times(self.spans)
        out: dict[str, dict] = {}
        for s, st in zip(self.spans, selfs):
            t = out.setdefault(s["name"], {"wall_s": 0.0, "self_s": 0.0,
                                           "count": 0})
            t["wall_s"] += s["end"] - s["start"]
            t["self_s"] += st
            t["count"] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> list[float]:
    """Self time of each span: its duration minus the part of its
    interval that the union of its children's intervals covers."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children[i]):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s["end"] - s["start"]) - covered)
    return out


def _plan_metrics(plan: dict, acc: dict) -> None:
    for m in plan.get("metrics", []):
        acc[m["accumulatorId"]] = m["name"]
    for c in plan.get("children", []):
        _plan_metrics(c, acc)


def fold_event_log(lines) -> dict[str, dict]:
    """Fold a Spark JSON event log into per-job-group totals.

    Only jobs whose group starts with GROUP_PREFIX count; the prefix is
    stripped. Per group: jobs, cpu_s, gc_s (task-summed), spill_bytes
    (disk), shuffle_write_bytes, write_bytes, commit_s (task + job
    commit), python_s, python_bytes_in, python_bytes_out."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_name: dict[int, str] = {}
    driver_updates: list[tuple[int, list]] = []
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    task_sql = {name: (key, scale) for name, key, scale in SQL_TASK_METRICS}
    drv_sql = {name: (key, scale) for name, key, scale in SQL_DRIVER_METRICS}
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get(GROUP_KEY) or ""
            if not group.startswith(GROUP_PREFIX):
                continue
            group = group[len(GROUP_PREFIX):]
            out[group]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
            if props.get("spark.sql.execution.id") is not None:
                exec_group[int(props["spark.sql.execution.id"])] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            g = out[group]
            tm = ev.get("Task Metrics") or {}
            g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            g["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics")
                                         or {}).get("Shuffle Bytes Written", 0)
            g["write_bytes"] += (tm.get("Output Metrics")
                                 or {}).get("Bytes Written", 0)
            for a in ev["Task Info"].get("Accumulables", []):
                hit = task_sql.get(a.get("Name"))
                if hit is not None:
                    g[hit[0]] += float(a.get("Update", 0)) * hit[1]
        elif "sparkPlanInfo" in ev:
            _plan_metrics(ev["sparkPlanInfo"], acc_name)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append((ev["executionId"], ev["accumUpdates"]))
    for exec_id, updates in driver_updates:
        group = exec_group.get(exec_id)
        if group is None:
            continue
        for acc_id, value in updates:
            hit = drv_sql.get(acc_name.get(acc_id))
            if hit is not None:
                out[group][hit[0]] += float(value) * hit[1]
    return {k: dict(v) for k, v in out.items()}
