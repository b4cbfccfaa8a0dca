"""Traced-run machinery: bench-side spans, wrappers around the engine's
public functions, and the reducer that turns Spark's event log plus the
spans into per-layer metrics.

A span is one call the benchmark can name (a job, an operator, a writer
call, a query).  While a span is open its id is the Spark job group of
the calling thread, so every Spark job in the event log names the
innermost span that launched it.  Spans live in memory and are handed to
:func:`reduce_layers` when the run ends, after the session has stopped
and the event log is complete.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager

from stats import median

GROUP_KEY = "spark.jobGroup.id"

#: (module path under the package, function, layer) — the public
#: functions the jobs call, wrapped in traced runs
WRAPPED = (
    ("operators.ensemble", "quality_ensemble", "operators.ensemble"),
    ("operators.dedup", "content_hash_dedup", "operators.dedup"),
    ("operators.splits", "decontaminated_holdout", "operators.splits"),
    ("operators.splits", "write_holdout_split", "operators.splits"),
    ("operators.splits", "holdout_gram_hashes", "operators.splits"),
    ("operators.corruption", "span_corruption_examples", "operators.corruption"),
    ("operators.corruption", "fim_examples", "operators.corruption"),
    ("operators.instruct", "instruction_pairs", "operators.instruct"),
    ("operators.bloom", "build_hash_bloom", "operators.bloom"),
    ("operators.bloom", "write_hash_bloom", "operators.bloom"),
    ("operators.bloom", "load_hash_bloom", "operators.bloom"),
    ("operators.bloom", "bloom_probe_hashes", "operators.bloom"),
    ("operators.bloom", "extend_hash_bloom", "operators.bloom"),
    ("operators.sketches", "shard_token_sketches", "operators.sketches"),
    ("sources.writer", "write_gold", "sources.writer"),
    ("sources.jsonl", "read_jsonl", "sources.jsonl"),
    ("sources.jsonl", "stream_jsonl", "sources.jsonl"),
)

OPERATORS = ("ensemble", "dedup", "splits", "corruption", "instruct", "bloom", "sketches")
#: layers that get the generic Spark task counters
COUNTER_LAYERS = ("jobs", "operators", "sources.writer", "streaming", "queries")
COUNTERS = (
    ("tasks", "count"),
    ("stages", "count"),
    ("task_run_s", "s"),
    ("task_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("task_skew", "ratio"),
)


#: a stage enters ``task_skew`` only when its slowest task ran this long
SKEW_FLOOR_MS = 100


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Records spans; a disabled tracer is a no-op, so workloads carry the
    same span calls in plain and traced runs."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._undo: list = []
        self.writes: list[tuple[str, float]] = []

    @contextmanager
    def span(self, layer: str, name: str, kind: str = "call"):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"pb-{len(self.spans)}",
            "layer": layer,
            "name": name,
            "kind": kind,
            "parent": parent["id"] if parent else None,
            "start_ms": now_ms(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end_ms"] = now_ms()
            self._stack.pop()
            self._set_group(parent["id"] if parent else None)

    def _set_group(self, group: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(GROUP_KEY, group)

    # ------------------------------------------------------------ wrapping

    def install(self, package) -> None:
        """Wrap the public functions of :data:`WRAPPED` and the
        ``count``/``collect`` actions called from ``jobs.py``."""
        if not self.enabled:
            return
        import importlib

        # the session's concrete DataFrame class defines the actions
        DataFrame = type(self.spark.range(0))

        for mod_name, fn_name, layer in WRAPPED:
            mod = importlib.import_module(f"{package.__name__}.{mod_name}")
            self._patch(mod, fn_name, self._wrap(getattr(mod, fn_name), layer, fn_name))
        jobs_file = os.path.realpath(importlib.import_module(f"{package.__name__}.jobs").__file__)
        for action in ("count", "collect"):
            self._patch(DataFrame, action, self._wrap_action(getattr(DataFrame, action), action, jobs_file))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()

    def _patch(self, owner, name: str, new) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with tracer.span(layer, name) as rec:
                out = fn(*args, **kwargs)
            if layer == "sources.writer":
                path = kwargs.get("path", args[1] if len(args) > 1 else None)
                tracer.writes.append((path, rec["start_ms"]))
            return out

        return wrapped

    def _wrap_action(self, fn, action: str, jobs_file: str):
        tracer = self

        @functools.wraps(fn)
        def wrapped(df, *args, **kwargs):
            caller = os.path.realpath(sys._getframe(1).f_code.co_filename)
            if caller != jobs_file:
                return fn(df, *args, **kwargs)
            with tracer.span("jobs", f"jobs.{action}", kind="action"):
                return fn(df, *args, **kwargs)

        return wrapped


# ------------------------------------------------------------- event log


def read_event_log(path: str) -> list[dict]:
    """Every event of an event-log file, or of every (possibly rolled)
    event-log file under a directory, in file order."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = [
            os.path.join(root, f)
            for root, _dirs, names in sorted(os.walk(path))
            for f in sorted(names)
            if not f.startswith(".") and not f.endswith(".crc")
        ]
    events = []
    for name in files:
        with open(name) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _plan_scans(node: dict, needle: str) -> int:
    """File scans of ``needle`` in a plan, not counting the plans under a
    cached relation (those run once, when the cache fills)."""
    name = node.get("nodeName", "")
    if name.startswith("InMemoryTableScan"):
        return 0
    here = int(name.startswith("Scan") and needle in json.dumps(node.get("metadata", {})))
    return here + sum(_plan_scans(c, needle) for c in node.get("children", []))


def parse_events(events: list[dict]) -> dict:
    """Jobs, stages, tasks and SQL executions of an event log."""
    jobs, stages, tasks, sqls = {}, {}, [], {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get(GROUP_KEY),
                "sql": props.get("spark.sql.execution.id"),
                "start": ev.get("Submission Time"),
                "stage_ids": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = {
                "id": info["Stage ID"],
                "start": info.get("Submission Time"),
                "end": info.get("Completion Time"),
            }
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sqls[ev["executionId"]] = {"time": ev.get("time"), "plan": ev.get("sparkPlanInfo") or {}}
    # a stage belongs to the first job that lists it (later jobs list it
    # again only as a skipped, reused stage)
    stage_job = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stage_ids"]:
            stage_job.setdefault(sid, jid)
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "sqls": sqls, "stage_job": stage_job}


def _counters(job_ids: set, log: dict) -> dict:
    stage_keys = [k for k, st in log["stages"].items() if log["stage_job"].get(st["id"]) in job_ids]
    sids = {log["stages"][k]["id"] for k in stage_keys}
    tasks = [t for t in log["tasks"] if t["stage"] in sids]
    skew = 0.0
    for sid in sids:
        runs = [t["run_ms"] for t in tasks if t["stage"] == sid]
        # stages whose tasks all finish within SKEW_FLOOR_MS say nothing
        if len(runs) >= 2 and max(runs) >= SKEW_FLOOR_MS and median(runs) > 0:
            skew = max(skew, max(runs) / median(runs))
    return {
        "tasks": len(tasks),
        "stages": len(stage_keys),
        "task_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "task_skew": skew,
    }


def _stage_intervals(job_ids: set, log: dict) -> list[tuple[float, float]]:
    return [
        (st["start"], st["end"])
        for st in log["stages"].values()
        if log["stage_job"].get(st["id"]) in job_ids and st["start"] and st["end"]
    ]


def reduce_layers(events: list[dict], spans: list[dict], input_path: str | None = None, n_ops: int = 1) -> dict:
    """Per-layer metrics from an event log and the run's spans.

    Spark jobs are attributed to the span named by their job group (the
    innermost open span); a layer's time is the union of its outermost
    spans, and ``jobs.self_s`` is the jobs spans' time outside any child
    span of another layer."""
    log = parse_events(events)
    by_id = {s["id"]: s for s in spans}
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def in_layer(s, layer):
        return s["layer"] == layer or s["layer"].startswith(layer + ".")

    def outermost(layer):
        out = []
        for s in spans:
            p = by_id.get(s["parent"])
            while p is not None and not in_layer(p, layer):
                p = by_id.get(p["parent"])
            if in_layer(s, layer) and p is None:
                out.append(s)
        return out

    def subtree(s):
        out = [s]
        for c in children.get(s["id"], []):
            out.extend(subtree(c))
        return out

    # a span may name other job groups as its own (a streaming query runs
    # its micro-batches under a job group of its run id)
    group_span = {g: s["id"] for s in spans for g in s.get("groups", ())}
    group_span.update({s["id"]: s["id"] for s in spans})
    jobs_of_span: dict[str, set] = {}
    for jid, j in log["jobs"].items():
        if j["group"] in group_span:
            jobs_of_span.setdefault(group_span[j["group"]], set()).add(jid)

    def jobs_in(span_list):
        ids = set()
        for s in span_list:
            ids |= jobs_of_span.get(s["id"], set())
        return ids

    def layer_jobs(layer):
        return jobs_in([s for s in spans if in_layer(s, layer)])

    out: dict[str, float] = {}
    for layer in COUNTER_LAYERS:
        for key, val in _counters(layer_jobs(layer), log).items():
            out[f"{layer}.{key}"] = val

    # jobs layer
    top_jobs = [s for s in outermost("jobs") if s["kind"] == "call"]
    self_s = gap_s = 0.0
    for s in top_jobs:
        self_s += dur(s) - sum(dur(c) for c in children.get(s["id"], []) if c["layer"] != "jobs")
        ids = jobs_in(subtree(s))
        gap_s += dur(s) - _union_ms(_stage_intervals(ids, log), s["start_ms"], s["end_ms"]) / 1e3
    jobs_ids = layer_jobs("jobs")
    out["jobs.self_s"] = self_s
    out["jobs.driver_gap_s"] = gap_s
    out["jobs.spark_jobs"] = len(jobs_ids)
    out["jobs.sql_executions"] = len({log["jobs"][j]["sql"] for j in jobs_ids if log["jobs"][j]["sql"] is not None})
    out["jobs.count_actions"] = len(jobs_in([s for s in spans if s["kind"] == "action"]))
    scans = 0
    if input_path:
        for s in top_jobs:
            lo, hi = s["start_ms"], s["end_ms"]
            for sql in log["sqls"].values():
                if sql["time"] is not None and lo <= sql["time"] <= hi:
                    scans += _plan_scans(sql["plan"], input_path)
    out["jobs.input_scans"] = scans / max(1, n_ops)

    for op in OPERATORS:
        layer = f"operators.{op}"
        top = outermost(layer)
        out[f"{layer}.call_s"] = sum(dur(s) for s in top)
        out[f"{layer}.spark_jobs"] = len(layer_jobs(layer))
    out["sources.writer.call_s"] = sum(dur(s) for s in outermost("sources.writer"))
    out["sources.writer.spark_jobs"] = len(layer_jobs("sources.writer"))

    # queries layer: one span per query call
    qs = [s for s in spans if s["layer"] == "queries"]
    plan, gaps = [], []
    for s in qs:
        ids = jobs_in(subtree(s))
        starts = [log["jobs"][j]["start"] for j in ids if log["jobs"][j]["start"]]
        if starts:
            plan.append((min(starts) - s["start_ms"]) / 1e3)
        gaps.append(dur(s) - _union_ms(_stage_intervals(ids, log), s["start_ms"], s["end_ms"]) / 1e3)
    out["queries.spark_jobs_per_query"] = len(layer_jobs("queries")) / len(qs) if qs else 0.0
    out["queries.plan_s"] = median(plan) if plan else 0.0
    out["queries.driver_gap_s"] = median(gaps) if gaps else 0.0
    return out
