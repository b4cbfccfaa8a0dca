"""Metric names, units and directions — the single list ``run.py`` prints
and ``BENCHMARK.json`` declares (a test keeps the two equal)."""

from __future__ import annotations

from spans import COUNTER_LAYERS, COUNTERS, OPERATORS
from workloads import QUERY_MIX

#: (name, unit, better, bound) — the gated end-to-end metrics, reported by
#: every plain run: set-up time, and the CPU seconds a user's machine
#: spends on the work.  Both bounds are the largest BENCHMARK.json allows.
#: Wall-clock metrics are not gated: on the 4-vCPU VM this was tuned on,
#: hypervisor steal (up to 34% of a run's CPU time, recorded as
#: ``cpu_steal_share``) stretched whole runs, and in one set of ten runs
#: per workload the IQR / median of wall_s reached 0.26 (build) and 0.28
#: (query), past any bound BENCHMARK.json allows; cpu_s stayed at or below
#: 0.16 in all three sets.  A run is one build, one pass of four queries or
#: eight shards, and the time budget leaves no room for more.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("cpu_s", "s", "lower", 0.25),
)

#: reported in the run record only, with the gated ones.  wall_s and
#: op_p50_s follow steal (above); op_tail_s ranks so few ops that it is
#: nearly their maximum; peak_rss_mb follows the JVM's heap growth (IQR
#: 25% of the median for ``build``); the rest are 0 or undefined on some
#: workloads, which a gated metric must never be.
RECORD_ONLY = (
    ("wall_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("peak_rss_mb", "MB"),
    ("docs_per_s", "1/s"),
    ("error_rate", "ratio"),
    ("out_bytes_per_in_byte", "ratio"),
)


def _per_layer():
    rows = [
        ("session.start_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("jobs.self_s", "s", "lower"),
        ("jobs.spark_jobs", "count", "lower"),
        ("jobs.sql_executions", "count", "lower"),
        ("jobs.count_actions", "count", "lower"),
        ("jobs.input_scans", "count", "lower"),
        ("jobs.driver_gap_s", "s", "lower"),
    ]
    for op in OPERATORS:
        rows += [(f"operators.{op}.call_s", "s", "lower"), (f"operators.{op}.spark_jobs", "count", "lower")]
    rows += [
        ("operators.dedup.dup_ratio", "ratio", "higher"),
        ("sources.writer.call_s", "s", "lower"),
        ("sources.writer.spark_jobs", "count", "lower"),
        ("sources.writer.bytes_written", "bytes", "lower"),
        ("sources.writer.files_written", "count", "lower"),
    ]
    rows += [(f"queries.{q}.wall_s", "s", "lower") for q in QUERY_MIX]
    rows += [
        ("queries.spark_jobs_per_query", "count", "lower"),
        ("queries.plan_s", "s", "lower"),
        ("queries.driver_gap_s", "s", "lower"),
    ]
    rows += [
        ("streaming.trigger_s", "s", "lower"),
        ("streaming.add_batch_s", "s", "lower"),
        ("streaming.overhead_s", "s", "lower"),
        ("streaming.query_planning_s", "s", "lower"),
        ("streaming.wal_commit_s", "s", "lower"),
        ("streaming.rows_per_trigger", "count", "higher"),
        ("streaming.processed_rows_per_s", "1/s", "higher"),
        ("streaming.backlog_max", "count", "lower"),
        ("streaming.generator_lag_s", "s", "lower"),
        ("streaming.quarantine_ratio", "ratio", "lower"),
        ("streaming.tagger_build_s", "s", "lower"),
    ]
    for layer in COUNTER_LAYERS:
        rows += [(f"{layer}.{key}", unit, "lower") for key, unit in COUNTERS]
    rows += [("trace.wall_s", "s", "lower"), ("trace.op_p50_s", "s", "lower")]
    return tuple(rows)


#: per-layer metrics of the workloads BENCHMARK.json declares; every
#: traced run prints all of them, 0 where a layer did no work.  The
#: operators.sketches metrics move only under ``ingest``
PER_LAYER = _per_layer()

#: per-layer metrics only the ``ingest`` workload moves; traced runs
#: print them in the record
EXTRA_LAYER = (
    ("operators.bloom.skip_ratio", "ratio", "higher"),
    ("operators.bloom.exact_check_rows", "count", "lower"),
    ("sources.jsonl.quarantined_lines", "count", "lower"),
)


def benchmark_json(workloads: list[tuple[str, str]], run_seconds: int) -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": w} for n, w in workloads],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }
