#!/usr/bin/env python3
"""Run one workload of the repo benchmark and print its metrics.

    python3 perfbench/run.py --workload build --seed 1 --seconds 8 --trace 0

Run from the repository root.  The run starts one SparkSession through
``session.get_spark`` at ``local[<cpus>]``, generates its inputs from
``--seed`` into a temporary directory under ``.perfbench_tmp/`` (removed
at exit), times the workload, checks every output, and prints a record
line (``{"record": ...}``: every metric with its unit, the run's
environment and the op counts behind each percentile) followed by the
result line, the last line of standard output:

    {"correct": true, "attempted": 4, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables
Spark's event log, wraps the engine's public functions in spans and
reports the per-layer metrics instead.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import procs  # noqa: E402
import spec  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402
from spans import Tracer, read_event_log, reduce_layers  # noqa: E402

UNITS = {n: u for n, u, _b, _bound in spec.END_TO_END} | dict(spec.RECORD_ONLY)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_conf(tmp: str, trace: bool) -> dict[str, str]:
    """Keep every file Spark and the JVM write inside the run's directory."""
    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(tmp, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def isolate(tmp: str) -> None:
    """Point every temporary file of this process, the JVMs it starts
    (spark-submit's launcher too) and their Python workers at ``tmp``."""
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    # the engine's default driver heap is 8g; these inputs need far less
    # (no spill at 2g), and at 8g the JVM holds twice the resident memory
    # (4.3 GB against 2.1 GB for a build) on machines that share it.  The
    # record carries the value used.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tempfile.tempdir = None


def warm_up(spark) -> None:
    """Finish Spark's lazy start-up (the first job initializes the
    scheduler and the local executor).  Nothing more: every CLI run of the
    engine pays its JIT and Python-worker first-use costs, so the timed
    section pays them too."""
    spark.range(1000).selectExpr("sum(id)").collect()


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every child is gone."""
    from pyspark import SparkContext

    kids = procs.descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    left = procs.wait_gone(kids, 15)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        left = procs.wait_gone(left, 15)


def e2e_metrics(res: dict, setup_s: float, usage) -> tuple[dict, dict]:
    lat = res["latencies"]
    tail = stats.tail(lat) if lat else {"pct": 90.0, "value": 0.0, "n": 0, "beyond": 0}
    attempted = res.get("ops", len(lat))
    out = {
        "setup_s": setup_s,
        "wall_s": res["wall_s"],
        "op_p50_s": stats.median(lat) if lat else 0.0,
        "op_tail_s": tail["value"],
        "peak_rss_mb": usage.peak / 2**20,
        "cpu_s": usage.cpu_s,
        "error_rate": len(res["failures"]) / attempted if attempted else 1.0,
    }
    if res.get("docs"):
        out["docs_per_s"] = res["docs"] / res["wall_s"]
    if res.get("in_bytes"):
        out["out_bytes_per_in_byte"] = res["out_bytes"] / res["in_bytes"]
    return out, tail


def main(argv=None) -> int:
    args = parse_args(argv)
    # the engine is imported from the checkout; without it there is no run
    import market_data_ingestion_scraper_spark as pkg
    from market_data_ingestion_scraper_spark.session import get_spark

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    isolate(tmp)
    load_start = os.getloadavg()
    spark = None
    try:
        tracer = Tracer(enabled=bool(args.trace))
        t = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cpus()}]",
            extra_conf=spark_conf(tmp, bool(args.trace)),
        )
        spark.sparkContext.setLogLevel("ERROR")
        driver_memory = spark.conf.get("spark.driver.memory")
        session_start_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("session", "warmup"):
            warm_up(spark)
        warmup_s = time.perf_counter() - t
        tracer.spark = spark
        tracer.install(pkg)

        ctx = W.Ctx(spark, tmp, args.seed, args.seconds, tracer)
        workload = W.WORKLOADS[args.workload]()
        workload.setup(ctx)
        setup_s = procs.process_age_s()
        with procs.Usage() as usage:
            res = workload.run(ctx)
        workload.check(ctx, res)
        tracer.uninstall()
        stop_spark(spark)
        spark = None

        e2e, tail = e2e_metrics(res, setup_s, usage)
        layer = {}
        if args.trace:
            writes = {"bytes": 0, "files": 0}
            for path, start_ms in tracer.writes:
                b, n = W.data_bytes(path, int(start_ms * 1e6)) if path and os.path.isdir(path) else (0, 0)
                writes["bytes"] += b
                writes["files"] += n
            events = read_event_log(os.path.join(tmp, "eventlog"))
            layer = {name: 0.0 for name, _u, _b in spec.PER_LAYER + spec.EXTRA_LAYER}
            layer.update(reduce_layers(events, tracer.spans, res.get("input_path"), len(res["latencies"])))
            layer.update(res.get("layer", {}))
            layer.update(
                {
                    "session.start_s": session_start_s,
                    "session.warmup_s": warmup_s,
                    "sources.writer.bytes_written": writes["bytes"],
                    "sources.writer.files_written": writes["files"],
                    "trace.wall_s": e2e["wall_s"],
                    "trace.op_p50_s": e2e["op_p50_s"],
                }
            )
        attempted = res.get("ops", len(res["latencies"]))
        failed = len(res["failures"])
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": cpus(),
            "master": f"local[{cpus()}]",
            "driver_memory": driver_memory,
            "sf": "sf0.1-shaped, generated (perfbench/gen.py)",
            "python": platform.python_version(),
            "spark": __import__("pyspark").__version__,
            "load_avg_start": load_start,
            "load_avg_end": os.getloadavg(),
            "ops": attempted,
            "op_tail": tail,
            "rss_at_peak_mb": {k: v / 2**20 if k != "procs" else v for k, v in usage.at_peak.items()},
            "cpu_steal_share": usage.steal_share,
            "session_start_s": session_start_s,
            "warmup_s": warmup_s,
            "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()},
            "failures": {k: v[:5] for k, v in list(res["failures"].items())[:20]},
            **ctx.info,
        }
        if args.trace:
            record["per_layer"] = {
                k: {"value": layer[k], "unit": u} for k, u, _b in spec.PER_LAYER + spec.EXTRA_LAYER
            }
            record["trace_overhead"] = (
                "compare trace.wall_s / trace.op_p50_s with wall_s / op_p50_s of plain runs "
                "of the same workload and seed: python3 perfbench/overhead.py"
            )
        print(json.dumps({"record": record}, default=str))
        if args.trace:
            metrics = {k: {"value": layer[k], "unit": u} for k, u, _b in spec.PER_LAYER}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u, _b, _bound in spec.END_TO_END}
        print(
            json.dumps(
                {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
            ),
            flush=True,
        )
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        remove_if_empty(scratch)


def remove_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass  # another run's directory is still in it


if __name__ == "__main__":
    sys.exit(main())
