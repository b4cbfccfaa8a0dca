"""The four workloads.  Each has ``setup`` (untimed inputs and state),
``run`` (the timed section: the ops, their latencies and the exceptions
they raised) and ``check`` (after the timed section: output checks and
the figures the metrics need).  A run does one round of work: one build,
one ingest round of four ops, one pass over the query mix, or
``seconds x SERVE_RATE`` serve shards.  Engine layers are reached only
through their public functions."""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np

import checks
import gen
import stats

#: the build input is one of BUILD_SUBSETS subsets of a fixed corpus and
#: the query tables one of TABLE_SETS generated table sets, both picked by
#: ``seed % 4``, so their expected outputs can be recorded once
#: (expected.json).  The seed also orders the build's rows.  The build's
#: file count and the query order are fixed: a seeded file count (2-5)
#: moved the build's wall time by up to 20% and a seeded query order moved
#: which query paid the fresh JVM's first-use costs, both more than the
#: engine changes the benchmark must resolve.
CORPUS_SEED = 42
BUILD_DOCS = 500
BUILD_SUBSETS = 4
BUILD_FILES = 4
TABLE_SETS = 4

#: run in this order: the heavy operators first, so the fresh JVM's
#: first-use costs land on them and the light reports behind the median
#: run warm
QUERY_MIX = (
    "near_dup_clusters",
    "preference_pairs",
    "top5_commodities",
    "pricing_summary",
)

SERVE_RATE = 1.0  # shards per second
SERVE_SHARD_DOCS = 100
SERVE_FIT_SHARE = 0.5  # of a shard's docs, re-delivered from the fit corpus


def data_bytes(path: str, since_ns: int = 0) -> tuple[int, int]:
    """(bytes, files) of data files under ``path`` modified at or after
    ``since_ns``; ``_``/``.`` files (markers, checksums) are not data."""
    total = n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            st = os.stat(os.path.join(root, f))
            if st.st_mtime_ns >= since_ns:
                total += st.st_size
                n += 1
    return total, n


class Ctx:
    def __init__(self, spark, tmp: str, seed: int, seconds: float, tracer):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.info: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)


def _ops_result(latencies, failures, wall_s, docs, in_bytes=None, out_bytes=None, extra=None):
    """``failures`` maps a failed op to its messages; an op fails when it
    raises or its output check fails."""
    return {
        "latencies": latencies,
        "failures": failures,
        "wall_s": wall_s,
        "docs": docs,
        "in_bytes": in_bytes,
        "out_bytes": out_bytes,
        **(extra or {}),
    }


# ------------------------------------------------------------------ build


class Build:
    """Closed loop, one client: one ``jobs.run_training_data_build`` over a
    seeded subset of the corpus.  Its serve sidecars are left off: they
    cost a third of the build's time here, and ``serve`` builds the same
    artifacts with the same operators in its setup (:func:`fit_sidecars`),
    where ``setup_s`` gates them."""

    name = "build"

    def setup(self, ctx: Ctx) -> None:
        self.docs = build_input(ctx.seed)
        self.key = gen.fingerprint(self.docs.sort_values("doc_id"))
        ctx.info["build_subset"] = ctx.seed % BUILD_SUBSETS
        self.in_path = ctx.path("build_in")
        gen.write_parquet_split(self.docs, self.in_path, BUILD_FILES)
        self.in_bytes = data_bytes(self.in_path)[0]
        self.expected = load_expected().get("build", {}).get(self.key)

    def run(self, ctx: Ctx) -> dict:
        from market_data_ingestion_scraper_spark import jobs

        self.out = ctx.path("build_out")
        self.counters, failures = None, {}
        s = time.perf_counter()
        try:
            with ctx.tracer.span("jobs", "run_training_data_build"):
                self.counters = jobs.run_training_data_build(ctx.spark, self.in_path, self.out)
        except Exception as e:
            failures["op 0"] = [f"{type(e).__name__}: {e}"]
        wall = time.perf_counter() - s
        return _ops_result(
            [wall], failures, wall, len(self.docs), self.in_bytes, 0, {"input_path": self.in_path},
        )

    def check(self, ctx: Ctx, res: dict) -> None:
        c = self.counters
        if c is None:
            return
        errs = checks.check_build(c, self.out, self.expected)
        if self.expected is None:
            # expected.json covers every subset, so the generator drifted
            errs.append(f"no recorded build digest for subset {ctx.seed % BUILD_SUBSETS} ({self.key})")
        if errs:
            res["failures"]["op 0"] = errs
        res["out_bytes"] = data_bytes(self.out)[0]
        ctx.info["counters"] = c
        res["layer"] = {"operators.dedup.dup_ratio": (c["n_quality_kept"] - c["n_deduped"]) / c["n_quality_kept"]}


def build_input(seed: int):
    """The build's input: subset ``seed % BUILD_SUBSETS`` of the fixed
    corpus, in an order drawn from the full seed."""
    corpus = gen.documents(gen.rng_for(CORPUS_SEED, "documents"), gen.SF01_ROWS["documents"])
    pick = gen.rng_for(seed % BUILD_SUBSETS, "build-subset").choice(len(corpus), BUILD_DOCS, replace=False)
    order = gen.rng_for(seed, "build-order").permutation(BUILD_DOCS)
    return corpus.iloc[np.sort(pick)[order]].reset_index(drop=True)[["doc_id", "text", "lang", "source"]]


# ----------------------------------------------------------------- ingest


class Ingest:
    """Closed loop, one client: one ``jobs.run_corpus_ingestion`` call per
    op.  The round is a full run, then incremental runs (bloom and sketch
    sidecars on) whose novel share is all, half and none."""

    name = "ingest"
    OPS = 4

    def setup(self, ctx: Ctx) -> None:
        plan = gen.IngestPlan(ctx.seed)
        self.landings = []
        for op in range(self.OPS):
            lines, _info = plan.landing(op)
            path = ctx.path("landing", f"op{op}")
            n_files = int(gen.rng_for(ctx.seed, f"ingest-files-{op}").integers(1, 4))
            self.landings.append((op, path, lines, gen.write_landing(lines, path, n_files)))
        self.root = ctx.path("ingest")

    def run(self, ctx: Ctx) -> dict:
        from market_data_ingestion_scraper_spark import jobs

        lat, self.got, failures = [], [], {}
        t0 = time.perf_counter()
        for op, path, _lines, _nb in self.landings:
            s = time.perf_counter()
            try:
                with ctx.tracer.span("jobs", "run_corpus_ingestion"):
                    c = jobs.run_corpus_ingestion(
                        ctx.spark, path, os.path.join(self.root, "gold"), incremental=op > 0,
                        bloom_path=os.path.join(self.root, "bloom"),
                        sketch_path=os.path.join(self.root, "sketch"),
                    )
            except Exception as e:
                c = None
                failures[f"op {op}"] = [f"{type(e).__name__}: {e}"]
            lat.append(time.perf_counter() - s)
            self.got.append(c)
        wall = time.perf_counter() - t0
        return _ops_result(
            lat, failures, wall, sum(len(x[2]) for x in self.landings), sum(x[3] for x in self.landings), 0,
            {"input_path": ctx.path("landing")},
        )

    def check(self, ctx: Ctx, res: dict) -> None:
        model = checks.IngestModel()
        skipped = distinct = quarantined = dups = clean = 0
        for (op, _path, lines, _nb), c in zip(self.landings, self.got):
            want = model.apply(lines)
            if c is None:
                continue
            errs = checks.check_ingest_op(c, want, op > 0)
            if errs:
                res["failures"][f"op {op}"] = errs
            if op > 0:
                skipped += c["n_bloom_skipped"]
                distinct += c["n_kept"] + c["n_seen_before"]
            quarantined += c["n_quarantined"]
            dups += c["n_dup_copies_removed"]
            clean += c["n_clean"]
        if checks.gold_digest(os.path.join(self.root, "gold")) != model.gold_digest():
            res["failures"].setdefault(f"op {self.OPS - 1}", []).append(
                "final gold content differs from the recomputation"
            )
        # gold/bloom/sketch are append-or-rewrite: the bytes that remain are
        # a floor on the bytes written
        res["out_bytes"] = sum(data_bytes(os.path.join(self.root, sub))[0] for sub in ("gold", "bloom", "sketch"))
        ctx.info["counters"] = self.got
        ctx.info["bloom"] = {"n_bloom_skipped": skipped, "n_distinct": distinct}
        res["layer"] = {
            "operators.bloom.skip_ratio": skipped / distinct if distinct else 0.0,
            "operators.bloom.exact_check_rows": distinct - skipped,
            "operators.dedup.dup_ratio": dups / clean if clean else 0.0,
            "sources.jsonl.quarantined_lines": quarantined,
        }


# ------------------------------------------------------------------ query


class Query:
    """Closed loop, one client: the fixed named mix of registered queries,
    in mix order, collected, over sf0.1-shaped table set ``seed % 4``."""

    name = "query"

    def setup(self, ctx: Ctx) -> None:
        self.sf = ctx.path("sf0.1")
        table_set = ctx.seed % TABLE_SETS
        key = gen.write_market_tables(self.sf, CORPUS_SEED + table_set)
        self.expected = load_expected().get("query", {}).get(key, {})
        ctx.info["table_set"] = table_set

    def run(self, ctx: Ctx) -> dict:
        from market_data_ingestion_scraper_spark import queries

        lat, self.results, failures = [], [], {}
        t0 = time.perf_counter()
        for k, name in enumerate(QUERY_MIX):
            s = time.perf_counter()
            try:
                with ctx.tracer.span("queries", name):
                    df = queries.REGISTRY[name].fn(ctx.spark, self.sf)
                    rows = df.collect()
                self.results.append((k, name, df.columns, rows))
            except Exception as e:
                failures[f"op {k} {name}"] = [f"{type(e).__name__}: {e}"]
            lat.append(time.perf_counter() - s)
        wall = time.perf_counter() - t0
        return _ops_result(lat, failures, wall, None)

    def check(self, ctx: Ctx, res: dict) -> None:
        oracle = None
        for k, name, cols, rows in self.results:
            want = self.expected.get(name)
            if want is None:
                oracle = oracle or duckdb_oracle_digests(self.sf)
                want = oracle[name]
            if checks.rows_digest(cols, [tuple(r) for r in rows]) != want:
                res["failures"][f"op {k} {name}"] = ["result differs from its DuckDB oracle"]
        ctx.info["oracle_source"] = "recorded" if oracle is None else "duckdb"
        ctx.info["op_latencies_s"] = list(zip(QUERY_MIX, res["latencies"]))
        res["layer"] = {f"queries.{n}.wall_s": v for n, v in zip(QUERY_MIX, res["latencies"])}


def duckdb_oracle_digests(sf_dir: str) -> dict[str, str]:
    """Digest of every mix query's DuckDB oracle over ``sf_dir``."""
    import duckdb

    from market_data_ingestion_scraper_spark import queries

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")
        out = {}
        for name in QUERY_MIX:
            sql = queries.REGISTRY[name].oracle
            sql = sql() if callable(sql) else sql
            tbl = con.execute(sql).fetch_arrow_table()
            cols = tbl.column_names
            out[name] = checks.rows_digest(cols, [tuple(r[c] for c in cols) for r in tbl.to_pylist()])
        return out
    finally:
        con.close()


# ------------------------------------------------------------------ serve


class Serve:
    """Open loop at a fixed rate: a generator thread lands one JSONL shard
    of ``SERVE_SHARD_DOCS`` docs every ``1 / SERVE_RATE`` seconds; the
    shards flow through ``sources.jsonl.stream_jsonl`` into
    ``streaming.pipeline.stream_holdout_tag`` against the sidecars of a
    fit corpus split in setup (:func:`fit_sidecars`).  One op is one
    shard: its latency runs from the shard's due time to the end of the
    micro-batch that emitted its rows."""

    name = "serve"

    def setup(self, ctx: Ctx) -> None:
        from market_data_ingestion_scraper_spark.operators.bloom import load_hash_bloom
        from market_data_ingestion_scraper_spark.sources.jsonl import stream_jsonl
        from market_data_ingestion_scraper_spark.streaming.pipeline import stream_holdout_tag

        self.n_shards = max(1, int(round(ctx.seconds * SERVE_RATE)))
        n_fit = (self.n_shards + 1) * int(SERVE_SHARD_DOCS * SERVE_FIT_SHARE) + 100
        fit = gen.documents(gen.rng_for(ctx.seed, "serve-fit"), n_fit, id_base=1_000_000)
        fit_path = ctx.path("serve_fit")
        gen.write_parquet_split(fit[["doc_id", "text"]], fit_path, 2)
        build = ctx.path("serve_build")
        fit_sidecars(ctx.spark, fit_path, build)
        split = checks.read_dir(os.path.join(build, "split_assignment")).to_pydict()
        self.want = dict(zip(split["doc_id"], split["split"]))
        fit_docs = fit[fit["doc_id"].isin(self.want)][["doc_id", "text"]]
        # shard 0 warms the stream (first trigger, Python workers) untimed
        self.shards = gen.serve_shards(ctx.seed, fit_docs, self.n_shards + 1, SERVE_SHARD_DOCS, SERVE_FIT_SHARE)
        self.lines = [
            "".join(gen.doc_line({**r, "lang": "en", "source": "serve", "n_chars": len(r["text"])}) + "\n"
                    for r in s.to_dict("records"))
            for s in self.shards
        ]
        self.land = ctx.path("serve_land")
        os.makedirs(self.land)

        t = time.perf_counter()
        tb, tmeta = load_hash_bloom(ctx.spark, os.path.join(build, "sidecar_train_grams"))
        eb, emeta = load_hash_bloom(ctx.spark, os.path.join(build, "sidecar_eval_grams"))
        tagged = stream_holdout_tag(
            stream_jsonl(ctx.spark, self.land).select("doc_id", "text"), tb, eb,
            train_meta=tmeta, eval_meta=emeta,
        )
        self.emits: dict[int, list] = {}
        self.lock = threading.Lock()

        def sink(df, batch_id):
            rows = df.select("doc_id", "split").collect()
            done = time.perf_counter()
            with self.lock:
                for r in rows:
                    self.emits.setdefault(r["doc_id"], []).append((r["split"], done))

        with ctx.tracer.span("streaming", "stream_holdout_tag") as rec:
            self.query = (
                tagged.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ctx.path("serve_ckpt"))
                .start()
            )
            if rec is not None:
                rec["groups"] = [str(self.query.runId)]
        ctx.info["tagger_build_s"] = time.perf_counter() - t
        self._land(0)
        self._wait_emitted([0], 60.0)
        self.warm_progress = len(self.query.recentProgress)

    def _land(self, i: int) -> float:
        tmp = os.path.join(self.land, f".shard-{i:05d}.tmp")
        with open(tmp, "w") as f:
            f.write(self.lines[i])
        os.rename(tmp, os.path.join(self.land, f"shard-{i:05d}.jsonl"))
        return time.perf_counter()

    def _emitted(self, i: int) -> bool:
        return all(int(d) in self.emits for d in self.shards[i]["doc_id"])

    def _wait_emitted(self, shards, timeout_s: float) -> bool:
        deadline = time.perf_counter() + timeout_s
        while time.perf_counter() < deadline:
            with self.lock:
                if all(self._emitted(i) for i in shards):
                    return True
            time.sleep(0.01)
        return False

    def run(self, ctx: Ctx) -> dict:
        timed = list(range(1, self.n_shards + 1))
        due, landed, self.backlog = {}, {}, [0]
        start = time.perf_counter() + 0.2

        def generator():
            for k, i in enumerate(timed):
                due[i] = start + k / SERVE_RATE
                pause = due[i] - time.perf_counter()
                if pause > 0:
                    time.sleep(pause)
                landed[i] = self._land(i)
                with self.lock:
                    self.backlog.append(sum(1 for j in landed if not self._emitted(j)))

        g = threading.Thread(target=generator)
        g.start()
        g.join()
        ctx.info["drained"] = self._wait_emitted(timed, 60.0)
        self.query.stop()
        self.timed, self.due, self.landed = timed, due, landed
        emits, lat = self.emits, []
        for i in timed:
            ids = [int(d) for d in self.shards[i]["doc_id"]]
            if all(d in emits for d in ids):
                lat.append(max(emits[d][0][1] for d in ids) - due[i])
        ends = [emits[int(d)][0][1] for i in timed for d in self.shards[i]["doc_id"] if int(d) in emits]
        wall = max(ends, default=start) - start
        n_docs = sum(len(self.shards[i]) for i in timed)
        return _ops_result(lat, {}, wall, n_docs, extra={"ops": len(timed)})

    def check(self, ctx: Ctx, res: dict) -> None:
        emits = self.emits
        for i in self.timed:
            ids = [int(d) for d in self.shards[i]["doc_id"]]
            missing = [d for d in ids if d not in emits]
            errs = [f"{len(missing)} docs never emitted"] if missing else []
            for d in ids:
                if d in missing:
                    continue
                if len(emits[d]) != 1:
                    errs.append(f"doc {d} emitted {len(emits[d])} times")
                elif d in self.want and emits[d][0][0] != self.want[d]:
                    errs.append(f"doc {d}: tagged {emits[d][0][0]}, frozen split says {self.want[d]}")
            if errs:
                res["failures"][f"shard {i}"] = errs

        progress = [json.loads(p.json) for p in self.query.recentProgress[self.warm_progress:]]
        progress = [p for p in progress if p.get("numInputRows", 0) > 0]

        def med(key):
            return stats.median([p["durationMs"].get(key, 0) / 1e3 for p in progress]) if progress else 0.0

        served = [emits[int(d)][0][0] for i in self.timed for d in self.shards[i]["doc_id"] if int(d) in emits]
        res["layer"] = {
            "streaming.trigger_s": med("triggerExecution"),
            "streaming.add_batch_s": med("addBatch"),
            "streaming.overhead_s": med("triggerExecution") - med("addBatch"),
            "streaming.query_planning_s": med("queryPlanning"),
            "streaming.wal_commit_s": med("walCommit"),
            "streaming.rows_per_trigger": stats.median([p["numInputRows"] for p in progress]) if progress else 0,
            "streaming.processed_rows_per_s": (
                stats.median([p.get("processedRowsPerSecond", 0.0) for p in progress]) if progress else 0.0
            ),
            "streaming.backlog_max": max(self.backlog),
            "streaming.generator_lag_s": max(self.landed[i] - self.due[i] for i in self.timed),
            "streaming.quarantine_ratio": served.count("quarantine") / len(served) if served else 0.0,
            "streaming.tagger_build_s": ctx.info["tagger_build_s"],
        }
        ctx.info["serve_rate_per_s"] = SERVE_RATE
        ctx.info["triggers"] = len(progress)


def fit_sidecars(spark, docs_path: str, out_root: str, k: int = 5, holdout_ppm: int = 100_000,
                 min_hits: int = 1) -> None:
    """The frozen split (``split_assignment/``) and the serve sidecars
    (``sidecar_{train,eval}_grams/``) of the fit corpus, made by the
    operator chain of ``jobs.run_training_data_build``'s sidecar step with
    its parameters and bloom sizing rule.  The job's quality gate, dedup
    and example outputs are left out: they cost a cold JVM about 30 s and
    the tagger reads none of them."""
    from market_data_ingestion_scraper_spark.operators.bloom import build_hash_bloom, write_hash_bloom
    from market_data_ingestion_scraper_spark.operators.splits import (
        HoldoutSplit,
        decontaminated_holdout,
        holdout_gram_hashes,
        write_holdout_split,
    )

    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    assignment = decontaminated_holdout(docs, holdout_ppm=holdout_ppm, k=k, min_hits=min_hits).persist()
    meta = write_holdout_split(
        assignment, os.path.join(out_root, "split_assignment"), k=k, holdout_ppm=holdout_ppm, min_hits=min_hits,
    )
    handle = HoldoutSplit(assignment, meta)
    for side in ("train", "eval"):
        grams = holdout_gram_hashes(docs, side, assignment=handle)
        n_bits = 1 << max(20, (grams.count() * 10 // 16).bit_length())
        write_hash_bloom(
            build_hash_bloom(grams, "gram_hash", n_bits=n_bits),
            os.path.join(out_root, f"sidecar_{side}_grams"),
            hash_col="gram_hash",
            extra_meta={"k": k, "holdout_ppm": holdout_ppm, "min_hits": min_hits},
        )
    assignment.unpersist()


WORKLOADS = {w.name: w for w in (Build, Ingest, Serve, Query)}


def load_expected() -> dict:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)
