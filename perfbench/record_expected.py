#!/usr/bin/env python3
"""Record the expected outputs the checks compare against, into
perfbench/expected.json:

- ``build``: the content digest of every build output, per build subset
  (keyed by the subset's fingerprint), made with the engine as it is;
- ``query``: the digest of every mix query's DuckDB oracle over each
  generated sf0.1-shaped table set (keyed by the tables' fingerprint).

    python3 perfbench/record_expected.py

Run it from the repository root when the generators change; never to make
a failing check pass.  Each subset is built twice, from two seeds that
order and split it differently, and the two digests must agree.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402


def main() -> int:
    from market_data_ingestion_scraper_spark import jobs
    from market_data_ingestion_scraper_spark.session import get_spark

    scratch = os.path.join(run.ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="record-", dir=scratch)
    run.isolate(tmp)
    spark = get_spark(master=f"local[{run.cpus()}]", extra_conf=run.spark_conf(tmp, False))
    spark.sparkContext.setLogLevel("ERROR")
    out = {"build": {}, "query": {}}
    try:
        for subset in range(W.BUILD_SUBSETS):
            digests = []
            for seed in (subset, subset + W.BUILD_SUBSETS):
                docs = W.build_input(seed)
                key = gen.fingerprint(docs.sort_values("doc_id"))
                src = os.path.join(tmp, f"in-{seed}")
                gen.write_parquet_split(docs, src, 2 + seed % 3)  # file count must not matter
                dst = os.path.join(tmp, f"out-{seed}")
                jobs.run_training_data_build(spark, src, dst)
                digests.append(checks.build_digests(dst))
            if digests[0] != digests[1]:
                raise SystemExit(f"subset {subset}: build outputs depend on input order/split")
            out["build"][key] = digests[0]
            print(f"build subset {subset}: {key}", flush=True)
        for table_set in range(W.TABLE_SETS):
            sf = os.path.join(tmp, f"sf0.1-{table_set}")
            key = gen.write_market_tables(sf, W.CORPUS_SEED + table_set)
            out["query"][key] = W.duckdb_oracle_digests(sf)
            print(f"query table set {table_set}: {key}", flush=True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        run.remove_if_empty(scratch)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
