"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``market_data_ingestion_scraper_spark``; this file
is the thin binding layer.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Robust against being loaded by file path: the package lives next to this
# file, which may not already be on sys.path.
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from market_data_ingestion_scraper_spark import queries as Q  # noqa: E402
from market_data_ingestion_scraper_spark.sources import load_table  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (reference ``form_handler.top_five()`` stub, implemented):
    top-5 commodities by revenue on /root/testdata/sf0.001."""
    from market_data_ingestion_scraper_spark.operators.analytics import top_commodities

    return top_commodities(
        load_table(spark, SMOKE_SF_DIR, "lineitem"),
        load_table(spark, SMOKE_SF_DIR, "part"),
        k=5,
    )


def correctness_records() -> dict[int, dict[str, dict]]:
    """Gate round -> its rows, read from the ``CORRECTNESS_r{N}.json``
    files the gate commits next to this file."""
    records = {}
    for path in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if m:
            with open(path) as f:
                records[int(m.group(1))] = json.load(f)
    return records


def _green(row: dict) -> bool:
    if row.get("err") == "no_oracle":  # the gate's rows-only check
        return (row.get("spark_rows") or 0) > 0
    return (
        row.get("err") is None
        and row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is not False
    )


def last_green(records: dict[int, dict[str, dict]]) -> dict[str, int]:
    """Query name -> latest round in ``records`` with a green row."""
    last: dict[str, int] = {}
    for rnd, rows in records.items():
        for name, row in rows.items():
            if _green(row) and rnd > last.get(name, -1):
                last[name] = rnd
    return last


def _export_order() -> list[str]:
    # The gate snapshots only the first 50 exported queries, so the
    # stalest go first: never-gated (-1), then oldest green round, ties in
    # registration order.  Each round's records rotate the window.
    last = last_green(correctness_records())
    live = [
        (last.get(name, -1), i, name)
        for i, (name, spec) in enumerate(Q.REGISTRY.items())
        if spec.retired is None
    ]
    return [name for *_, name in sorted(live)]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every non-retired registered query, stalest gate row first."""
    return {name: Q.REGISTRY[name].fn for name in _export_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per exported query, in export
    order; omitted only for genuinely non-SQL-expressible operators
    (rows-only check)."""
    return {
        name: Q.REGISTRY[name].oracle_text()
        for name in _export_order()
        if Q.REGISTRY[name].oracle
    }
