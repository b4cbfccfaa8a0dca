"""Differential tests: every registered query with an oracle must match
DuckDB bit-for-bit under the driver's comparison (replica in oracle_utils).

Runs at sf0.001 by default for speed; set ORACLE_SF_DIR=/root/testdata/sf0.01
to run at the driver's correctness scale.
"""

from __future__ import annotations

import os
from unittest import mock

import pytest

from market_data_ingestion_scraper_spark.queries import REGISTRY

from .oracle_utils import compare_query

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")

WITH_ORACLE = sorted(name for name, spec in REGISTRY.items() if spec.oracle)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_matches_oracle(spark, name):
    # oracle_text(SF_DIR): sf-dependent oracle builders (the BPE trainer
    # differential) re-derive their expected values from the SAME corpus
    # the query runs on, so parity holds at any scale factor.
    spec = REGISTRY[name]
    compare_query(spark, SF_DIR, spec.fn, spec.oracle_text(SF_DIR))


def test_all_queries_return_rows(spark):
    """Every registered query composes and computes at the smoke SF.
    The 140 counts are independent jobs, so they run 4-wide from a
    thread pool (r19 suite-time fix; py4j calls release the GIL and the
    scheduler back-fills executor cores across jobs — 107 s → ~35 s).
    Each worker owns a contiguous registry slice and runs it in order,
    preserving the per-tag persist-generation sequencing within any
    operator family that shares a cache tag."""
    from concurrent.futures import ThreadPoolExecutor

    items = list(REGISTRY.items())
    step = (len(items) + 3) // 4
    slices = [items[i: i + step] for i in range(0, len(items), step)]

    def run(chunk):
        for name, spec in chunk:
            assert spec.fn(spark, SF_DIR).count() >= 0, name

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(run, slices))


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) == 5
    assert rows[0]["revenue"] >= rows[-1]["revenue"]


def test_gate_window_ordering():
    """The external gate snapshots only the first 50 ``queries()``
    entries, so the export puts the stalest green row first and covers
    the registry exactly once together with the retired queries."""
    import __spark_entry__ as e

    names = list(e.queries())
    retired = [n for n, spec in REGISTRY.items() if spec.retired is not None]
    assert sorted(names + retired) == sorted(REGISTRY), (
        "export + retired must cover REGISTRY exactly once"
    )
    assert not set(retired) & set(names), "retired queries must not export"
    osql = list(e.oracle_sql())
    assert set(osql) <= set(names)
    assert osql == [n for n in names if n in osql], "oracle_sql keeps export order"
    last = e.last_green(e.correctness_records())
    rounds = [last.get(n, -1) for n in names]
    assert rounds == sorted(rounds), "stalest green row first"

    # with no records the order is registration order
    with mock.patch.object(e, "correctness_records", return_value={}):
        assert list(e.queries()) == [n for n in REGISTRY if n not in retired]


def test_gate_window_rotates_on_newer_record():
    """A newer record in which the current window is all green sends
    those 50 queries to the back, so the next window is the other 50."""
    import __spark_entry__ as e

    records = e.correctness_records()
    before = list(e.queries())
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 1, "oracle_rows": 1, "err": None}
    newer = {**records, max(records) + 1: {n: green for n in before[:50]}}
    with mock.patch.object(e, "correctness_records", return_value=newer):
        after = list(e.queries())
    assert set(after[:50]) == set(before[50:100])
    assert set(after[50:100]) == set(before[:50])


def _stale_retirements(e, records: dict) -> list[str]:
    """Queries retired at round N >= 12 whose latest green row in
    ``records`` up to N is older than N - 1."""
    stale = []
    for name, spec in REGISTRY.items():
        n = spec.retired
        if n is not None and n >= 12:
            upto = {r: rows for r, rows in records.items() if r <= n}
            if e.last_green(upto).get(name, -1) < n - 1:
                stale.append(name)
    return stale


def test_retire_on_green_guard():
    """Retire-on-green: a query retired at round N >= 12 must have a
    green gate row from N or N-1 in the committed records.  The check
    passes on the records and flags a planted stale retirement."""
    import __spark_entry__ as e

    records = e.correctness_records()
    assert _stale_retirements(e, records) == []

    # rows-only check of an oracle-less query counts as green
    assert REGISTRY["approx_profile"].retired == 12
    assert records[11]["approx_profile"]["err"] == "no_oracle"
    assert e.last_green({11: records[11]})["approx_profile"] == 11

    # fail the r17 row of an r18 retirement: its latest green is r16
    name = "uniform_hash_sample"
    assert REGISTRY[name].retired == 18
    planted = {**records, 17: {**records[17], name: {"err": "boom"}}}
    assert _stale_retirements(e, planted) == [name]
