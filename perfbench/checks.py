"""Output checks.  Every op's output is checked after the timed section;
a failed check counts the op as failed."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

import pyarrow.dataset as ds

from gen import normalize

BUILD_OUTPUTS = (
    "eval_docs",
    "split_assignment",
    "train_span",
    "train_fim",
    "train_instruct",
)


def canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"f:{float(v)!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, dt.datetime):
        return f"ts:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, dt.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, bytes):
        return f"x:{v.hex()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon_value(v[k])}" for k in sorted(v)) + "}"
    return f"s:{v}"


def rows_digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a row multiset: columns sorted by
    (lower-cased) name, values canonicalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    names = "|".join(columns[i].lower() for i in order)
    lines = sorted("\x1f".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(names.encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def read_dir(path: str):
    """A parquet output directory (hive-partitioned or not) as an Arrow
    table, ignoring ``_``/``.`` files."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def table_digest(table) -> str:
    cols = table.column_names
    data = table.to_pydict()
    return rows_digest(cols, list(zip(*(data[c] for c in cols))))


# ----------------------------------------------------------------- build


def check_build(counters: dict, out_root: str, expected_digests: dict | None) -> list[str]:
    """Funnel counters reconcile, on-disk row counts equal them, and (when
    the expected digests are known) every output's content digest matches."""
    c = counters
    errs = []
    if c["n_train"] + c["n_eval"] + c["n_quarantine"] != c["n_deduped"]:
        errs.append("train + eval + quarantine != deduped")
    if not c["n_span_examples"] == c["n_fim_examples"] == c["n_train"]:
        errs.append("span / fim / train counts differ")
    if not c["n_input"] >= c["n_quality_kept"] >= c["n_deduped"]:
        errs.append("funnel is not monotone")
    on_disk = {
        "eval_docs": c["n_eval"],
        "split_assignment": c["n_deduped"],
        "train_span": c["n_span_examples"],
        "train_fim": c["n_fim_examples"],
        "train_instruct": c.get("n_instruct_examples"),
    }
    digests = {}
    for name in BUILD_OUTPUTS:
        t = read_dir(os.path.join(out_root, name))
        if name in on_disk and t.num_rows != on_disk[name]:
            errs.append(f"{name}: {t.num_rows} rows on disk, counter says {on_disk[name]}")
        digests[name] = table_digest(t)
    if expected_digests is not None and digests != expected_digests:
        bad = sorted(k for k in digests if digests[k] != expected_digests.get(k))
        errs.append(f"output digest differs from the recorded one: {bad}")
    return errs


def build_digests(out_root: str) -> dict:
    return {name: table_digest(read_dir(os.path.join(out_root, name))) for name in BUILD_OUTPUTS}


# ---------------------------------------------------------------- ingest


def content_hash(text: str | None) -> str | None:
    return None if text is None else hashlib.sha256(normalize(text).encode()).hexdigest()


class IngestModel:
    """Independent recomputation of the ingest job: quarantine unparsable
    lines, keep the lowest doc_id per normalized-content hash, admit only
    hashes gold does not hold yet."""

    def __init__(self):
        self.gold: dict[str, dict] = {}

    def apply(self, lines: list[str]) -> dict:
        clean, bad = [], 0
        for line in lines:
            try:
                clean.append(json.loads(line))
            except ValueError:
                bad += 1
        keep: dict[str, dict] = {}
        for row in clean:
            h = content_hash(row["text"])
            if h not in keep or row["doc_id"] < keep[h]["doc_id"]:
                keep[h] = {**row, "content_hash": h}
        fresh = {h: r for h, r in keep.items() if h not in self.gold}
        self.gold.update(fresh)
        return {
            "n_clean": len(clean),
            "n_quarantined": bad,
            "n_kept": len(fresh),
            "n_dup_copies_removed": len(clean) - len(keep),
            "n_seen_before": len(keep) - len(fresh),
        }

    def gold_digest(self) -> str:
        cols = ["doc_id", "text", "lang", "source", "n_chars", "content_hash"]
        return rows_digest(cols, [tuple(r[c] for c in cols) for r in self.gold.values()])


def check_ingest_op(got: dict, want: dict, incremental: bool) -> list[str]:
    errs = [f"{k}: got {got.get(k)}, want {v}" for k, v in want.items() if got.get(k) != v]
    skipped = got.get("n_bloom_skipped", 0)
    # a bloom-skipped row never met the exact check, so it must be novel
    if not 0 <= skipped <= (want["n_kept"] if incremental else 0):
        errs.append(f"n_bloom_skipped {skipped} outside [0, {want['n_kept']}]")
    return errs


def gold_digest(gold_path: str) -> str:
    t = read_dir(gold_path)
    cols = ["doc_id", "text", "lang", "source", "n_chars", "content_hash"]
    data = t.select(cols).to_pydict()
    return rows_digest(cols, list(zip(*(data[c] for c in cols))))
