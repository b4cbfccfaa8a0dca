"""Seeded input generators.

Every input the benchmark feeds the engine is made here from ``--seed``
alone, so the same seed gives byte-identical inputs and the engine only
ever sees generated data.  The shapes follow the sf0.1 fixture tables
(row counts, key domains, value ranges, document length and near-dup
share); nothing is read from outside the run's scratch directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data row column table key value scan filter join group agg sort "
    "merge hash window stream batch query spark vector line order part "
    "customer big small fast slow"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20

# sf0.1 row counts of the tables the query mix reads
SF01_ROWS = {
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "documents": 5_000,
}
PART_ADJ = "large hot blue old cold red small new".split()
PART_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
PART_TYPES = "LARGE ECONOMY SMALL STANDARD MEDIUM PROMO".split()
SEGMENTS = "FURNITURE MACHINERY AUTOMOBILE BUILDING HOUSEHOLD".split()
PRIORITIES = "1-URGENT 2-HIGH 3-MEDIUM 4-NOT SPECIFIED 5-LOW".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, purpose): adding a stream never
    shifts the values another stream draws."""
    return np.random.default_rng([int(seed), *stream.encode()])


def random_texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at : at + k]))
        at += k
    return out


def documents(
    rng: np.random.Generator, n: int, id_base: int = 0, near_dup_share: float = 0.05
) -> pd.DataFrame:
    """``n`` documents shaped like sf0.1 ``documents``: 10–100 words from a
    30-word vocabulary, and a ``near_dup_share`` of them a copy of another
    document's text with `` dup`` appended (so a few collide exactly)."""
    texts = random_texts(rng, n)
    n_dup = int(n * near_dup_share)
    dst = rng.choice(n, size=n_dup, replace=False)
    src = rng.integers(0, n, size=n_dup)
    for d, s in zip(dst, src):
        if d != s:
            texts[d] = texts[s].removesuffix(" dup") + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(id_base, id_base + n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P),
            "source": [f"src{i}" for i in rng.integers(0, N_SOURCES, size=n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def fingerprint(*frames: pd.DataFrame) -> str:
    """Content hash of data frames (values and row order)."""
    h = hashlib.sha256()
    for df in frames:
        h.update(",".join(df.columns).encode())
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()[:16]


def write_market_tables(root: str, seed: int) -> str:
    """The sf0.1-shaped star schema the query mix reads, one parquet file per
    table under ``root`` (the engine's ``sf_dir`` layout).  Returns the
    tables' content fingerprint."""
    os.makedirs(root, exist_ok=True)
    n = SF01_ROWS
    day = np.datetime64("1995-01-01")
    tables = {}
    tables["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    tables["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    r = rng_for(seed, "customer")
    tables["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": r.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": r.choice(SEGMENTS, n["customer"]),
        }
    )
    r = rng_for(seed, "part")
    adj = r.integers(0, len(PART_ADJ), n["part"])
    noun = r.integers(0, len(PART_NOUN), n["part"])
    tables["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n["part"])],
            "p_type": r.choice(PART_TYPES, n["part"]),
            "p_size": r.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2),
        }
    )
    r = rng_for(seed, "orders")
    tables["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": r.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": r.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": np.round(r.uniform(1000, 500_000, n["orders"]), 2),
            "o_orderdate": (day + r.integers(0, 2404, n["orders"]).astype("timedelta64[D]")).astype(
                "datetime64[us]"
            ),
            "o_orderpriority": r.choice(PRIORITIES, n["orders"]),
        }
    )
    r = rng_for(seed, "lineitem")
    m = n["lineitem"]
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": r.integers(0, n["orders"], m),
            "l_partkey": r.integers(0, n["part"], m),
            "l_suppkey": r.integers(0, 1000, m),
            "l_linenumber": r.integers(1, 8, m).astype(np.int32),
            "l_quantity": r.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": np.round(r.uniform(900, 105_000, m), 2),
            "l_discount": r.integers(0, 11, m) / 100.0,
            "l_tax": r.integers(0, 9, m) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], m),
            "l_linestatus": r.choice(["F", "O"], m),
            "l_shipdate": (day + r.integers(1, 2499, m).astype("timedelta64[D]")).astype(
                "datetime64[us]"
            ),
        }
    )
    tables["documents"] = documents(rng_for(seed, "documents"), n["documents"])
    for name, df in tables.items():
        _write(df, os.path.join(root, f"{name}.parquet"))
    return fingerprint(*(tables[k] for k in sorted(tables)))


def write_parquet_split(df: pd.DataFrame, path: str, n_files: int) -> None:
    """Write ``df`` as ``n_files`` parquet part files under ``path``."""
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(df)), n_files)):
        _write(df.iloc[chunk], os.path.join(path, f"part-{i:05d}.parquet"))


# ----------------------------------------------------------------- JSONL


def normalize(text: str) -> str:
    """The normalized-content key the engine dedups on: trim spaces, lower,
    collapse every run of (Java regex) whitespace to one space."""
    return _WS.sub(" ", text.strip(" ").lower())


def doc_line(row: dict) -> str:
    return json.dumps(
        {k: row[k] for k in ("doc_id", "text", "lang", "source", "n_chars")},
        separators=(",", ":"),
    )


def _perturb(rng: np.random.Generator, text: str) -> str:
    """Same normalized content, different bytes: case, doubled spaces,
    tabs, trailing spaces."""
    words = text.split(" ")
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return text.upper()
    if kind == 1:
        return "\t".join(words) + "  "
    return "  ".join(w.capitalize() for w in words)


def corrupt_line(rng: np.random.Generator, doc_id: int) -> str:
    cut = int(rng.integers(8, 24))
    return json.dumps({"doc_id": doc_id, "text": "x " * 20})[:cut]


class IngestPlan:
    """The ingest workload's landings.  Op 0 is a full landing; every later
    op is an incremental landing that mixes novel docs (the share cycles
    all / half / none), docs re-delivered from earlier landings, planted
    normalized-content duplicates of either, a few docs delivered twice
    and a few corrupt lines.
    Landing content is a pure function of (seed, op index)."""

    SHARES = (1.0, 0.5, 0.0)

    def __init__(self, seed: int, full_docs: int = 2500, batch_docs: int = 1250):
        self.seed = seed
        self.full_docs = full_docs
        self.batch_docs = batch_docs
        self._pool = documents(rng_for(seed, "ingest-pool"), full_docs + 8 * batch_docs)
        self._next = 0
        self._landed: list[int] = []

    def _take(self, n: int) -> pd.DataFrame:
        out = self._pool.iloc[self._next : self._next + n]
        if len(out) < n:
            raise ValueError("ingest pool exhausted; raise its size")
        self._next += n
        return out

    def landing(self, op: int) -> tuple[list[str], dict]:
        """JSONL lines of landing ``op`` plus what the generator knows about
        them (counts of novel / re-delivered / planted / twice-delivered /
        corrupt lines)."""
        r = rng_for(self.seed, f"ingest-op-{op}")
        if op == 0:
            novel = self._take(self.full_docs)
            redelivered = self._pool.iloc[:0]
        else:
            share = self.SHARES[(op - 1) % len(self.SHARES)]
            n_novel = int(round(self.batch_docs * share))
            novel = self._take(n_novel)
            old = r.choice(self._landed, size=self.batch_docs - n_novel, replace=False)
            redelivered = self._pool.loc[np.sort(old)]
        rows = pd.concat([novel, redelivered])
        n_planted = max(1, len(rows) // 50)
        planted = rows.iloc[r.choice(len(rows), size=n_planted, replace=False)].copy()
        planted["text"] = [_perturb(r, t) for t in planted["text"]]
        # planted copies take fresh ids above the pool, so each lands once
        planted["doc_id"] = 10_000_000 + op * 100_000 + np.arange(n_planted)
        planted["n_chars"] = [len(t) for t in planted["text"]]
        lines = [doc_line(x) for x in pd.concat([rows, planted]).to_dict("records")]
        # a crawler that delivers the same doc twice in one landing
        n_twice = 5
        lines += [lines[i] for i in r.choice(len(lines), size=n_twice, replace=False)]
        n_corrupt = 3
        for i in range(n_corrupt):
            lines.append(corrupt_line(r, 20_000_000 + op * 100 + i))
        order = r.permutation(len(lines))
        self._landed.extend(novel["doc_id"].tolist())
        return [lines[i] for i in order], {
            "novel": len(novel),
            "redelivered": len(redelivered),
            "planted": n_planted,
            "twice": n_twice,
            "corrupt": n_corrupt,
        }


def write_landing(lines: list[str], path: str, n_files: int) -> int:
    """Land ``lines`` as ``n_files`` JSONL shards; returns bytes written."""
    os.makedirs(path, exist_ok=True)
    total = 0
    for i, chunk in enumerate(np.array_split(np.arange(len(lines)), n_files)):
        data = "".join(lines[j] + "\n" for j in chunk).encode()
        with open(os.path.join(path, f"shard-{i:05d}.jsonl"), "wb") as f:
            f.write(data)
        total += len(data)
    return total


def serve_shards(
    seed: int, fit: pd.DataFrame, n_shards: int, shard_docs: int = 100, fit_share: float = 0.5
) -> list[pd.DataFrame]:
    """The serve workload's arrivals: ``n_shards`` shards of ``shard_docs``
    docs, each mixing re-deliveries of fit-corpus docs (``fit``: doc_id,
    text) with seeded novel docs.  No doc arrives twice."""
    r = rng_for(seed, "serve")
    n_fit = int(shard_docs * fit_share)
    fit_pick = r.permutation(len(fit))
    novel = documents(
        rng_for(seed, "serve-novel"), n_shards * (shard_docs - n_fit), id_base=50_000_000
    )
    if n_shards * n_fit > len(fit):
        raise ValueError("fit corpus too small for that many shards")
    shards = []
    for s in range(n_shards):
        idx = fit_pick[s * n_fit : (s + 1) * n_fit]
        part = pd.concat(
            [
                fit.iloc[idx][["doc_id", "text"]],
                novel.iloc[s * (shard_docs - n_fit) : (s + 1) * (shard_docs - n_fit)][
                    ["doc_id", "text"]
                ],
            ]
        )
        shards.append(part.iloc[r.permutation(len(part))].reset_index(drop=True))
    return shards
