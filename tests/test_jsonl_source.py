"""JSONL source/sink: schema-enforced read, corrupt-line quarantine,
shard-controlled write round-trip, and streaming-vs-batch parity."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from market_data_ingestion_scraper_spark.sources import (
    DOCUMENTS_SCHEMA,
    load_table,
    read_jsonl,
    stream_jsonl,
    write_jsonl,
)

GOOD = [
    {"doc_id": 1, "text": "hello world", "lang": "en", "source": "web", "n_chars": 11},
    {"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "web", "n_chars": 7},
    {"doc_id": 3, "text": "guten tag", "lang": "de", "source": "books", "n_chars": 9},
]
BAD = ['{"doc_id": 4, "text": "truncated', "not json at all"]


def _write_landing(dirpath: str) -> None:
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, "shard-000.jsonl"), "w") as f:
        for r in GOOD[:2]:
            f.write(json.dumps(r) + "\n")
        f.write(BAD[0] + "\n")
    with open(os.path.join(dirpath, "shard-001.jsonl"), "w") as f:
        f.write(json.dumps(GOOD[2]) + "\n")
        f.write(BAD[1] + "\n")


def test_read_jsonl_splits_clean_and_quarantine(spark, tmp_path):
    landing = str(tmp_path / "landing")
    _write_landing(landing)
    clean, quarantine = read_jsonl(spark, landing)
    assert clean.columns == [f.name for f in DOCUMENTS_SCHEMA.fields]
    got = {r["doc_id"]: r["text"] for r in clean.collect()}
    assert got == {1: "hello world", 2: "bonjour", 3: "guten tag"}
    bad = sorted(r["raw_line"] for r in quarantine.collect())
    assert bad == sorted(BAD)


def test_jsonl_roundtrip_preserves_documents(spark, sf_smoke, tmp_path):
    docs = load_table(spark, sf_smoke, "documents")
    out = str(tmp_path / "out")
    write_jsonl(docs, out, shards=3, compression="none")
    clean, quarantine = read_jsonl(spark, out)
    assert quarantine.count() == 0
    a = sorted(map(tuple, docs.select(*clean.columns).collect()))
    b = sorted(map(tuple, clean.collect()))
    assert a == b
    assert len(glob.glob(os.path.join(out, "part-*"))) == 3
    # partitioned layout: filter keys become directories (the text-scan
    # reader does not recover the partition column -- structured readers
    # do -- so the layout itself is the assertion here)
    pout = str(tmp_path / "pout")
    write_jsonl(docs, pout, partition_by=("source",), shards=2, compression="none")
    dirs = glob.glob(os.path.join(pout, "source=*"))
    assert len(dirs) == docs.select("source").distinct().count()
    # repartition(2, source) bounds files per source dir at 2 (each
    # source's rows live in <= 2 tasks; typically 1 -- key-hashed)
    for d in dirs:
        assert 1 <= len(glob.glob(os.path.join(d, "part-*"))) <= 2


def test_stream_jsonl_matches_batch_read(spark, tmp_path):
    from market_data_ingestion_scraper_spark.streaming.pipeline import run_to_memory

    landing = str(tmp_path / "landing")
    _write_landing(landing)
    stream = stream_jsonl(spark, landing)
    assert stream.isStreaming
    result = run_to_memory(stream, "jsonl_parity", spark, mode="append")
    batch, _ = read_jsonl(spark, landing)
    a = sorted(map(tuple, batch.collect()))
    b = sorted(map(tuple, result.select(*batch.columns).collect()))
    assert a == b


def test_read_jsonl_missing_fields_are_null_not_corrupt(spark, tmp_path):
    # Schema enforcement: an object with a SUBSET of fields is clean
    # (missing -> NULL); only unparseable lines quarantine.
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "s.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 9, "text": "no lang"}) + "\n")
    clean, quarantine = read_jsonl(spark, landing)
    assert quarantine.count() == 0
    row = clean.collect()[0]
    assert row["doc_id"] == 9 and row["lang"] is None


def test_run_corpus_ingestion_end_to_end(spark, tmp_path):
    from market_data_ingestion_scraper_spark.jobs import run_corpus_ingestion

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    rows = [
        {"doc_id": 1, "text": "unique one", "lang": "en", "source": "a", "n_chars": 10},
        {"doc_id": 2, "text": "Unique  ONE", "lang": "en", "source": "b", "n_chars": 11},
        {"doc_id": 3, "text": "other text", "lang": "en", "source": "a", "n_chars": 10},
    ]
    with open(os.path.join(landing, "s0.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
        f.write("broken {\n")
    gold = str(tmp_path / "gold")
    m = run_corpus_ingestion(spark, landing, gold)
    # doc 2 is a normalized-content copy of doc 1 -> removed
    assert m == {"n_clean": 3, "n_quarantined": 1, "n_kept": 2,
                 "n_dup_copies_removed": 1, "n_seen_before": 0,
                 "n_bloom_skipped": 0}
    back = spark.read.parquet(gold)
    assert sorted(r["doc_id"] for r in back.collect()) == [1, 3]
    assert sorted(glob.glob(os.path.join(gold, "source=*"))) \
        == [os.path.join(gold, "source=a")]
    # idempotent re-run: same landing, same gold result
    m2 = run_corpus_ingestion(spark, landing, gold)
    assert m2 == m
    assert sorted(r["doc_id"] for r in spark.read.parquet(gold).collect()) == [1, 3]


def test_run_corpus_ingestion_incremental_appends_only_new(spark, tmp_path):
    from market_data_ingestion_scraper_spark.jobs import run_corpus_ingestion

    def land(dirname, rows):
        d = tmp_path / dirname
        d.mkdir()
        with open(d / "s.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        return str(d)

    gold = str(tmp_path / "gold")
    l1 = land("b1", [
        {"doc_id": 1, "text": "first doc", "lang": "en", "source": "a", "n_chars": 9},
        {"doc_id": 2, "text": "second doc", "lang": "en", "source": "a", "n_chars": 10},
    ])
    m1 = run_corpus_ingestion(spark, l1, gold, incremental=True)
    assert m1["n_kept"] == 2 and m1["n_seen_before"] == 0

    # batch 2: one cross-run dup (normalized match of doc 1), one new
    l2 = land("b2", [
        {"doc_id": 10, "text": "FIRST   Doc", "lang": "en", "source": "b", "n_chars": 11},
        {"doc_id": 11, "text": "brand new", "lang": "en", "source": "b", "n_chars": 9},
    ])
    m2 = run_corpus_ingestion(spark, l2, gold, incremental=True)
    assert m2 == {"n_clean": 2, "n_quarantined": 0, "n_kept": 1,
                  "n_dup_copies_removed": 0, "n_seen_before": 1,
                  "n_bloom_skipped": 0}
    back = spark.read.parquet(gold)
    assert sorted(r["doc_id"] for r in back.collect()) == [1, 2, 11]

    # re-landing batch 2 is a corpus-level no-op
    m3 = run_corpus_ingestion(spark, l2, gold, incremental=True)
    assert m3["n_kept"] == 0 and m3["n_seen_before"] == 2
    assert spark.read.parquet(gold).count() == 3


def test_run_corpus_ingestion_writes_one_row_per_kept_hash(spark, tmp_path):
    """A landing that delivers the same document twice (identical lines
    in two shards, plus a case variant under the same doc_id) writes ONE
    gold row per kept content hash, in full and incremental bloom mode:
    gold row count == the returned n_kept."""
    from market_data_ingestion_scraper_spark.jobs import run_corpus_ingestion

    def doc(i, text, src="a"):
        return {"doc_id": i, "text": text, "lang": "en", "source": src,
                "n_chars": len(text)}

    def land(dirname, shards):
        d = tmp_path / dirname
        d.mkdir()
        for n, rows in enumerate(shards):
            with open(d / f"s{n}.jsonl", "w") as f:
                for r in rows:
                    f.write(json.dumps(r) + "\n")
        return str(d)

    gold = str(tmp_path / "gold")
    bloom = str(tmp_path / "bloom")
    l1 = land("b1", [
        [doc(1, "hello world"), doc(3, "other text")],
        [doc(1, "hello world"), doc(1, "Hello  World")],
    ])
    m1 = run_corpus_ingestion(spark, l1, gold, incremental=True,
                              bloom_path=bloom)
    back = spark.read.parquet(gold).collect()
    assert m1["n_kept"] == len(back) == 2
    # the lowest doc_id wins, ties broken by the whole row
    assert {r["doc_id"]: r["text"] for r in back} == {
        1: "Hello  World", 3: "other text",
    }

    l2 = land("b2", [[doc(7, "fresh doc"), doc(1, "hello world")],
                     [doc(7, "fresh doc")]])
    m2 = run_corpus_ingestion(spark, l2, gold, incremental=True,
                              bloom_path=bloom)
    assert m2["n_kept"] == 1 and m2["n_seen_before"] == 1
    assert spark.read.parquet(gold).count() == m1["n_kept"] + m2["n_kept"]

    m3 = run_corpus_ingestion(spark, l2, str(tmp_path / "gold_full"))
    assert spark.read.parquet(str(tmp_path / "gold_full")).count() \
        == m3["n_kept"] == 2


def test_stream_corpus_to_gold_cross_batch_dedup(spark, tmp_path):
    """Continuous-crawl ingestion: the streaming path must maintain the
    same content-deduplicated gold as the incremental batch job —
    including across a checkpoint restart and a re-crawled shard."""
    from market_data_ingestion_scraper_spark.sources import stream_jsonl
    from market_data_ingestion_scraper_spark.streaming.pipeline import (
        stream_corpus_to_gold,
    )

    landing = str(tmp_path / "landing")
    gold = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def land(name, rows):
        with open(os.path.join(landing, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def doc(i, text, src="a"):
        return {"doc_id": i, "text": text, "lang": "en", "source": src,
                "n_chars": len(text)}

    q = stream_corpus_to_gold(stream_jsonl(spark, landing), gold, ckpt)
    land("s1.jsonl", [doc(1, "first doc"), doc(2, "second doc")])
    q.processAllAvailable()
    # batch 2: within-batch dup (4 of 3) + cross-batch dup (5 of 1)
    land("s2.jsonl", [doc(3, "third doc", "b"), doc(4, "THIRD  doc", "b"),
                      doc(5, "First Doc", "b")])
    q.processAllAvailable()
    q.stop()
    got = sorted(r["doc_id"] for r in spark.read.parquet(gold).collect())
    assert got == [1, 2, 3]

    # restart from the same checkpoint: old shards are not reprocessed,
    # new shards keep deduplicating against gold
    q2 = stream_corpus_to_gold(stream_jsonl(spark, landing), gold, ckpt)
    land("s3.jsonl", [doc(6, "brand new"), doc(7, "second doc", "c")])
    q2.processAllAvailable()
    q2.stop()
    got = sorted(r["doc_id"] for r in spark.read.parquet(gold).collect())
    assert got == [1, 2, 3, 6]
    # re-crawled shard (same content, new file) appends nothing
    q3 = stream_corpus_to_gold(stream_jsonl(spark, landing), gold, ckpt)
    land("s4.jsonl", [doc(8, "first doc"), doc(9, "brand new")])
    q3.processAllAvailable()
    q3.stop()
    got = sorted(r["doc_id"] for r in spark.read.parquet(gold).collect())
    assert got == [1, 2, 3, 6]


def test_incremental_ingestion_null_text_does_not_reappend(spark, tmp_path):
    """A clean object with NO text field hashes to NULL; the incremental
    anti-join must still treat it as seen (eqNullSafe) — a plain
    anti-join re-appended it on every run."""
    from market_data_ingestion_scraper_spark.jobs import run_corpus_ingestion

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "s.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "lang": "en", "source": "a"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "real", "lang": "en",
                            "source": "a", "n_chars": 4}) + "\n")
    gold = str(tmp_path / "gold")
    m1 = run_corpus_ingestion(spark, landing, gold, incremental=True)
    assert m1["n_kept"] == 2
    m2 = run_corpus_ingestion(spark, landing, gold, incremental=True)
    assert m2["n_kept"] == 0 and m2["n_seen_before"] == 2
    assert spark.read.parquet(gold).count() == 2


def test_ingest_maintains_sketch_artifact_profile_by_merge(spark, tmp_path):
    """--sketch-path: each run appends sketch rows for exactly the
    admitted rows; the merged profile equals the exact gold stats
    (counts exactly; distinct within sketch bounds) WITHOUT rescanning
    gold, and a re-delivered batch appends nothing."""
    from market_data_ingestion_scraper_spark.jobs import run_corpus_ingestion
    from market_data_ingestion_scraper_spark.operators.sketches import (
        merge_corpus_profile,
    )
    from market_data_ingestion_scraper_spark.operators.text import tokens

    def land(dirname, rows):
        d = tmp_path / dirname
        d.mkdir()
        with open(d / "s.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        return str(d)

    gold = str(tmp_path / "gold")
    sk = str(tmp_path / "sketches")
    l1 = land("s1", [
        {"doc_id": 1, "text": "alpha beta gamma", "lang": "en",
         "source": "a", "n_chars": 16},
        {"doc_id": 2, "text": "beta delta", "lang": "en",
         "source": "b", "n_chars": 10},
    ])
    run_corpus_ingestion(spark, l1, gold, incremental=True, sketch_path=sk)
    l2 = land("s2", [
        {"doc_id": 10, "text": "gamma epsilon zeta eta", "lang": "en",
         "source": "a", "n_chars": 22},
        # cross-run dup of doc 1: admitted nowhere, sketched nowhere
        {"doc_id": 11, "text": "ALPHA   beta Gamma", "lang": "en",
         "source": "b", "n_chars": 18},
    ])
    run_corpus_ingestion(spark, l2, gold, incremental=True, sketch_path=sk)

    prof = merge_corpus_profile(spark.read.parquet(sk))
    back = spark.read.parquet(gold)
    exact_tokens = back.select(F.explode(tokens("text")).alias("t"))
    n_exact = exact_tokens.count()
    n_distinct = exact_tokens.distinct().count()
    assert prof["n_token_instances"] == n_exact  # counts are exact
    assert abs(prof["distinct_tokens_hll"] - n_distinct) <= 1
    assert abs(prof["distinct_tokens_theta"] - n_distinct) <= 1

    # re-delivered batch: zero admitted -> zero new sketch rows
    n_rows = spark.read.parquet(sk).count()
    run_corpus_ingestion(spark, l2, gold, incremental=True, sketch_path=sk)
    assert spark.read.parquet(sk).count() == n_rows
    assert merge_corpus_profile(
        spark.read.parquet(sk)
    )["n_token_instances"] == n_exact


def test_sketch_artifact_resets_on_gold_overwrite(spark, tmp_path):
    """r9 review: a non-incremental run OVERWRITES gold, so stale sketch
    rows from the replaced corpus must not linger — re-running the same
    overwrite twice must profile the corpus once, not twice."""
    from market_data_ingestion_scraper_spark.jobs import run_corpus_ingestion
    from market_data_ingestion_scraper_spark.operators.sketches import (
        merge_corpus_profile,
    )

    landing = tmp_path / "ow"
    landing.mkdir()
    with open(landing / "s.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "alpha beta gamma",
                            "lang": "en", "source": "a",
                            "n_chars": 16}) + "\n")
    gold = str(tmp_path / "gold")
    sk = str(tmp_path / "sketches")
    for _ in range(2):  # identical overwrite runs
        run_corpus_ingestion(spark, str(landing), gold, sketch_path=sk)
    prof = merge_corpus_profile(spark.read.parquet(sk))
    assert prof["n_token_instances"] == 3  # once, not doubled
