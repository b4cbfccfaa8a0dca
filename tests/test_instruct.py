"""X37 instruction-pair assembly vs an independent pure-Python twin,
plus the pairing policies that make the examples trustworthy: pairs are
non-overlapping and never cross a (source, bucket) boundary, empty text
still pairs positionally, and the whole construction is deterministic
under repartitioning."""

from __future__ import annotations

import hashlib
import re

import pytest

from market_data_ingestion_scraper_spark.operators.instruct import (
    INSTRUCTION_TEMPLATES,
    instruction_pairs,
)
from market_data_ingestion_scraper_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _toks(text):
    return [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]


def _tmpl_id(doc_id):
    h = int(hashlib.md5(f"tmpl:{doc_id}".encode()).hexdigest()[:8], 16)
    return (h % 2_147_483_647) % len(INSTRUCTION_TEMPLATES)


def _py_pairs(rows, pair_bucket=1024, max_p=64, max_t=256):
    """Independent twin: group by (source, id // bucket), order by id,
    pair odd row-numbers with their successor, render the example."""
    from collections import defaultdict

    groups = defaultdict(list)
    for doc_id, source, text in rows:
        groups[(source, doc_id // pair_bucket)].append((doc_id, text))
    out = {}
    for (source, _), docs in groups.items():
        docs.sort()
        for i in range(0, len(docs) - 1, 2):
            (pid, ptext), (rid, rtext) = docs[i], docs[i + 1]
            ps = _toks(ptext)[:max_p]
            ts = _toks(rtext)[:max_t]
            tid = _tmpl_id(pid)
            out[pid] = (
                rid,
                source,
                tid,
                "<instruction> "
                + INSTRUCTION_TEMPLATES[tid]
                + " <context> "
                + " ".join(ps),
                " ".join(ts),
                len(ps),
                len(ts),
            )
    return out


def test_instruction_pairs_matches_python_twin(spark):
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "text"
    )
    rows = [(r["doc_id"], r["source"], r["text"]) for r in docs.collect()]
    want = _py_pairs(rows)
    got = {
        r["prompt_doc_id"]: (
            r["response_doc_id"],
            r["source"],
            r["template_id"],
            r["input_text"],
            r["target_text"],
            r["n_prompt_tokens"],
            r["n_target_tokens"],
        )
        for r in instruction_pairs(docs).collect()
    }
    assert got == want
    assert len(got) > 0


def test_instruction_pairs_non_overlapping_and_bucket_bounded(spark):
    """A document appears in at most one example, prompt ids never equal
    response ids, and no pair spans a pair_bucket id boundary."""
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "text"
    )
    rows = instruction_pairs(docs, pair_bucket=16).collect()
    used = [r["prompt_doc_id"] for r in rows] + [
        r["response_doc_id"] for r in rows
    ]
    assert len(used) == len(set(used))
    for r in rows:
        assert r["prompt_doc_id"] != r["response_doc_id"]
        assert r["prompt_doc_id"] // 16 == r["response_doc_id"] // 16


def test_instruction_pairs_planted_adjacency(spark):
    """Planted truth: same-source consecutive ids pair 1st-2nd / 3rd-4th,
    the odd straggler stays unpaired, sources never mix, and empty text
    still pairs with zero used tokens."""
    docs = spark.createDataFrame(
        [
            (1, "a", "one two three"),
            (2, "a", ""),                 # empty text still pairs
            (3, "a", "five six"),
            (4, "b", "other source"),     # straggler in b (single doc)
            (5, "a", "seven eight"),      # pairs with 3
            (6, "a", "nine"),             # straggler in a (5 docs)
        ],
        "doc_id long, source string, text string",
    )
    got = {
        r["prompt_doc_id"]: r for r in instruction_pairs(docs).collect()
    }
    assert set(got) == {1, 3}
    assert got[1]["response_doc_id"] == 2
    assert got[1]["target_text"] == "" and got[1]["n_target_tokens"] == 0
    assert got[3]["response_doc_id"] == 5
    assert got[3]["source"] == "a"


def test_instruction_pairs_caps_and_template_choice(spark):
    """Token caps truncate exactly and the template is the md5 choice."""
    long_text = " ".join(f"w{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(10, "s", long_text), (11, "s", long_text)],
        "doc_id long, source string, text string",
    )
    r = instruction_pairs(
        docs, max_prompt_tokens=5, max_target_tokens=7
    ).collect()[0]
    assert r["n_prompt_tokens"] == 5 and r["n_target_tokens"] == 7
    assert r["input_text"].endswith("<context> w0 w1 w2 w3 w4")
    assert r["target_text"] == "w0 w1 w2 w3 w4 w5 w6"
    assert r["template_id"] == _tmpl_id(10)
    assert INSTRUCTION_TEMPLATES[r["template_id"]] in r["input_text"]


def test_instruction_pairs_partitioning_invariant(spark):
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "text"
    )
    a = {tuple(r) for r in instruction_pairs(docs).collect()}
    b = {tuple(r) for r in instruction_pairs(docs.repartition(17)).collect()}
    assert a == b


def test_instruction_pairs_validation(spark):
    docs = load_table(spark, SF, "documents")
    with pytest.raises(ValueError, match="pair_bucket"):
        instruction_pairs(docs, pair_bucket=1)
    with pytest.raises(ValueError, match="max_prompt_tokens"):
        instruction_pairs(docs, max_prompt_tokens=0)
    with pytest.raises(ValueError, match="max_prompt_tokens"):
        instruction_pairs(docs, max_target_tokens=0)


def test_instruction_pairs_negative_ids_floor_bucketing(spark):
    """Bucket assignment is exact int64 FLOOR division (r17 review: a
    double division truncates toward zero for negative ids, silently
    desyncing the floor-division twin): negative ids bucket like the
    Python twin and never pair across the -1/0 bucket boundary."""
    docs = spark.createDataFrame(
        [(-2, "s", "minus two"), (-1, "s", "minus one"),
         (0, "s", "zero text"), (1, "s", "one text")],
        "doc_id long, source string, text string",
    )
    got = {
        r["prompt_doc_id"]: (
            r["response_doc_id"], r["source"], r["template_id"],
            r["input_text"], r["target_text"],
            r["n_prompt_tokens"], r["n_target_tokens"],
        )
        for r in instruction_pairs(docs, pair_bucket=2).collect()
    }
    want = _py_pairs(
        [(-2, "s", "minus two"), (-1, "s", "minus one"),
         (0, "s", "zero text"), (1, "s", "one text")], pair_bucket=2
    )
    assert got == want
    # floor semantics: -2,-1 share bucket -1; 0,1 share bucket 0
    assert set(got) == {-2, 0}
    assert got[-2][0] == -1 and got[0][0] == 1


def _py_preference(rows, votes, pair_bucket=1024, max_p=64, max_r=256):
    """Composition twin: GIVEN the (gated) ensemble's vote counts,
    rebuild the triple formation + selection + rendering in pure
    Python."""
    from collections import defaultdict

    groups = defaultdict(list)
    for doc_id, source, text in rows:
        if doc_id is None:
            continue
        groups[(source, doc_id // pair_bucket)].append((doc_id, text))
    out = {}
    for (source, _), docs in groups.items():
        docs.sort()
        for i in range(0, len(docs) - 2, 3):
            (pid, ptext), (aid, atext), (bid, btext) = docs[i:i + 3]
            va, vb = votes[aid], votes[bid]
            if va == vb:
                continue
            (cid, ctext), (rid, rtext) = (
                ((aid, atext), (bid, btext)) if va > vb
                else ((bid, btext), (aid, atext))
            )
            tid = _tmpl_id(pid)
            out[pid] = (
                cid, rid, source, tid,
                "<instruction> " + INSTRUCTION_TEMPLATES[tid]
                + " <context> " + " ".join(_toks(ptext)[:max_p]),
                " ".join(_toks(ctext)[:max_r]),
                " ".join(_toks(rtext)[:max_r]),
                max(va, vb), min(va, vb),
            )
    return out


def test_preference_pairs_match_composition_twin(spark):
    """X38: given the gated ensemble's votes, the triple formation,
    chosen/rejected selection, tie drop, and rendering all equal the
    pure-Python twin."""
    from market_data_ingestion_scraper_spark.operators.ensemble import (
        quality_ensemble,
    )
    from market_data_ingestion_scraper_spark.operators.instruct import (
        preference_pairs,
    )

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    votes = {
        r["doc_id"]: r["votes"] for r in quality_ensemble(docs).collect()
    }
    rows = [(r["doc_id"], r["source"], r["text"]) for r in
            docs.select("doc_id", "source", "text").collect()]
    want = _py_preference(rows, votes)
    got = {
        r["prompt_doc_id"]: (
            r["chosen_doc_id"], r["rejected_doc_id"], r["source"],
            r["template_id"], r["input_text"], r["chosen_text"],
            r["rejected_text"], r["chosen_votes"], r["rejected_votes"],
        )
        for r in preference_pairs(docs).collect()
    }
    assert got == want
    assert len(got) > 0
    for c, rj in ((v[7], v[8]) for v in got.values()):
        assert c > rj  # a preference ALWAYS has contrast (ties dropped)


def test_preference_pairs_planted_selection_and_tie_drop(spark):
    """Planted votes: the higher-vote candidate is chosen regardless of
    position, vote ties emit nothing, and documents never straddle
    triples."""
    from market_data_ingestion_scraper_spark.operators.instruct import (
        preference_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "s", f"text number {i} here") for i in range(1, 10)],
        "doc_id long, source string, text string",
    )
    # triple (1,2,3): B wins; triple (4,5,6): A wins; triple (7,8,9): tie
    votes = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 3), (4, 0), (5, 2), (6, 1), (7, 0), (8, 2),
         (9, 2)],
        "doc_id long, votes int",
    )
    got = {
        r["prompt_doc_id"]: r for r in
        preference_pairs(docs, quality=votes).collect()
    }
    assert set(got) == {1, 4}
    assert got[1]["chosen_doc_id"] == 3 and got[1]["rejected_doc_id"] == 2
    assert got[4]["chosen_doc_id"] == 5 and got[4]["rejected_doc_id"] == 6
    assert got[1]["chosen_votes"] == 3 and got[1]["rejected_votes"] == 1


def test_preference_pairs_validation(spark):
    from market_data_ingestion_scraper_spark.operators.instruct import (
        preference_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "s", "x", "en")], "doc_id long, source string, text string, lang string"
    )
    with pytest.raises(ValueError, match="pair_bucket"):
        preference_pairs(docs, pair_bucket=2)
    with pytest.raises(ValueError, match="max_prompt_tokens"):
        preference_pairs(docs, max_response_tokens=0)


def test_preference_pairs_staged_oracle(spark):
    """The preference_pairs oracle (queries.preference_pairs_oracle —
    nests the X35 voter CTEs verbatim) stays bit-exact against the
    operator through the full driver-gate compare."""
    from market_data_ingestion_scraper_spark.queries import (
        preference_pairs_oracle,
    )
    from tests.oracle_utils import compare_query

    def q(spark_, sf_):
        from market_data_ingestion_scraper_spark.operators.instruct import (
            preference_pairs,
        )

        return preference_pairs(load_table(spark_, sf_, "documents"))

    compare_query(spark, SF, q, preference_pairs_oracle())


def test_preference_pairs_non_covering_quality_drops(spark):
    """Pins the documented coverage contract (r17 verdict nit):
    quality= must be the FULL (doc_id, votes) relation.  A keep-filtered
    SELECTION is the non-covering case — triples whose candidates are
    missing from the relation vanish via the inner joins, silently and
    indistinguishably from tie-drops — which is exactly why the
    docstring forbids it."""
    from market_data_ingestion_scraper_spark.operators.instruct import (
        preference_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "s", f"text number {i} here") for i in range(1, 7)],
        "doc_id long, source string, text string",
    )
    full = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 3), (4, 0), (5, 2), (6, 1)],
        "doc_id long, votes int",
    )
    covered = {
        r["prompt_doc_id"]
        for r in preference_pairs(docs, quality=full).collect()
    }
    assert covered == {1, 4}
    # a keep=votes>=2 style selection drops candidates 2 and 6 from the
    # relation -> BOTH triples vanish, though neither was a tie
    filtered = full.where("votes >= 2")
    assert preference_pairs(docs, quality=filtered).count() == 0
    # missing ONE candidate kills only that triple
    partial = full.where("doc_id <> 2")
    assert {
        r["prompt_doc_id"]
        for r in preference_pairs(docs, quality=partial).collect()
    } == {4}


def _py_best_of_n(rows, votes, n=4, pair_bucket=1024, max_p=64, max_r=256):
    """Composition twin for X39: GIVEN the (gated) ensemble's vote
    counts, rebuild run formation + argmax selection + rendering in
    pure Python."""
    from collections import defaultdict

    groups = defaultdict(list)
    for doc_id, source, text in rows:
        if doc_id is None:
            continue
        groups[(source, doc_id // pair_bucket)].append((doc_id, text))
    out = {}
    for (source, _), docs in groups.items():
        docs.sort()
        run = n + 1
        for i in range(0, len(docs) - n, run):
            chunk = docs[i:i + run]
            (pid, ptext), cands = chunk[0], chunk[1:]
            if any(cid not in votes for cid, _ in cands):
                continue  # non-covering quality: the group vanishes
            cid, ctext = max(cands, key=lambda c: (votes[c[0]], -c[0]))
            worst = min(votes[c[0]] for c in cands)
            tid = _tmpl_id(pid)
            out[pid] = (
                cid, source, tid,
                "<instruction> " + INSTRUCTION_TEMPLATES[tid]
                + " <context> " + " ".join(_toks(ptext)[:max_p]),
                " ".join(_toks(ctext)[:max_r]),
                votes[cid], worst,
            )
    return out


def test_best_of_n_matches_composition_twin(spark):
    """X39: given the gated ensemble's votes, run formation, argmax
    selection (ties to lowest id), tail dropping, and rendering all
    equal the pure-Python twin on the fixture corpus."""
    from market_data_ingestion_scraper_spark.operators.ensemble import (
        quality_ensemble,
    )
    from market_data_ingestion_scraper_spark.operators.instruct import (
        best_of_n_examples,
    )

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    votes = {
        r["doc_id"]: r["votes"] for r in quality_ensemble(docs).collect()
    }
    rows = [(r["doc_id"], r["source"], r["text"]) for r in
            docs.select("doc_id", "source", "text").collect()]
    want = _py_best_of_n(rows, votes)
    got = {
        r["prompt_doc_id"]: (
            r["chosen_doc_id"], r["source"], r["template_id"],
            r["input_text"], r["chosen_text"], r["chosen_votes"],
            r["worst_votes"],
        )
        for r in best_of_n_examples(docs).collect()
    }
    assert got == want
    assert len(got) > 0
    assert all(v[5] >= v[6] for v in got.values())  # chosen >= worst


def test_best_of_n_planted_argmax_tie_and_tail(spark):
    """Planted pools: argmax wins, vote ties go to the LOWEST candidate
    id (deterministic, observable as chosen_votes == worst_votes when
    the whole pool ties), and an incomplete tail run emits nothing."""
    from market_data_ingestion_scraper_spark.operators.instruct import (
        best_of_n_examples,
    )

    docs = spark.createDataFrame(
        [(i, "s", f"text number {i} here") for i in range(1, 12)],
        "doc_id long, source string, text string",
    )
    votes = spark.createDataFrame(
        # run (1; 2,3,4,5): argmax tie 3/4 at 3 votes -> min id 3
        # run (6; 7,8,9,10): full tie at 2 -> min id 7
        # doc 11: incomplete tail, emits nothing
        [(1, 9), (2, 1), (3, 3), (4, 3), (5, 0), (6, 9), (7, 2), (8, 2),
         (9, 2), (10, 2), (11, 5)],
        "doc_id long, votes int",
    )
    got = {
        r["prompt_doc_id"]: r
        for r in best_of_n_examples(docs, quality=votes).collect()
    }
    assert set(got) == {1, 6}
    assert got[1]["chosen_doc_id"] == 3
    assert (got[1]["chosen_votes"], got[1]["worst_votes"]) == (3, 0)
    assert got[6]["chosen_doc_id"] == 7
    assert got[6]["chosen_votes"] == got[6]["worst_votes"] == 2


def test_best_of_n_non_covering_quality_drops(spark):
    """The X38 coverage contract applies: a candidate missing from
    quality= removes its whole pool (prompt votes are never needed)."""
    from market_data_ingestion_scraper_spark.operators.instruct import (
        best_of_n_examples,
    )

    docs = spark.createDataFrame(
        [(i, "s", f"text number {i} here") for i in range(1, 11)],
        "doc_id long, source string, text string",
    )
    full = spark.createDataFrame(
        [(i, i % 3) for i in range(1, 11)], "doc_id long, votes int"
    )
    assert {
        r["prompt_doc_id"]
        for r in best_of_n_examples(docs, quality=full).collect()
    } == {1, 6}
    # drop ONE candidate's vote -> only its pool vanishes; dropping the
    # PROMPT's vote row changes nothing (prompts are never scored)
    assert {
        r["prompt_doc_id"] for r in best_of_n_examples(
            docs, quality=full.where("doc_id <> 9")
        ).collect()
    } == {1}
    assert {
        r["prompt_doc_id"] for r in best_of_n_examples(
            docs, quality=full.where("doc_id <> 6")
        ).collect()
    } == {1, 6}


def test_best_of_n_partitioning_invariant_and_null_id(spark):
    from market_data_ingestion_scraper_spark.operators.instruct import (
        best_of_n_examples,
    )

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    a = {tuple(r) for r in best_of_n_examples(docs).collect()}
    b = {tuple(r) for r in
         best_of_n_examples(docs.repartition(17)).collect()}
    assert a == b and len(a) > 0
    # a NULL-id row is dropped BEFORE grouping: under a FIXED votes
    # relation (the internally derived ensemble is corpus-dependent,
    # so it must be held constant for this comparison) the output is
    # unchanged
    from market_data_ingestion_scraper_spark.operators.ensemble import (
        quality_ensemble,
    )
    from pyspark.sql import functions as F

    votes = quality_ensemble(docs).select("doc_id", "votes").persist()
    votes.count()
    with_null = docs.unionByName(
        docs.limit(1).select(
            F.lit(None).cast("long").alias("doc_id"), "text", "lang",
            "source",
        )
    )
    base = {tuple(r) for r in
            best_of_n_examples(docs, quality=votes).collect()}
    c = {tuple(r) for r in
         best_of_n_examples(with_null, quality=votes).collect()}
    assert c == base
    votes.unpersist()


def test_best_of_n_validation(spark):
    from market_data_ingestion_scraper_spark.operators.instruct import (
        best_of_n_examples,
    )

    docs = spark.createDataFrame(
        [(1, "s", "x", "en")],
        "doc_id long, source string, text string, lang string",
    )
    with pytest.raises(ValueError, match="n must be >= 2"):
        best_of_n_examples(docs, n=1)
    with pytest.raises(ValueError, match="pair_bucket"):
        best_of_n_examples(docs, n=4, pair_bucket=4)
    with pytest.raises(ValueError, match="max_prompt_tokens"):
        best_of_n_examples(docs, max_response_tokens=0)
