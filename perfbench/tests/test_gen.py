"""The input generators are a pure function of the seed."""

import gen
import workloads


def _bytes_of(tmp_path, seed, name):
    root = tmp_path / f"{name}-{seed}"
    fp = gen.write_market_tables(str(root), seed)
    return fp, {p.name: p.read_bytes() for p in sorted(root.iterdir())}


def test_market_tables_byte_identical_per_seed(tmp_path):
    fp1, a = _bytes_of(tmp_path, 3, "a")
    fp2, b = _bytes_of(tmp_path, 3, "b")
    assert fp1 == fp2 and a == b
    fp3, c = _bytes_of(tmp_path, 4, "c")
    assert fp3 != fp1 and c != a


def test_ingest_landings_byte_identical_per_seed(tmp_path):
    def landings(seed):
        plan = gen.IngestPlan(seed)
        return [plan.landing(op) for op in range(4)]

    assert landings(7) == landings(7)
    assert landings(7)[0][0] != landings(8)[0][0]
    lines, info = landings(7)[2]
    assert info["novel"] == info["redelivered"] == 625 and info["corrupt"] == 3
    n1 = gen.write_landing(lines, str(tmp_path / "l1"), 2)
    n2 = gen.write_landing(lines, str(tmp_path / "l2"), 2)
    assert n1 == n2
    assert (tmp_path / "l1" / "shard-00000.jsonl").read_bytes() == (
        tmp_path / "l2" / "shard-00000.jsonl"
    ).read_bytes()


def test_build_input_and_serve_shards_follow_the_seed():
    a, b, c = workloads.build_input(5), workloads.build_input(5), workloads.build_input(6)
    assert a.equals(b) and not a.equals(c)
    # seeds 5 and 9 draw the same subset (5 % 4 == 9 % 4) in another order
    d = workloads.build_input(9)
    assert sorted(a["doc_id"]) == sorted(d["doc_id"]) and list(a["doc_id"]) != list(d["doc_id"])
    fit = gen.documents(gen.rng_for(1, "fit"), 500)[["doc_id", "text"]]
    s1 = gen.serve_shards(2, fit, 4)
    s2 = gen.serve_shards(2, fit, 4)
    s3 = gen.serve_shards(3, fit, 4)
    assert all(x.equals(y) for x, y in zip(s1, s2))
    assert not all(x.equals(y) for x, y in zip(s1, s3))
    ids = [i for s in s1 for i in s["doc_id"]]
    assert len(ids) == len(set(ids)) == 400


def test_normalize_matches_the_engine_rule():
    # trim strips spaces only; every run of whitespace becomes one space
    assert gen.normalize("  A\tb  C ") == "a b c"
    assert gen.normalize("\tA b") == " a b"


def test_expected_digests_cover_every_build_subset_and_mix_query():
    # a subset or query without a recorded digest fails its run's check,
    # so the generators must not drift away from expected.json
    want = workloads.load_expected()
    for subset in range(workloads.BUILD_SUBSETS):
        key = gen.fingerprint(workloads.build_input(subset).sort_values("doc_id"))
        assert key in want["build"], f"subset {subset}"
    assert len(want["query"]) == workloads.TABLE_SETS
    for digests in want["query"].values():
        assert set(workloads.QUERY_MIX) <= set(digests)
