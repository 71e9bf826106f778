"""Round-4 operators: exact per-domain length quantiles, ExactSubstr-style
strided shingle dedup (Lee et al. 2022), and capped host co-citation.

Hand-replayable cases throughout — the quantile rank arithmetic, shingle
positions, and pair caps are all exact integers, so expected values are
written out literally, no tolerance anywhere.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fileverification_spark.operators import curation as CUR
from fileverification_spark.operators import dedup as D
from fileverification_spark.operators import graph as GR


# ---------------------------------------------------------------------------
# domain_quantiles
# ---------------------------------------------------------------------------

def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def test_domain_quantiles_exact_ranks(spark):
    # domain a: lengths 1..10 -> n=10, ranks p50=(9//2)+1=5 -> len 5,
    # p90=(81//10)+1=9 -> len 9, p99=(891//100)+1=9 -> len 9, max 10
    rows = [(f"https://a.example/{i}", "x" * i) for i in range(1, 11)]
    # domain b: single doc of length 7 -> every quantile is 7
    rows.append(("https://b.example/only", "x" * 7))
    out = {
        r["domain"]: r
        for r in CUR.domain_quantiles(_pages(spark, rows)).collect()
    }
    a = out["a.example"]
    assert (a["n_pages"], a["p50_len"], a["p90_len"], a["p99_len"],
            a["max_len"]) == (10, 5, 9, 9, 10)
    b = out["b.example"]
    assert (b["n_pages"], b["p50_len"], b["p90_len"], b["p99_len"],
            b["max_len"]) == (1, 7, 7, 7, 7)


def test_domain_quantiles_ties_collapse_before_sort(spark):
    # 1000 identical-length docs + one longer: the window sorts TWO
    # distinct lengths, not 1001 rows; p50/p90 land on the common length
    rows = [(f"https://t.example/{i}", "y" * 20) for i in range(1000)]
    rows.append(("https://t.example/big", "y" * 500))
    r = CUR.domain_quantiles(_pages(spark, rows)).collect()[0]
    # n=1001: p50 rank 501 -> 20; p99 rank (1000*99)//100+1 = 991 -> 20
    assert (r["n_pages"], r["p50_len"], r["p99_len"], r["max_len"]) == (
        1001, 20, 20, 500)


# ---------------------------------------------------------------------------
# shingle_duplicates
# ---------------------------------------------------------------------------

def _docs(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


def test_shingle_duplicates_shared_prefix_detected(spark):
    shared = "LICENSE HEADER " * 5  # 75 chars, identical prefix
    docs = _docs(spark, [shared + "tail one x", shared + "other ending",
                         "completely unrelated text that is long enough"])
    out = D.shingle_duplicates(docs).collect()
    assert out, "shared 75-char prefix must collide on aligned shingles"
    # positions 1,17,33 fit inside the 75-char shared prefix for w=32:
    # 33+31=64 <= 75; position 49 reaches char 80 -> differs
    assert all(r["n_docs"] == 2 for r in out)
    assert len(out) == 3
    assert all(r["first_doc"] == 0 for r in out)


def test_shingle_duplicates_short_docs_and_uniques_silent(spark):
    docs = _docs(spark, ["short", "x" * 31,  # below window: no shingles
                         "A" * 64, "B" * 64])  # unique content
    assert D.shingle_duplicates(docs).count() == 0


def test_shingle_duplicates_occurrence_counts(spark):
    # one doc with an internally repeated aligned block + a twin doc:
    # n_occs counts every occurrence, n_docs the distinct docs
    block = "Z" * 32
    docs = _docs(spark, [block + block, block + "Y" * 32])
    rows = D.shingle_duplicates(docs).collect()
    assert len(rows) == 1  # the all-Z shingle (positions 1,17,33 in doc0)
    r = rows[0]
    # doc0: positions 1,17,33 are all-Z (49 exceeds len-31=33 -> absent);
    # doc1: position 1 only -> 4 occurrences across 2 docs
    assert (r["n_docs"], r["n_occs"]) == (2, 4)


# ---------------------------------------------------------------------------
# cocitation
# ---------------------------------------------------------------------------

def _edges(spark, triples):
    return spark.createDataFrame(triples, "src string, dst string, w long")


def test_cocitation_basic_pairs(spark):
    e = _edges(spark, [
        ("s1", "a", 5), ("s1", "b", 3), ("s2", "a", 1), ("s2", "b", 9),
        ("s3", "a", 2), ("s3", "c", 2),
    ])
    out = {(r["h1"], r["h2"]): r["n_common"]
           for r in GR.cocitation(e, min_common=2).collect()}
    # (a,b) co-cited by s1 and s2; (a,c) only by s3 -> below min_common
    assert out == {("a", "b"): 2}


def test_cocitation_cap_bounds_hub_fanout(spark):
    # a hub citing 20 hosts with cap=3 contributes only its top-3 by
    # weight (t00 w=20 ... t19 w=1): pairs among {t00,t01,t02} only
    hub = [("hub", f"t{i:02d}", 20 - i) for i in range(20)]
    out = GR.cocitation(_edges(spark, hub), cap=3, min_common=1).collect()
    pairs = {(r["h1"], r["h2"]) for r in out}
    assert pairs == {("t00", "t01"), ("t00", "t02"), ("t01", "t02")}


def test_cocitation_tie_break_deterministic(spark):
    # equal weights: dst ascending decides the cap cut
    e = _edges(spark, [("s", d, 1) for d in ("d4", "d1", "d3", "d2")])
    out = GR.cocitation(e, cap=2, min_common=1).collect()
    assert {(r["h1"], r["h2"]) for r in out} == {("d1", "d2")}


# ---------------------------------------------------------------------------
# hits (exact-integer hubs & authorities)
# ---------------------------------------------------------------------------

def _hits_py(edges, iters, scale):
    """Pure-Python replay of graph.hits' exact max-normalized update."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    hub = {n: scale for n in nodes}
    auth = {}
    for _ in range(iters):
        a_raw = {n: 0 for n in nodes}
        for s, d, w in edges:
            a_raw[d] += hub[s] * w
        mx = max(1, max(a_raw.values(), default=0))
        auth = {n: (a_raw[n] * scale) // mx for n in nodes}
        h_raw = {n: 0 for n in nodes}
        for s, d, w in edges:
            h_raw[s] += auth[d] * w
        mx = max(1, max(h_raw.values(), default=0))
        hub = {n: (h_raw[n] * scale) // mx for n in nodes}
    return hub, auth


def test_hits_matches_python_replay_bit_for_bit(spark):
    edges = [("a", "b", 2), ("a", "c", 1), ("b", "c", 3),
             ("d", "c", 1), ("c", "a", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {r["node"]: (r["hub"], r["auth"])
           for r in GR.hits(df, iters=3, scale=10**6).collect()}
    hub, auth = _hits_py(edges, 3, 10**6)
    assert got == {n: (hub[n], auth[n]) for n in hub}
    # c collects every edge but d's: it must be the top authority
    assert got["c"][1] == 10**6


@pytest.fixture
def reliable_checkpoints(spark, tmp_path):
    """Run the test with a session checkpoint dir, so every staged round
    is a reliable checkpoint (the cluster deployment); restore "no dir"
    afterwards, so later tests stage through localCheckpoint again."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        yield ckpt
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


_CKPT_EDGES = [("a", "b", 2), ("a", "c", 1), ("b", "c", 3),
               ("d", "c", 1), ("c", "a", 1), ("x", "y", 1)]


@pytest.mark.parametrize("op", [
    lambda df: GR.hits(df, iters=3, scale=10**6),
    lambda df: GR.connected_components(df),
    lambda df: GR.lpa_communities(df, rounds=3),
], ids=["hits", "connected_components", "lpa_communities"])
def test_reliable_checkpoint_matches_local(spark, request, op):
    """The staging policy is a durability lever only: with a checkpoint
    dir set, every staged round is written through RDD.checkpoint to
    shared storage (survives executor loss at 1000-executor scale),
    convergence Observations still fill, and the results are identical
    to the default localCheckpoint path."""
    df = spark.createDataFrame(_CKPT_EDGES, "src string, dst string, w long")
    want = sorted(op(df).collect())
    # the checkpoint dir is set only now, after the local-staging run
    ckpt = request.getfixturevalue("reliable_checkpoints")
    assert sorted(op(df).collect()) == want
    assert any(ckpt.rglob("rdd-*")), "no reliable checkpoint written"


def test_hits_overflow_preflight_fail_loud(spark):
    df = spark.createDataFrame(
        [("a", "b", 10**9)], "src string, dst string, w long"
    )
    import pytest as _pt
    with _pt.raises(ValueError, match="hits int64 overflow"):
        GR.hits(df, iters=1, scale=10**9)


# ---------------------------------------------------------------------------
# plan pins (100 TB shape, same discipline as tests/test_plans.py)
# ---------------------------------------------------------------------------

def test_domain_quantiles_plan_shape(spark):
    """Two shuffles total — the (domain, len) pre-agg and the
    domain-partitioned window the final agg then reuses; both windows
    share ONE exchange; no Expand (no multi-distinct rewrite)."""
    from fileverification_spark.plans import explain as X
    from fileverification_spark.sources import pages as P

    q = CUR.domain_quantiles(P.pages(spark, "/root/testdata/sf0.001"))
    assert X.shuffle_exchange_count(q) == 2
    assert X.has_partial_aggregate(q)
    assert "Expand" not in X.formatted_plan(q)


def test_shingle_duplicates_plan_shape(spark):
    """Exactly the two-phase exact-distinct shape and zero Python: the
    shingle expansion is codegen'd sequence/transform; the exact n_docs
    costs one extra hash-agg shuffle on (shingle_sha, doc_id) — both
    shuffles keyed on uniform 256-bit digests, both partial-aggregated,
    and no Expand (single distinct column, no multi-distinct rewrite)."""
    from fileverification_spark.plans import explain as X
    from fileverification_spark.sources import pages as P

    q = D.shingle_duplicates(P.load_documents(spark, "/root/testdata/sf0.001"))
    plan = X.formatted_plan(q)
    assert X.shuffle_exchange_count(q) == 2
    assert X.has_partial_aggregate(q)
    assert "Expand" not in plan
    assert "Python" not in plan and "BatchEval" not in plan


def test_cocitation_cap_uses_window_group_limit(spark):
    """The rn <= cap filter must plan as WindowGroupLimit: each src
    group keeps a running top-`cap` heap instead of fully sorting its
    out-edges — on a 1e5-out-degree hub that's the difference between
    O(deg log cap) and O(deg log deg) + materializing the sort. The
    self-join keys on src (both exchanges hash on src — co-partitioned,
    deduped to a ReusedExchange by AQE at runtime), never a cartesian."""
    from fileverification_spark.plans import explain as X

    e = _edges(spark, [("s%d" % (i % 7), "d%d" % (i % 13), i + 1)
                       for i in range(60)])
    q = GR.cocitation(e, cap=4, min_common=1)
    plan = X.formatted_plan(q)
    assert "WindowGroupLimit" in plan
    assert "Cartesian" not in plan
    assert X.shuffle_exchange_count(q) <= 3
