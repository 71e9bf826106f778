"""Late round-5 operators: Hilbert layout, Bloom frontier, skew audit,
LPA communities.

Same discipline as tests/test_r5_ops.py: hand-replayable semantics on
planted inputs + plan pins for the 100 TB shape. (Oracle parity at
sf0.001+sf0.01 runs via tests/test_demoted_contract.py /
tools/check_oracle.py as for every contract/demoted query.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fileverification_spark import grid
from fileverification_spark.operators import diagnostics as DG
from fileverification_spark.operators import graph as GR
from fileverification_spark.operators import sketch as SK
from fileverification_spark.operators import spatial as S
from fileverification_spark.plans import explain as X


# ---------------------------------------------------------------------------
# Hilbert curve
# ---------------------------------------------------------------------------

def test_hilbert_bijective_and_adjacent():
    lvl, n = 4, 16
    pos = {}
    for x in range(n):
        for y in range(n):
            d = grid.hilbert_key_py(x, y, lvl)
            assert d not in pos
            pos[d] = (x, y)
    assert sorted(pos) == list(range(n * n))
    # THE Hilbert property Morton lacks: every consecutive key pair is
    # a grid 4-neighbor — no quadrant-seam jumps anywhere on the curve
    for d in range(n * n - 1):
        (x0, y0), (x1, y1) = pos[d], pos[d + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1, (d, pos[d], pos[d + 1])


def test_hilbert_hierarchical_prefix():
    # top 2p bits of the level-L key == the level-p key of the parent
    # quadrant — the fact that makes prefix-bucket layout stats (and
    # range pruning) meaningful, exactly as for the Morton key
    L, p = 6, 2
    for x in range(0, 1 << L, 7):
        for y in range(0, 1 << L, 5):
            full = grid.hilbert_key_py(x, y, L)
            coarse = grid.hilbert_key_py(x >> (L - p), y >> (L - p), p)
            assert full >> (2 * (L - p)) == coarse


def test_attach_hilbert_key_matches_python(spark):
    lvl = 5
    pts = [(-80.0 + 13.7 * i, -170.0 + 27.3 * i) for i in range(12)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = {
        (r["lat"], r["lon"]): r["hkey"]
        for r in grid.attach_hilbert_key(
            df, F.col("lat"), F.col("lon"), lvl
        ).collect()
    }
    for lat, lon in pts:
        x, y = grid.zorder_xy_py(lat, lon, lvl)
        assert got[(lat, lon)] == grid.hilbert_key_py(x, y, lvl)


def test_hilbert_layout_stats_buckets_disjoint(spark, pages_small):
    out = S.hilbert_layout_stats(pages_small, level=8, prefix_level=3)
    rows = sorted(out.collect(), key=lambda r: r["bucket"])
    assert sum(r["n_pages"] for r in rows) == pages_small.count()
    shift = 2 * (8 - 3)
    for r in rows:
        # every key in a bucket carries the bucket's own prefix
        assert r["h_min"] >> shift == r["bucket"]
        assert r["h_max"] >> shift == r["bucket"]
    for a, b in zip(rows, rows[1:]):
        assert a["h_max"] < b["h_min"]


def test_hilbert_ladder_zero_python_zero_input_shuffle(spark, pages_small):
    keyed = grid.attach_hilbert_key(
        pages_small, F.col("lat"), F.col("lon"), 8
    )
    plan = X.formatted_plan(keyed)
    assert "EvalPython" not in plan
    assert "Exchange" not in plan  # the ladder itself never shuffles


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------

def _urls(spark, names):
    return spark.createDataFrame([(u,) for u in names], "url string")


def test_bloom_no_false_negatives(spark):
    seen = _urls(spark, [f"https://h{i}.org/p/{i}" for i in range(200)])
    bloom = SK.bloom_urls(seen)
    out = {
        r["url"]: r["might_seen"]
        for r in SK.bloom_probe(bloom, seen).collect()
    }
    assert len(out) == 200 and all(out.values())


def test_bloom_definitely_new_and_fp_envelope(spark):
    seen = _urls(spark, [f"https://h{i}.org/p/{i}" for i in range(500)])
    fresh = _urls(spark, [f"https://new{i}.org/x/{i}" for i in range(500)])
    bloom = SK.bloom_urls(seen)
    hits = [
        r["might_seen"] for r in SK.bloom_probe(bloom, fresh).collect()
    ]
    fp = sum(hits)
    # k=4, m=2^18, n=500 -> fp rate ~ (1 - e^{-kn/m})^4 ~= 3.3e-9;
    # allow a generous slack for the finite hash family
    assert fp <= 2, f"false-positive count {fp} out of envelope"


def test_bloom_merge_identity(spark):
    a = _urls(spark, [f"https://a{i}.org/{i}" for i in range(120)])
    b = _urls(spark, [f"https://b{i}.org/{i}" for i in range(130)])
    direct = SK.bloom_urls(a.unionByName(b))
    merged = (
        SK.bloom_urls(a)
        .unionByName(SK.bloom_urls(b))
        .groupBy("word")
        .agg(F.expr("bit_or(bits)").cast("bigint").alias("bits"))
    )
    d = {(r["word"], r["bits"]) for r in direct.collect()}
    m = {(r["word"], r["bits"]) for r in merged.collect()}
    assert d == m


def test_bloom_plan_single_agg_no_python(spark):
    seen = _urls(spark, ["https://x.org/1"])
    plan = X.formatted_plan(SK.bloom_urls(seen))
    assert "EvalPython" not in plan
    assert plan.count("Exchange") <= 2  # partial+final of ONE hash-agg


def test_bloom_rejects_bad_m(spark):
    seen = _urls(spark, ["https://x.org/1"])
    with pytest.raises(ValueError):
        SK.bloom_urls(seen, m_bits=100)  # not a multiple of 32


# ---------------------------------------------------------------------------
# skew_report
# ---------------------------------------------------------------------------

def test_skew_report_hand_computed(spark):
    # keys: a x 6, b x 3, c x 1 -> n_keys=3 total=10 max=6
    rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)]
    df = spark.createDataFrame(rows, "k string")
    out = DG.skew_report(df, "k", top=2, target=4).collect()
    by = {r["key"]: r for r in out}
    assert set(by) == {"a", "b"}
    a = by["a"]
    assert (a["n"], a["rank"]) == (6, 1)
    assert a["share_ppm"] == 600_000
    assert a["salt"] == 2  # ceil(6/4)
    assert a["n_keys"] == 3 and a["total_rows"] == 10 and a["max_n"] == 6
    assert a["mean_n_milli"] == 3333  # 1000*10 div 3
    # ascending (n, key) ranks: c(1)=r1, b(3)=r2, a(6)=r3;
    # p50 -> rank ceil(1.5)=2 -> 3; p90/p99 -> rank 3 -> 6
    assert (a["p50_n"], a["p90_n"], a["p99_n"]) == (3, 6, 6)
    assert a["skew_milli"] == 1800  # 1000*6*3 div 10
    b = by["b"]
    assert (b["n"], b["rank"], b["salt"]) == (3, 2, 1)


def test_skew_report_tie_break_by_key(spark):
    rows = [("x",)] * 2 + [("y",)] * 2 + [("z",)]
    df = spark.createDataFrame(rows, "k string")
    out = DG.skew_report(df, "k", top=1, target=10).collect()
    assert len(out) == 1 and out[0]["key"] == "x"  # ties -> min key


def test_skew_report_validates_args(spark):
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError):
        DG.skew_report(df, "k", top=0)
    with pytest.raises(ValueError):
        DG.skew_report(df, "k", target=0)


# ---------------------------------------------------------------------------
# lpa_communities
# ---------------------------------------------------------------------------

def _edges(spark, pairs):
    return spark.createDataFrame(
        [(s, d, 1) for s, d in pairs], "src string, dst string, w long"
    )


def test_lpa_two_cliques_one_bridge(spark, no_broadcast):
    # clique {a1,a2,a3} + clique {b1,b2,b3} + bridge a3-b1: after 3
    # sync sweeps the two cliques settle on two DIFFERENT labels — the
    # thin bridge can seed a label across (b1 tie-breaks to 'a3' in
    # sweep 1) but cannot merge the groups; hand-replay of the sweeps:
    # r1 b1->a3, r2 b2/b3->a3, r3 all of b on 'a3' while a stays 'a1'
    cl_a = [("a1", "a2"), ("a1", "a3"), ("a2", "a3")]
    cl_b = [("b1", "b2"), ("b1", "b3"), ("b2", "b3")]
    edges = _edges(spark, cl_a + cl_b + [("a3", "b1")])

    def run():
        return {
            r["host"]: r["community"]
            for r in GR.lpa_communities(edges, rounds=3).collect()
        }

    out = run()
    assert {out["a1"], out["a2"], out["a3"]} == {"a1"}
    assert {out["b1"], out["b2"], out["b3"]} == {"a3"}
    # the shuffled label side (above the broadcast threshold) agrees
    with no_broadcast():
        assert run() == out


def test_lpa_plurality_tie_takes_min_label(spark):
    # star: center c with leaves l1, l2 — after one sweep the center
    # sees {l1: 1, l2: 1} and the tie canon picks min(l1, l2)
    out = {
        r["host"]: r["community"]
        for r in GR.lpa_communities(
            _edges(spark, [("c", "l1"), ("c", "l2")]), rounds=1
        ).collect()
    }
    assert out["c"] == "l1"
    # leaves see only the center
    assert out["l1"] == "c" and out["l2"] == "c"


def test_lpa_deterministic_across_runs(spark):
    pairs = [(f"h{i}", f"h{(i * 3 + 1) % 17}") for i in range(17)]
    e = _edges(spark, pairs)
    runs = [
        sorted(
            (r["host"], r["community"])
            for r in GR.lpa_communities(e, rounds=3).collect()
        )
        for _ in range(2)
    ]
    assert runs[0] == runs[1]
