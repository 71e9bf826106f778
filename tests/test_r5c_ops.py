"""Final round-5 operators: HyperBall neighborhood function, Newman
modularity, DSIR importance weights.

Same discipline as tests/test_r5_ops.py / test_r5b_ops.py: full
hand-replay of the exact algebra on planted inputs + plan pins for the
100 TB shape. (Oracle parity at sf0.001+sf0.01 runs via
tests/test_demoted_contract.py / tools/check_oracle.py as for every
demoted query.)
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from fileverification_spark.operators import curation as CUR
from fileverification_spark.operators import graph as GR
from fileverification_spark.plans import explain as X


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(s, d, 1) for s, d in pairs], "src string, dst string, w long"
    )


# ---------------------------------------------------------------------------
# hyperball
# ---------------------------------------------------------------------------

def _hb_hash(node: str) -> int:
    # kmv_hash: leading 15 hex digits of sha256 -> 60-bit int
    return int(hashlib.sha256(node.encode()).hexdigest()[:15], 16)


def _hb_expected(members: set) -> tuple:
    """(n_regs_set, sum_scaled) of the exact HLL registers of a set —
    the full register replay of graph._hb_own_sketch + max-merge."""
    regs = {}
    for n in members:
        h = _hb_hash(n)
        reg = h & (GR.HB_M - 1)
        w = h >> GR.HB_P
        wbits = 60 - GR.HB_P
        rho = (wbits + 1) if w == 0 else wbits - (w.bit_length() - 1)
        regs[reg] = max(regs.get(reg, 0), rho)
    scale = (60 - GR.HB_P) + 1
    present = sum(1 << (scale - r) for r in regs.values())
    absent = (GR.HB_M - len(regs)) * (1 << scale)
    return len(regs), present + absent


def _balls(pairs, t_max):
    """Exact out-balls per node per radius via BFS."""
    nodes = {s for s, _ in pairs} | {d for _, d in pairs}
    out = {n: set() for n in nodes}
    for s, d in pairs:
        out[s].add(d)
    balls = {}
    for v in nodes:
        cur = {v}
        balls[(v, 0)] = set(cur)
        for t in range(1, t_max + 1):
            cur = cur | {w for u in cur for w in out[u]}
            balls[(v, t)] = set(cur)
    return balls


def test_hyperball_matches_exact_register_replay(spark):
    # chain + fan: a -> b -> c -> d, a -> c, e -> a (distinct reach sets
    # at every radius for every node)
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("e", "a")]
    got = {
        (r["node"], r["t"]): (r["n_regs_set"], r["sum_scaled"])
        for r in GR.hyperball(_edges(spark, pairs), t_max=3).collect()
    }
    balls = _balls(pairs, 3)
    assert set(got) == set(balls)
    for key, members in balls.items():
        assert got[key] == _hb_expected(members), (key, members)


def test_hyperball_monotone_and_saturates(spark):
    # 4-cycle: ball grows by exactly one node per hop, saturates at t=3
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    rows = GR.hyperball(_edges(spark, pairs), t_max=4).collect()
    by_node = {}
    for r in rows:
        by_node.setdefault(r["node"], {})[r["t"]] = r
    for node, ts in by_node.items():
        for t in range(1, 5):
            # registers only accumulate: indicator sum never grows
            assert ts[t]["sum_scaled"] <= ts[t - 1]["sum_scaled"]
            assert ts[t]["n_regs_set"] >= ts[t - 1]["n_regs_set"]
        # saturated: t=3 covers the whole cycle, t=4 adds nothing
        assert ts[4]["sum_scaled"] == ts[3]["sum_scaled"]
    # full-graph sketches are identical across nodes once saturated
    assert len({ts[4]["sum_scaled"] for ts in by_node.values()}) == 1


def _spark_round4(x: float) -> float:
    # Spark round(double, 4): BigDecimal.valueOf(x) (shortest decimal
    # repr) -> setScale(4, HALF_UP) -> double; repr() is Python's
    # shortest-repr twin
    from decimal import Decimal, ROUND_HALF_UP

    return float(
        Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


def _hb_est(n_regs_set: int, sum_scaled: int) -> float:
    # the full estimator CASE of graph._hb_estimate: linear counting
    # from the precomputed literal table in the small range, raw
    # one-division HLL otherwise
    raw = GR._HB_NUM / sum_scaled
    v = GR.HB_M - n_regs_set
    if v > 0 and raw <= GR._HB_LC_BAR:
        return GR._HB_LC[v - 1]
    return _spark_round4(raw)


def test_hyperball_singleton_est_is_linear_counting(spark):
    # an isolated pair: at t=0 every ball is {v} -> est must be the
    # V=63 linear-counting value ~1.0079, NOT the raw estimator's ~46
    rows = GR.hyperball(_edges(spark, [("a", "b")]), t_max=1).collect()
    t0 = [r for r in rows if r["t"] == 0]
    assert t0 and all(r["est"] == GR._HB_LC[GR.HB_M - 2] for r in t0)
    assert 1.0 < GR._HB_LC[GR.HB_M - 2] < 1.1


def test_hyperball_lc_table_rounds_half_up():
    # every entry is m * ln(m / V) rounded HALF_UP at 4 decimals, with
    # the logarithm taken at 40 significant digits: the table carries the
    # rounding canon's values, not half-even ones from float round()
    from decimal import Decimal, ROUND_HALF_UP, localcontext

    m = GR.HB_M
    with localcontext() as ctx:
        ctx.prec = 40
        want = tuple(
            float(
                (Decimal(m) * (Decimal(m) / Decimal(v)).ln()).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
            )
            for v in range(1, m)
        )
    assert GR._HB_LC == want
    assert (GR._HB_LC[0], GR._HB_LC[-1]) == (266.1685, 1.0079)


def test_harmonic_centrality_matches_exact_replay(spark):
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("e", "a")]
    t_max = 3
    balls = _balls(pairs, t_max)
    nodes = {n for n, _ in balls}
    exp = {}
    for v in nodes:
        est = []
        for t in range(t_max + 1):
            n_set, sum_scaled = _hb_expected(balls[(v, t)])
            est.append(_hb_est(n_set, sum_scaled))
        harm = 0.0
        for t in range(1, t_max + 1):
            harm = harm + (est[t] - est[t - 1]) / float(t)
        exp[v] = (est[t_max], _spark_round4(harm))
    got = {
        r["node"]: (r["reach"], r["harmonic"])
        for r in GR.harmonic_centrality(_edges(spark, pairs), t_max=t_max)
        .collect()
    }
    assert got == exp


def test_harmonic_centrality_sink_is_zero(spark):
    # d is a pure sink: its ball never grows, so every delta — and the
    # truncated harmonic — is exactly 0; reach is its own singleton est
    pairs = [("a", "b"), ("b", "c"), ("c", "d")]
    rows = {
        r["node"]: r
        for r in GR.harmonic_centrality(_edges(spark, pairs), t_max=3)
        .collect()
    }
    assert rows["d"]["harmonic"] == 0.0
    # the chain head reaches strictly more than the middle
    assert rows["a"]["harmonic"] > rows["b"]["harmonic"] > 0.0


def test_harmonic_centrality_plan_no_python(spark):
    df = GR.harmonic_centrality(_edges(spark, [("a", "b")]), t_max=2)
    plan = X.formatted_plan(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_distance_distribution_matches_exact_replay(spark):
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("e", "a")]
    t_max = 3
    balls = _balls(pairs, t_max)
    nodes = {n for n, _ in balls}
    exp = {}
    prev = 0
    for t in range(t_max + 1):
        from decimal import Decimal, ROUND_HALF_UP

        within = 0
        for v in nodes:
            n_set, sum_scaled = _hb_expected(balls[(v, t)])
            est4 = _hb_est(n_set, sum_scaled)
            within += int(
                Decimal(repr(est4)).quantize(
                    Decimal("1"), rounding=ROUND_HALF_UP
                )
            )
        exp[t] = (len(nodes), within, within - prev)
        prev = within
    got = {
        r["t"]: (r["n_nodes"], r["pairs_within"], r["new_pairs"])
        for r in GR.distance_distribution(_edges(spark, pairs), t_max=t_max)
        .collect()
    }
    assert got == exp


def test_distance_distribution_t0_is_node_count(spark):
    # at t=0 every ball is the singleton {v}: pairs_within == n_nodes
    # exactly (the singleton estimate is alpha*m^2/(63*1 + (m-1)*2^55)
    # ~= 1 and snaps to 1)
    pairs = [("a", "b"), ("b", "c"), ("c", "a")]
    rows = {
        r["t"]: r
        for r in GR.distance_distribution(_edges(spark, pairs), t_max=2)
        .collect()
    }
    assert rows[0]["pairs_within"] == rows[0]["n_nodes"] == 3
    assert rows[0]["new_pairs"] == 3
    # a 3-cycle saturates at t=2: all 9 ordered pairs reached
    assert rows[2]["pairs_within"] == rows[1]["pairs_within"] + rows[2][
        "new_pairs"
    ]


def test_hyperball_plan_no_python(spark):
    df = GR.hyperball(_edges(spark, [("a", "b"), ("b", "c")]), t_max=2)
    plan = X.formatted_plan(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# modularity
# ---------------------------------------------------------------------------

def _labels(spark, d):
    return spark.createDataFrame(
        list(d.items()), "host string, community string"
    )


def test_modularity_two_triangles_hand_computed(spark):
    # two triangles bridged by one edge; the triangle partition:
    # m = 7, each community: m_in = 3, d_tot = 7,
    # q_num = 4*7*3 - 49 = 35  (Q = 70/196 = 0.357...)
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("d", "e"), ("e", "f"), ("f", "d"),
        ("c", "d"),
    ]
    lab = {x: ("t1" if x in "abc" else "t2") for x in "abcdef"}
    rows = {
        r["community"]: r
        for r in GR.modularity(_edges(spark, pairs), _labels(spark, lab))
        .collect()
    }
    assert set(rows) == {"t1", "t2"}
    for c in ("t1", "t2"):
        assert rows[c]["n_nodes"] == 3
        assert rows[c]["m_in"] == 3
        assert rows[c]["d_tot"] == 7
        assert rows[c]["q_num"] == 35
        assert rows[c]["m_edges"] == 7


def test_modularity_single_community_is_zero(spark):
    # everything in one community: Q = m/m - (2m/2m)^2 = 0 exactly
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    lab = {x: "all" for x in "abcd"}
    [row] = GR.modularity(_edges(spark, pairs), _labels(spark, lab)).collect()
    assert row["q_num"] == 0
    assert row["m_in"] == row["m_edges"] == 4
    assert row["d_tot"] == 8


def test_modularity_directed_dups_and_loops_canon(spark):
    # the undirected canon: reciprocal + repeated directed edges count
    # once, self-loops drop — same domain as every other graph operator
    pairs = [("a", "b"), ("b", "a"), ("a", "b"), ("a", "a"), ("b", "c")]
    lab = {"a": "x", "b": "x", "c": "y"}
    rows = {
        r["community"]: r
        for r in GR.modularity(_edges(spark, pairs), _labels(spark, lab))
        .collect()
    }
    assert rows["x"]["m_edges"] == 2          # {a,b}, {b,c}
    assert rows["x"]["m_in"] == 1
    assert rows["x"]["d_tot"] == 3            # a:1 b:2
    assert rows["x"]["q_num"] == 4 * 2 * 1 - 9
    assert rows["y"]["m_in"] == 0
    assert rows["y"]["d_tot"] == 1


def test_modularity_plan_no_python_no_window(spark):
    df = GR.modularity(
        _edges(spark, [("a", "b")]), _labels(spark, {"a": "x", "b": "x"})
    )
    plan = X.formatted_plan(df)
    assert "EvalPython" not in plan
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# dsir_weights
# ---------------------------------------------------------------------------

def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def _target(spark, texts):
    return spark.createDataFrame([(t,) for t in texts], "text string")


def test_dsir_hand_computed(spark):
    # raw: N_src = 4 (aa:1 bb:2 cc:1) -> bits aa=2 bb=1 cc=2
    # target: "aa aa bb" -> N_tgt = 3 (aa:2 bb:1) -> bits aa=0 bb=1
    # cc is OOV: counted, unscored
    raw = _pages(spark, [("u1", "aa bb"), ("u2", "bb cc")])
    tgt = _target(spark, ["aa aa bb"])
    rows = {r["url"]: r for r in CUR.dsir_weights(raw, tgt).collect()}
    assert rows["u1"]["n_tokens"] == 2
    assert rows["u1"]["n_scored"] == 2
    assert rows["u1"]["bits_src"] == 3      # aa 2 + bb 1
    assert rows["u1"]["bits_tgt"] == 1      # aa 0 + bb 1
    assert rows["u1"]["weight_bits"] == 2   # more target-like
    assert rows["u2"]["n_tokens"] == 2
    assert rows["u2"]["n_scored"] == 1      # cc unscored
    assert rows["u2"]["bits_src"] == 1
    assert rows["u2"]["bits_tgt"] == 1
    assert rows["u2"]["weight_bits"] == 0


def test_dsir_oov_only_doc_scores_zero(spark):
    raw = _pages(spark, [("u1", "zz zz"), ("u2", "aa")])
    tgt = _target(spark, ["aa"])
    rows = {r["url"]: r for r in CUR.dsir_weights(raw, tgt).collect()}
    assert rows["u1"]["n_scored"] == 0
    assert rows["u1"]["weight_bits"] == 0
    assert rows["u1"]["n_tokens"] == 2


def test_dsir_identical_corpora_all_zero(spark):
    # when target == source, every token's src/tgt statistics coincide
    # and every weight collapses to exactly 0 — the degenerate case the
    # contract query avoids by slicing the target to one language
    raw = _pages(spark, [("u1", "aa bb"), ("u2", "bb cc dd")])
    tgt = _target(spark, ["aa bb", "bb cc dd"])
    for r in CUR.dsir_weights(raw, tgt).collect():
        assert r["weight_bits"] == 0
        assert r["n_scored"] == r["n_tokens"]


def test_dsir_plan_no_python_no_window(spark):
    df = CUR.dsir_weights(
        _pages(spark, [("u", "aa")]), _target(spark, ["aa"])
    )
    plan = X.formatted_plan(df)
    assert "EvalPython" not in plan
    assert "Window" not in plan
