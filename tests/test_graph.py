"""Link graph + integer PageRank (operators/graph.py).

Hand-replayable cases: the PageRank update is exact int64 arithmetic,
so a pure-Python replay must match Spark bit-for-bit — no tolerance
anywhere.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fileverification_spark.functions import html as HT
from fileverification_spark.operators import graph as GR

SCALE = 10**5  # small scale keeps hand numbers readable; exactness is
               # scale-independent


def _pagerank_py(edges, iters, scale=SCALE, d_num=85, d_den=100):
    """Pure-Python replay of graph.pagerank's exact update rule."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    rank = {n: scale for n in nodes}
    for _ in range(iters):
        contrib = {n: 0 for n in nodes}
        for s, d, w in edges:
            contrib[d] += (rank[s] * w) // outw[s]
        dang = sum(rank[n] for n in nodes if n not in outw)
        each = dang // len(nodes)
        rank = {
            n: ((d_den - d_num) * scale + d_num * (contrib[n] + each))
            // d_den
            for n in nodes
        }
    return rank


@pytest.fixture(scope="module")
def hand_edges(spark):
    # A -> B (w2), A -> C, B -> C, C -> A; D is DANGLING (target only)
    rows = [
        ("A", "B", 2),
        ("A", "C", 1),
        ("B", "C", 1),
        ("C", "A", 1),
        ("B", "D", 1),
    ]
    return spark.createDataFrame(rows, "src string, dst string, w long")


def test_pagerank_matches_python_replay(spark, hand_edges):
    got = {
        r["node"]: r["rank"]
        for r in GR.pagerank(hand_edges, iters=4, scale=SCALE).collect()
    }
    want = _pagerank_py(
        [(r["src"], r["dst"], r["w"]) for r in hand_edges.collect()], 4
    )
    assert got == want  # exact, no tolerance


def test_pagerank_overflow_preflight_fails_loud(spark, hand_edges):
    """A scale that would wrap int64 raises BEFORE iterating, naming a
    safe scale — never silently-wrong ranks (ADVICE r3)."""
    with pytest.raises(ValueError, match="int64 overflow.*scale <="):
        GR.pagerank(hand_edges, iters=1, scale=2**60)
    # default scale on this graph is comfortably inside the bound
    assert GR.pagerank(hand_edges, iters=1).count() == 4


def test_pagerank_dangling_mass_redistributed(spark, hand_edges):
    # With damping 1 (d_num == d_den) and no dangling leak handling the
    # total mass would shrink; the uniform redistribution keeps the
    # total within n_nodes quantization drops per iteration.
    ranks = GR.pagerank(
        hand_edges, iters=3, scale=SCALE, d_num=100, d_den=100
    ).collect()
    total = sum(r["rank"] for r in ranks)
    n, iters = 4, 3  # nodes A,B,C,D
    # each iteration drops < n integer-division remainders of the
    # contribution terms plus the dangling split remainder
    max_drop = iters * (n + len(ranks)) * 2
    assert n * SCALE - max_drop <= total <= n * SCALE


def test_pagerank_sink_gains_source_loses(spark, hand_edges):
    ranks = {
        r["node"]: r["rank"]
        for r in GR.pagerank(hand_edges, iters=8, scale=SCALE).collect()
    }
    # A absorbs ALL of C's mass (C->A is C's only out-edge) while every
    # other node only receives fractions; D receives the least (half of
    # B's fan-out plus its own dangling reflux)
    assert ranks["A"] == max(ranks.values())
    assert ranks["D"] == min(ranks.values())
    assert set(ranks) == {"A", "B", "C", "D"}


def test_host_edges_filters_and_weights(spark):
    html = (
        '<a href="https://x.net/1">l</a>'
        '<A HREF = "https://x.net/2">c</A>'  # case + spaces
        '<a href="https://self.org/loop">s</a>'  # self loop -> dropped
        '<a href="/rel">r</a>'  # relative -> dropped
        "<a href='https://sq.net/x'>q</a>"  # single-quoted -> out of scope
    )
    pages = spark.createDataFrame(
        [("https://self.org/p", html)], "url string, html_s string"
    ).select("url", F.encode("html_s", "UTF-8").alias("html"))
    got = {(r["src"], r["dst"]): r["w"] for r in GR.host_edges(pages).collect()}
    assert got == {("self.org", "x.net"): 2}


def test_extract_links_order_and_relative(spark):
    df = spark.createDataFrame([("x",)], "k string").select(
        HT.extract_links(
            F.encode(
                F.lit('<a href="https://a/1"></a><a href="/r"></a>'), "UTF-8"
            )
        ).alias("l")
    )
    assert df.collect()[0]["l"] == ["https://a/1", "/r"]


def test_host_of_variants(spark):
    df = spark.createDataFrame(
        [
            ("https://h.example.com/p", "h.example.com"),
            ("http://h2:8080/p", "h2:8080"),
            ("https://bare.net", "bare.net"),
            ("ftp://nope/x", ""),
            ("/relative", ""),
        ],
        "url string, want string",
    )
    bad = df.where(GR.host_of(F.col("url")) != F.col("want")).count()
    assert bad == 0


def _one_page(spark, url, html):
    return spark.createDataFrame(
        [(url, html)], "url string, html_s string"
    ).select("url", F.encode("html_s", "UTF-8").alias("html"))


def test_anchor_terms_tokenized_onto_target_host(spark):
    html = (
        '<a href="https://t.net/a">Fast Join</a>'
        '<a href="https://t.net/b">fast hash</a>'
        '<a href="https://u.org/c">Broadcast!</a>'
        '<a href="/rel">skipped words</a>'
    )
    got = {
        (r["host"], r["term"]): r["n"]
        for r in GR.anchor_terms(
            _one_page(spark, "https://s.com/p", html)
        ).collect()
    }
    assert got == {
        ("t.net", "fast"): 2,
        ("t.net", "join"): 1,
        ("t.net", "hash"): 1,
        ("u.org", "broadcast"): 1,
    }


def test_crawl_frontier_excludes_fetched(spark):
    pages = spark.createDataFrame(
        [
            ("https://a.com/1", '<a href="https://a.com/2">x</a><a href="https://b.com/new">y</a>'),
            ("https://a.com/2", '<a href="https://a.com/1">b</a><a href="/rel">r</a>'),
        ],
        "url string, html_s string",
    ).select("url", F.encode("html_s", "UTF-8").alias("html"))
    got = {r["url"] for r in GR.crawl_frontier(pages).collect()}
    assert got == {"https://b.com/new"}


def test_connected_components_multi_component(spark):
    edges = spark.createDataFrame(
        [
            ("a.com", "b.com", 1),
            ("b.com", "c.com", 1),   # chain a-b-c
            ("x.org", "y.org", 2),   # separate pair
            ("lone.net", "lone2.net", 1),
        ],
        "src string, dst string, w long",
    )
    got = {
        r["node"]: r["component"]
        for r in GR.connected_components(edges).collect()
    }
    assert got == {
        "a.com": "a.com",
        "b.com": "a.com",
        "c.com": "a.com",
        "x.org": "x.org",
        "y.org": "x.org",
        "lone.net": "lone.net",
        "lone2.net": "lone.net",
    }


def test_connected_components_chain_converges(spark):
    # a directed chain needs diameter sweeps; undirected closure must
    # still label every node with the chain head
    n = 9
    edges = spark.createDataFrame(
        [(f"h{i:02d}", f"h{i + 1:02d}", 1) for i in range(n)],
        "src string, dst string, w long",
    )
    got = {
        r["node"]: r["component"]
        for r in GR.connected_components(edges, max_iters=32).collect()
    }
    assert set(got.values()) == {"h00"} and len(got) == n + 1


def test_connected_components_fails_loudly_unconverged(spark):
    # a 9-edge chain needs 9 label-changing sweeps; with fewer allowed
    # the loop must raise, not hand back half-propagated labels
    edges = spark.createDataFrame(
        [(f"h{i:02d}", f"h{i + 1:02d}", 1) for i in range(9)],
        "src string, dst string, w long",
    )
    with pytest.raises(RuntimeError, match="not converged"):
        GR.connected_components(edges, max_iters=4).collect()


def test_pagerank_resumable_bit_identical(spark, hand_edges, tmp_path):
    want = {
        r["node"]: r["rank"]
        for r in GR.pagerank(hand_edges, iters=5, scale=SCALE).collect()
    }
    # straight-through resumable run
    t1 = str(tmp_path / "pr_straight")
    got1 = {
        r["node"]: r["rank"]
        for r in GR.pagerank_resumable(
            spark, hand_edges, t1, iters=5, scale=SCALE
        ).collect()
    }
    assert got1 == want
    # "crash" after 2 iterations, then resume to 5 on a fresh call
    t2 = str(tmp_path / "pr_resumed")
    GR.pagerank_resumable(spark, hand_edges, t2, iters=2, scale=SCALE)
    got2 = {
        r["node"]: r["rank"]
        for r in GR.pagerank_resumable(
            spark, hand_edges, t2, iters=5, scale=SCALE
        ).collect()
    }
    assert got2 == want  # bit-identical across the restart

    from fileverification_spark.sources import snaplog as SL

    hist = SL.history(t2)
    assert len(hist) == 5  # one snapshot per iteration
    assert [s.summary["iteration"] for s in hist] == [5, 4, 3, 2, 1]


def test_pagerank_resumable_already_complete_and_overshoot(spark, hand_edges, tmp_path):
    import pytest as _pt

    t = str(tmp_path / "pr_done")
    GR.pagerank_resumable(spark, hand_edges, t, iters=3, scale=SCALE)
    # re-request same iters: no new snapshots, served from the table
    from fileverification_spark.sources import snaplog as SL

    n_before = len(SL.history(t))
    again = GR.pagerank_resumable(spark, hand_edges, t, iters=3, scale=SCALE)
    assert len(SL.history(t)) == n_before
    assert again.count() == 4
    with _pt.raises(ValueError):
        GR.pagerank_resumable(spark, hand_edges, t, iters=2, scale=SCALE)


def test_host_degrees_hand_graph(spark, hand_edges):
    got = {
        r["host"]: (r["out_deg"], r["in_deg"], r["out_w"], r["in_w"])
        for r in GR.host_degrees(hand_edges).collect()
    }
    assert got == {
        "A": (2, 1, 3, 1),   # out: B(2)+C(1); in: C->A(1)
        "B": (2, 1, 2, 2),   # out: C(1)+D(1); in: A->B(2)
        "C": (1, 2, 1, 2),
        "D": (0, 1, 0, 1),   # dangling: zero out side
    }


def test_mutual_links_requires_both_directions(spark):
    edges = spark.createDataFrame(
        [("a", "b", 3), ("b", "a", 1), ("a", "c", 2)],
        "src string, dst string, w long",
    )
    got = [
        (r["host_a"], r["host_b"], r["w_ab"], r["w_ba"])
        for r in GR.mutual_links(edges).collect()
    ]
    assert got == [("a", "b", 3, 1)]


def test_host_link_re_equals_composed_form(spark):
    # the single-pass HOST_LINK_RE must accept exactly what the composed
    # form (extract_links -> ABS_RE filter -> host_of) accepts
    html = (
        '<a href="https://keep.net/x">a</a>'
        '<A HREF = "http://port.net:8080/y">b</A>'
        '<a href="HTTPS://upper-scheme.net/z">c</a>'  # excluded: scheme cs
        '<a href="https://bare.net">d</a>'
        '<a href="/rel">e</a>'
        '<a href="ftp://other.net/f">f</a>'
    )
    df = spark.createDataFrame([(html,)], "h string").select(
        F.encode("h", "UTF-8").alias("html")
    )
    direct = (
        df.select(
            F.explode(
                F.regexp_extract_all(
                    F.decode("html", "UTF-8"), F.lit(GR.HOST_LINK_RE), 1
                )
            ).alias("host")
        ).collect()
    )
    composed = (
        df.select(F.explode(HT.extract_links(F.col("html"))).alias("l"))
        .where(F.col("l").rlike(HT.ABS_RE))
        .select(GR.host_of(F.col("l")).alias("host"))
        .collect()
    )
    assert [r["host"] for r in direct] == [r["host"] for r in composed]
    assert [r["host"] for r in direct] == [
        "keep.net", "port.net:8080", "bare.net"
    ]


def test_host_edges_single_shuffle_plan(spark):
    pages = spark.createDataFrame(
        [("https://a.com/p", '<a href="https://b.net/x">l</a>')],
        "url string, html_s string",
    ).select("url", F.encode("html_s", "UTF-8").alias("html"))
    plan = GR.host_edges(pages)._jdf.queryExecution().executedPlan().toString()
    # everything before the (src, dst) groupBy is map-side: exactly one
    # exchange in the plan
    assert plan.count("Exchange") == 1


def test_anchor_index_resolves_to_fetched_targets(spark):
    pages = spark.createDataFrame(
        [
            ("https://a.com/1", '<a href="https://a.com/2">great Docs</a>'
                                '<a href="https://gone.com/x">dead link</a>'),
            ("https://a.com/2", '<a href="https://a.com/1">home docs</a>'),
        ],
        "url string, html_s string",
    ).select("url", F.encode("html_s", "UTF-8").alias("html"))
    got = {
        (r["url"], r["term"]): r["n"]
        for r in GR.anchor_index(pages).collect()
    }
    # only fetched targets appear; anchors tokenized/lowercased
    assert got == {
        ("https://a.com/2", "great"): 1,
        ("https://a.com/2", "docs"): 1,
        ("https://a.com/1", "home"): 1,
        ("https://a.com/1", "docs"): 1,
    }


def test_pagerank_step_embeds_n_nodes_literal(spark, hand_edges):
    """The iteration-invariant n_nodes rides into the update rule as a
    plan-time literal (one fewer 1-row broadcast exchange per
    iteration) — the dangling-mass relation is the ONLY per-iteration
    1-row broadcast left."""
    nodes = (
        hand_edges.select(F.col("src").alias("node"))
        .union(hand_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outw = hand_edges.groupBy("src").agg(
        F.sum("w").cast("long").alias("total_w")
    )
    e2 = hand_edges.join(outw, "src")
    ranks = nodes.select("node", F.lit(SCALE).cast("long").alias("rank"))
    step = GR._pagerank_step(nodes, e2, outw, 4, ranks, SCALE, 85, 100)
    logical = step._jdf.queryExecution().optimizedPlan().toString()
    # the divisor is the embedded literal, not a joined n_nodes column
    assert "n_nodes" not in logical
    assert "4" in logical
    # exactly one broadcast hint survives: the dangling 1-row relation
    analyzed = step._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1


def test_fetch_schedule_slots_and_shards(spark):
    """Per-host url-sorted 0-based slots; shard is the sha256 host
    shard shared with frontier_shards (deterministic, oracle-safe)."""
    import hashlib

    urls = [
        "https://a.com/2", "https://a.com/1", "https://a.com/3",
        "https://b.net/only",
    ]
    frontier = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r["url"]: (r["host"], r["shard"], r["slot"])
        for r in GR.fetch_schedule(frontier, n_shards=8).collect()
    }

    def shard(host):
        return int(hashlib.sha256(host.encode()).hexdigest()[:8], 16) % 8

    assert got == {
        "https://a.com/1": ("a.com", shard("a.com"), 0),
        "https://a.com/2": ("a.com", shard("a.com"), 1),
        "https://a.com/3": ("a.com", shard("a.com"), 2),
        "https://b.net/only": ("b.net", shard("b.net"), 0),
    }


def test_host_triangles_hand_graph(spark):
    """K4 on a-d (4 triangles) + a pendant edge + a directed-both-ways
    pair (must not duplicate the undirected edge)."""
    edges = []
    K4 = ["a.com", "b.com", "c.com", "d.com"]
    for i, s in enumerate(K4):
        for t in K4[i + 1:]:
            edges.append((s, t, 1))
    edges += [("d.com", "e.net", 1), ("e.net", "d.com", 3)]  # both ways
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = sorted(
        (r["a"], r["b"], r["c"]) for r in GR.host_triangles(df).collect()
    )
    assert got == [
        ("a.com", "b.com", "c.com"),
        ("a.com", "b.com", "d.com"),
        ("a.com", "c.com", "d.com"),
        ("b.com", "c.com", "d.com"),
    ]


def test_host_triangles_hub_star_has_none_and_no_cartesian(spark):
    """A pure hub (star) has zero triangles; the plan must close wedges
    with equi-joins — no BroadcastNestedLoopJoin / CartesianProduct."""
    star = spark.createDataFrame(
        [("hub.com", f"leaf{i}.net", 1) for i in range(12)],
        "src string, dst string, w long",
    )
    out = GR.host_triangles(star)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert out.count() == 0


def test_host_clustering_k4_and_pendant(spark):
    """K4 corners: deg 3, tri 3 -> 2000*3 // 6 = 1000 (fully clustered);
    d.com with the pendant: deg 4, tri 3 -> 6000 // 12 = 500; e.net is
    deg-1 and must be excluded."""
    edges = []
    K4 = ["a.com", "b.com", "c.com", "d.com"]
    for i, s in enumerate(K4):
        for t in K4[i + 1:]:
            edges.append((s, t, 1))
    edges.append(("d.com", "e.net", 1))
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {
        r["node"]: (r["deg"], r["tri"], r["clust_milli"])
        for r in GR.host_clustering(df).collect()
    }
    assert got == {
        "a.com": (3, 3, 1000),
        "b.com": (3, 3, 1000),
        "c.com": (3, 3, 1000),
        "d.com": (4, 3, 500),
    }


def test_mirror_hosts_jaccard_hand_graph(spark):
    """m1/m2 are perfect mirrors (same 3 targets -> 1000 milli); m3
    shares 1 of its 2 targets with m1 (1/(3+2-1) = 250 milli); the
    sub-threshold pair m3-m4 (0 shared) never appears."""
    edges = []
    for s in ("m1.com", "m2.com"):
        for t in ("t1.net", "t2.net", "t3.net"):
            edges.append((s, t, 1))
    edges += [("m3.org", "t1.net", 1), ("m3.org", "x.net", 1),
              ("m4.org", "y.net", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {
        (r["h1"], r["h2"]): (r["n_shared"], r["jaccard_milli"])
        for r in GR.mirror_hosts(df).collect()
    }
    assert got == {
        ("m1.com", "m2.com"): (3, 1000),
        ("m1.com", "m3.org"): (1, 250),
        ("m2.com", "m3.org"): (1, 250),
    }


# ---------------------------------------------------------------------------
# TrustRank / BFS depth / k-core / degree mixing (round-4 additions)
# ---------------------------------------------------------------------------

def _trustrank_py(edges, seeds, iters, scale=SCALE, d_num=85, d_den=100):
    """Pure-Python replay of graph.trustrank's exact update rule."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    seeds = set(seeds) & set(nodes)
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    rank = {n: (scale if n in seeds else 0) for n in nodes}
    for _ in range(iters):
        contrib = {n: 0 for n in nodes}
        for s, d, w in edges:
            contrib[d] += (rank[s] * w) // outw[s]
        dang = sum(rank[n] for n in nodes if n not in outw)
        each = dang // len(seeds)
        rank = {
            n: (
                (d_den - d_num) * scale * (n in seeds)
                + d_num * (contrib[n] + (n in seeds) * each)
            )
            // d_den
            for n in nodes
        }
    return rank


def test_trustrank_matches_python_replay(spark, hand_edges):
    seeds = spark.createDataFrame([("A",), ("D",)], "node string")
    got = {
        r["node"]: r["rank"]
        for r in GR.trustrank(
            hand_edges, seeds, iters=4, scale=SCALE
        ).collect()
    }
    want = _trustrank_py(
        [(r["src"], r["dst"], r["w"]) for r in hand_edges.collect()],
        ["A", "D"],
        4,
    )
    assert got == want  # exact, no tolerance
    # D is a dangling SEED: its teleport share keeps it nonzero, while
    # trust decays strictly away from the seed set
    assert got["D"] > 0


def test_trustrank_unreachable_scores_zero(spark):
    # spam island E->F has no path from the seed: rank exactly 0
    rows = [("A", "B", 1), ("E", "F", 1)]
    edges = spark.createDataFrame(rows, "src string, dst string, w long")
    seeds = spark.createDataFrame([("A",)], "node string")
    got = {
        r["node"]: r["rank"]
        for r in GR.trustrank(edges, seeds, iters=3, scale=SCALE).collect()
    }
    assert got["E"] == 0 and got["F"] == 0
    assert got["A"] > 0 and got["B"] > 0


def test_trustrank_empty_seed_fails_loud(spark, hand_edges):
    seeds = spark.createDataFrame([("ZZZ",)], "node string")
    with pytest.raises(ValueError, match="no seed node"):
        GR.trustrank(hand_edges, seeds, iters=1)


def test_bfs_depth_hand_case(spark):
    # A -> B -> C -> D chain plus shortcut A -> C; E isolated target of D
    rows = [
        ("A", "B", 1),
        ("B", "C", 1),
        ("C", "D", 1),
        ("A", "C", 5),
        ("D", "E", 1),
    ]
    edges = spark.createDataFrame(rows, "src string, dst string, w long")
    seeds = spark.createDataFrame([("A",)], "node string")
    got = {
        r["node"]: r["depth"]
        for r in GR.bfs_depth(edges, seeds, max_depth=2).collect()
    }
    # shortcut wins over the chain; D is 2 via C; E needs 3 hops -> absent
    assert got == {"A": 0, "B": 1, "C": 1, "D": 2}


def test_kcore_peels_tendrils(spark):
    # K4 on A,B,C,D (every pair, as directed edges one way) with a
    # tendril D -> E -> F: the 3-core is exactly the K4, discovered in
    # 2 peel rounds; surviving degrees are all 3
    k4 = [("A", "B"), ("A", "C"), ("A", "D"), ("B", "C"), ("B", "D"), ("C", "D")]
    rows = [(a, b, 1) for a, b in k4] + [("D", "E", 1), ("E", "F", 1)]
    edges = spark.createDataFrame(rows, "src string, dst string, w long")
    got = {
        r["node"]: r["deg"]
        for r in GR.kcore(edges, k=3, rounds=2).collect()
    }
    assert got == {"A": 3, "B": 3, "C": 3, "D": 3}
    # convergence pin: one more round changes nothing
    again = {
        r["node"]: r["deg"]
        for r in GR.kcore(edges, k=3, rounds=3).collect()
    }
    assert again == got


def test_degree_mixing_hand_sums(spark):
    # path A - B - C (undirected degrees: A=1, B=2, C=1)
    rows = [("A", "B", 1), ("B", "C", 1)]
    edges = spark.createDataFrame(rows, "src string, dst string, w long")
    row = GR.degree_mixing(edges).collect()[0]
    # edges (1,2) and (2,1): m=2, s_jk=2+2, s_sum=3+3, s_sq=5+5
    assert (row["m"], row["s_jk"], row["s_sum"], row["s_sq"]) == (2, 4, 6, 10)


def test_rendezvous_shards_matches_python_and_resize_stable(spark):
    """HRW assignment matches the hashlib twin exactly, and dropping the
    top shard moves ONLY that shard's hosts (the resize-stability HRW
    exists for — mod-hash would reshuffle ~7/8 of them)."""
    import hashlib

    urls = [f"https://h{i}.example/p" for i in range(40)]
    frontier = spark.createDataFrame([(u,) for u in urls], "url string")

    def hrw(host, n):
        return max(
            range(n),
            key=lambda s: hashlib.sha256(f"{host}|{s}".encode()).hexdigest(),
        )

    got8 = {r["url"]: (r["host"], r["shard"])
            for r in GR.rendezvous_shards(frontier, n_shards=8).collect()}
    got7 = {r["url"]: r["shard"]
            for r in GR.rendezvous_shards(frontier, n_shards=7).collect()}
    assert len(set(v[1] for v in got8.values())) > 1  # spread, not constant
    for u in urls:
        host, s8 = got8[u]
        assert s8 == hrw(host, 8), (u, host)
        assert got7[u] == hrw(host, 7)
        if s8 != 7:  # survivor keeps its own max -> shard unchanged
            assert got7[u] == s8


def test_fetch_budget_hamilton_exact(spark):
    """Largest-remainder apportionment replayed by hand, sum == budget
    exactly, tie-break shard ASC, zero-budget edge."""
    urls = [(f"https://h{i}.example/p{j}",) for i in range(12)
            for j in range((i % 3) + 1)]
    frontier = spark.createDataFrame(urls, "url string")
    out = {r.shard: r for r in
           GR.fetch_budget(frontier, budget=10, n_shards=4).collect()}
    total = sum(r.pending for r in out.values())
    assert sum(r.quota for r in out.values()) == 10
    # replay Hamilton by hand on the observed pendings
    base = {s: (10 * r.pending) // total for s, r in out.items()}
    rem = {s: (10 * r.pending) % total for s, r in out.items()}
    left = 10 - sum(base.values())
    order = sorted(out, key=lambda s: (-rem[s], s))
    extra = {s: (1 if order.index(s) < left else 0) for s in out}
    for s, r in out.items():
        assert (r.base, r.extra, r.quota) == (
            base[s], extra[s], base[s] + extra[s]
        ), s
    # zero budget: all quotas zero, still one row per occupied shard
    z = GR.fetch_budget(frontier, budget=0, n_shards=4).collect()
    assert sum(r.quota for r in z) == 0 and len(z) == len(out)
