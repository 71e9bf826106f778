"""Spatial operator semantics: PIP paths agree, ring-kNN is exact at safe
parameters, raster zoom-out equals direct aggregation."""

from __future__ import annotations

from fileverification_spark import grid
from fileverification_spark.operators import spatial as S


def _as_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_pip_pandas_equals_sql_path(spark, pages_small):
    polys = S.default_polygons()
    a = _as_set(S.pip_join(pages_small, polys, res=4), ["poly_id", "url"])
    b = _as_set(S.pip_join_sql(pages_small, polys, res=4), ["poly_id", "url"])
    assert a == b
    assert len(a) > 0  # polygons cover a nontrivial share of the globe


def test_pip_prefilter_is_conservative(spark, pages_small):
    # exact test over ALL pages (no prefilter) must equal prefiltered result
    polys = S.default_polygons()
    import pyspark.sql.functions as F

    inside = S._pip_pandas_udf(polys)
    cov = spark.createDataFrame(
        [(p.poly_id,) for p in polys], ["poly_id"]
    )
    full = (
        pages_small.crossJoin(F.broadcast(cov))
        .where(inside(F.col("poly_id"), F.col("lat"), F.col("lon")))
        .select("poly_id", "url")
    )
    a = _as_set(full, ["poly_id", "url"])
    b = _as_set(S.pip_join(pages_small, polys, res=4), ["poly_id", "url"])
    assert a == b


def test_knn_ring_matches_bruteforce(spark, pages_small):
    qs = S.default_query_points(6)
    k = 5
    exact = _as_set(
        S.knn_bruteforce(pages_small, qs, k), ["query_id", "rank", "url"]
    )
    ring = _as_set(
        S.knn_ring(pages_small, qs, k, res=3, rings=4),
        ["query_id", "rank", "url"],
    )
    assert exact == ring
    assert len(exact) == len(qs) * k


def test_raster_zoom_equals_direct(spark, pages_small):
    fine = S.raster_per_lang(pages_small, res=5)
    zoomed = _as_set(
        S.raster_zoom(fine, res=5, out_res=3),
        ["cell", "n_pages", "n_langs", "lang_hist"],
    )
    direct = _as_set(
        S.raster_cells(pages_small, res=3),
        ["cell", "n_pages", "n_langs", "lang_hist"],
    )
    assert zoomed == direct


def test_raster_pyramid_equals_per_res(spark, pages_small):
    """The hierarchical pyramid (one pages scan, parent levels folded
    from child levels) must equal the naive per-res re-aggregation at
    EVERY level, including the degenerate one-level pyramid."""
    pyr = S.raster_pyramid(pages_small, finest=5, coarsest=2)
    cols = ["cell", "n_pages", "n_langs", "lang_hist"]
    for res in (5, 4, 3, 2):
        got = _as_set(pyr.where(pyr.res == res), cols)
        want = _as_set(S.raster_cells(pages_small, res), cols)
        assert got == want, res
    one = S.raster_pyramid(pages_small, finest=3, coarsest=3)
    assert _as_set(one, cols) == _as_set(S.raster_cells(pages_small, 3), cols)
    import pytest

    with pytest.raises(ValueError):
        S.raster_pyramid(pages_small, finest=2, coarsest=5)


def test_raster_total_preserved(spark, pages_small):
    import pyspark.sql.functions as F

    n = pages_small.count()
    for res in (0, 3, 6):
        total = (
            S.raster_cells(pages_small, res)
            .agg(F.sum("n_pages").alias("t"))
            .first()["t"]
        )
        assert total == n


def test_ring_guarantee_radius_certifies_exactness(spark, pages_small):
    """When every query's k-th neighbour lies within the guarantee
    radius, knn_ring must equal brute force (and does on this corpus)."""
    import math

    from pyspark.sql import functions as F

    from fileverification_spark.operators import spatial as S

    qpts = S.default_query_points(5)
    k, res, rings = 5, 3, 4
    radius = S.ring_guarantee_radius(res, rings)
    # brute-force k-th distance per query
    exact = S.knn_bruteforce(pages_small, qpts, k)
    ring = S.knn_ring(pages_small, qpts, k, res=res, rings=rings)
    e = {(r["query_id"], r["rank"]): r["url"] for r in exact.collect()}
    g = {(r["query_id"], r["rank"]): r["url"] for r in ring.collect()}
    # independent certificate: recompute k-th dist from the page table
    pts = {
        (q, la, lo): sorted(
            math.hypot(r["lat"] - la, r["lon"] - lo)
            for r in pages_small.select("lat", "lon").collect()
        )[k - 1]
        for q, la, lo in qpts
    }
    for (q, la, lo), dk in pts.items():
        if dk <= radius:
            for rank in range(1, k + 1):
                assert g[(q, rank)] == e[(q, rank)]


def test_knn_adaptive_exact(spark, pages_small):
    from fileverification_spark.operators import spatial as S

    qpts = S.default_query_points(6)
    k = 5
    exact = {
        (r["query_id"], r["rank"]): r["url"]
        for r in S.knn_bruteforce(pages_small, qpts, k).collect()
    }
    # start deliberately too narrow: the driver loop must widen until
    # certified (or brute-force the stragglers) and end exact
    got = {
        (r["query_id"], r["rank"]): r["url"]
        for r in S.knn_adaptive(pages_small, qpts, k, res=3, rings=1).collect()
    }
    assert got == exact


def test_rasterize_agrees_with_pip_udf(spark):
    # vector->raster mask centers must be exactly the points the pandas-
    # UDF ray caster accepts: feed each candidate cell center through
    # pip_join (as synthetic pages) and compare the surviving sets
    from pyspark.sql import functions as F

    polys = S.default_polygons()
    res = 5
    mask = S.rasterize_polygons(spark, polys, res)
    got = {(r["poly_id"], r["cell"]) for r in mask.collect()}
    assert got  # non-vacuous

    cov = S.polygon_covering(polys, res)
    centers = spark.createDataFrame(
        [(f"{pid}:{cell}", cell) for pid, cell in cov], ["url", "cell"]
    )
    clat, clon = grid.cell_center(F.col("cell"), res)
    pages = centers.select("url", "cell", clat.alias("lat"), clon.alias("lon"))
    via_pip = {
        (r["poly_id"], int(r["url"].split(":")[1]))
        for r in S.pip_join(pages, polys, res=res).collect()
        if r["poly_id"] == r["url"].split(":")[0]
    }
    assert got == via_pip


def test_distance_join_matches_bruteforce(spark, pages_small):
    """Bucketed pair join == O(n^2) cross join, at an auto-chosen res and
    at a deliberately finer-than-default res (still covered by one ring)."""
    from pyspark.sql import functions as F

    radius = 3.0
    a = pages_small.select(
        F.col("url").alias("l_url"),
        F.col("lat").alias("l_lat"),
        F.col("lon").alias("l_lon"),
    )
    b = pages_small.select(
        F.col("url").alias("r_url"),
        F.col("lat").alias("r_lat"),
        F.col("lon").alias("r_lon"),
    )
    dy = F.col("l_lat") - F.col("r_lat")
    dx = F.col("l_lon") - F.col("r_lon")
    want = _as_set(
        a.crossJoin(b)
        .where(F.col("l_url") < F.col("r_url"))
        .withColumn("dist2", dy * dy + dx * dx)
        .where(F.col("dist2") <= radius * radius)
        .select("l_url", "r_url"),
        ["l_url", "r_url"],
    )
    assert want, "fixture must produce at least one close pair"
    # None = auto (finest guaranteed res); also a deliberately COARSER
    # res (bigger buckets, same answer) — a finer one would violate the
    # one-ring cover and correctly raises
    for res in (None, S.distance_join_res(radius) - 1):
        got = _as_set(
            S.distance_self_join(pages_small, radius, res=res),
            ["l_url", "r_url"],
        )
        assert got == want
    import pytest

    with pytest.raises(ValueError):
        S.distance_self_join(pages_small, radius,
                             res=S.distance_join_res(radius) + 2)
    with pytest.raises(ValueError):
        S.distance_join_res(120.0)


def test_distance_join_res_guarantee():
    """Chosen res always keeps one Chebyshev ring covering the radius;
    radii beyond the res-1 extent are an explicit error, not a silently
    broken cover."""
    import pytest

    for radius in (0.01, 0.5, 1.0, 3.0, 10.0, 90.0):
        res = S.distance_join_res(radius)
        assert 1 <= res <= grid.MAX_RES
        assert 180.0 / (1 << res) >= radius, (radius, res)
    for radius in (90.001, 179.0, 400.0):
        with pytest.raises(ValueError):
            S.distance_join_res(radius)


def test_distance_join_plan_has_no_cartesian(spark, pages_small):
    """The scale guarantee: a real equi-join on the bucket key, never a
    cartesian/broadcast-nested-loop expansion."""
    from fileverification_spark.plans.explain import formatted_plan

    plan = formatted_plan(S.distance_self_join(pages_small, 3.0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # equi-join on the bucket key; at test scale AQE may elect broadcast
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_compact_uncompact_roundtrip(spark):
    """uncompact(compact(mask)) == mask on the polygon raster mask."""
    mask = S.rasterize_polygons(spark, S.default_polygons(), 5).select("cell")
    comp = S.compact_cells(mask, 5)
    back = S.uncompact_cells(comp, 5)
    assert _as_set(back, ["cell"]) == _as_set(mask, ["cell"])


def test_compact_is_minimal_and_collapses(spark):
    """No complete 4-sibling group survives compaction, and a full parent
    block actually collapses all the way."""
    from pyspark.sql import functions as F

    from fileverification_spark import grid

    mask = S.rasterize_polygons(spark, S.default_polygons(), 5).select("cell")
    comp = S.compact_cells(mask, 5)
    rows = [r.cell for r in comp.collect()]
    assert len(rows) == len(set(rows))
    by_parent: dict = {}
    for c in rows:
        r = c >> 58
        if r == 0:
            continue
        by_parent.setdefault(grid.py_cell_parent(c, r - 1), []).append(c)
    for parent, kids in by_parent.items():
        assert len(kids) < 4, f"complete sibling group left under {parent}"

    # a full 2x2 block at res 2 (all 4 children of one res-1 parent)
    full = spark.createDataFrame(
        [(2 * grid.RES_MULT + la * grid.LAT_MULT + lo,)
         for la in (2, 3) for lo in (2, 3)],
        ["cell"],
    )
    got = [r.cell for r in S.compact_cells(full, 2).collect()]
    assert got == [1 * grid.RES_MULT + 1 * grid.LAT_MULT + 1]


def test_uncompact_counts_by_depth(spark):
    """A cell at res r expands to exactly 4^(target-r) descendants."""
    from fileverification_spark import grid

    cells = spark.createDataFrame(
        [(0 * grid.RES_MULT + 0 * grid.LAT_MULT + 1,),
         (2 * grid.RES_MULT + 1 * grid.LAT_MULT + 3,)],
        ["cell"],
    )
    out = S.uncompact_cells(cells, 4)
    assert out.count() == 4 ** 4 + 4 ** 2
    # all outputs are at the target res and distinct
    rows = [r.cell for r in out.collect()]
    assert len(rows) == len(set(rows))
    assert all(c >> 58 == 4 for c in rows)


def test_bbox_query_equals_plain_filter(spark, pages_small):
    """Covering prefilter is semantics-free: bbox_query == exact bounds
    filter with no prefilter, for boxes crossing cell boundaries."""
    from pyspark.sql import functions as F

    for box in ((-35.0, 20.0, -60.0, 30.0), (-0.1, 0.1, -0.1, 0.1),
                (80.0, 90.0, 170.0, 180.0)):
        la0, la1, lo0, lo1 = box
        want = _as_set(
            pages_small.where(
                (F.col("lat") >= la0) & (F.col("lat") <= la1)
                & (F.col("lon") >= lo0) & (F.col("lon") <= lo1)
            ).select("url"),
            ["url"],
        )
        got = _as_set(S.bbox_query(pages_small, *box), ["url"])
        assert got == want, box


def test_zonal_stats_consistent_with_pip(spark, pages_small):
    from pyspark.sql import functions as F

    polys = S.default_polygons()
    pip = S.pip_join(pages_small, polys, res=4, keep=("lang",))
    zs = S.zonal_stats(pip)
    # per-polygon n_pages must equal the raw pip row count per polygon
    want = {
        (r["poly_id"], r["n"]) for r in
        pip.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {(r["poly_id"], r["n_pages"]) for r in zs.collect()}
    assert got == want
    # histogram entries sum to n_pages
    for r in zs.collect():
        total = sum(int(kv.split(":")[1]) for kv in r["lang_hist"].split(","))
        assert total == r["n_pages"]
        assert len(r["lang_hist"].split(",")) == r["n_langs"]


def test_top_lang_per_cell_semantics_and_plan(spark, pages_small):
    from pyspark.sql import functions as F

    from fileverification_spark.plans.explain import formatted_plan

    res = 3
    top = S.top_lang_per_cell(pages_small, res)
    rows = top.collect()
    assert len(rows) == len({r["cell"] for r in rows})  # one row per cell
    # cross-check against the full per-cell histogram
    per = (
        pages_small.select(
            grid.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell"),
            "lang",
        )
        .groupBy("cell", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    best: dict = {}
    for r in per:
        key = r["cell"]
        cand = (-r["cnt"], r["lang"])
        if key not in best or cand < best[key]:
            best[key] = cand
    for r in rows:
        assert (-r["cnt"], r["top_lang"]) == best[r["cell"]]
    # rank-1 filter should be pushed into the window (WindowGroupLimit)
    assert "WindowGroupLimit" in formatted_plan(top)


def test_nn_probe_res_tracks_density(spark, pages_small):
    """The density-adaptive ladder pick (VERDICT r3 #5): finer res for
    denser right sides, pinned on two uniform densities plus the tiny
    fixture (which exercises the thin-sample full-reprobe fallback)."""
    from pyspark.sql import functions as F

    def uniform_points(n):
        u = F.col("id").cast("string")
        h1 = F.abs(F.hash(u)).cast("bigint") % 1000000
        h2 = F.abs(F.hash(F.concat(u, F.lit("x")))).cast("bigint") % 1000000
        return spark.range(n).select(
            u.alias("url"),
            (h1 / 1000000.0 * 180.0 - 90.0).alias("lat"),
            (h2 / 1000000.0 * 360.0 - 180.0).alias("lon"),
        )

    # 100k uniform points: res 8 intensity ~0.76 < 2, res 7 ~3.05 -> 7
    assert S.nn_probe_res(uniform_points(100_000)) == 7
    # 400k (the bench density): res 8 intensity ~3.05 >= 2 -> 8, the
    # level the r3 bench measured fastest by hand
    assert S.nn_probe_res(uniform_points(400_000)) == 8
    # 500-row fixture: the 1/64 sample is too thin (<256 rows), so the
    # probe re-runs unsampled and picks a coarse level
    assert S.nn_probe_res(pages_small) == 3


def test_nn_join_matches_bruteforce(spark, pages_small):
    """Ring-escalation NN join == exact window-over-cross-join, including
    when forced through several escalation levels (coarse start res)."""
    from pyspark.sql import functions as F

    a = pages_small.select("url", "lat", "lon")
    b = pages_small.select(
        F.col("url").alias("nn_url"),
        F.col("lat").alias("r_lat"),
        F.col("lon").alias("r_lon"),
    )
    dy = F.col("lat") - F.col("r_lat")
    dx = F.col("lon") - F.col("r_lon")
    from pyspark.sql import Window as W

    w = W.partitionBy("url").orderBy(F.col("dist2").asc(), F.col("nn_url").asc())
    want = {
        (r["url"], r["nn_url"])
        for r in a.crossJoin(b)
        .where(F.col("url") != F.col("nn_url"))
        .withColumn("dist2", dy * dy + dx * dx)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .collect()
    }
    for ladder in (None, (8, 6, 4), (2,)):
        got = {
            (r["url"], r["nn_url"])
            for r in S.nn_join(pages_small, pages_small, resolutions=ladder).collect()
        }
        assert got == want, ladder
    # every left row gets exactly one answer
    assert len(want) == pages_small.count()


def test_nn_join_tail_handles_sparse_right(spark, pages_small):
    """A 3-row right side forces most matches through the cartesian tail
    (few cells occupied) — result must still be the true nearest."""
    from pyspark.sql import functions as F

    right = pages_small.orderBy("url").limit(3)
    got = {r["url"]: r["nn_url"] for r in S.nn_join(pages_small, right).collect()}
    rrows = [(r["url"], r["lat"], r["lon"]) for r in right.collect()]
    for r in pages_small.collect():
        best = min(
            ((ru, (r["lat"] - la) ** 2 + (r["lon"] - lo) ** 2)
             for ru, la, lo in rrows if ru != r["url"]),
            key=lambda t: (t[1], t[0]),
        )
        assert got[r["url"]] == best[0]


def test_nn_join_escalation_before_cartesian(spark):
    """Two points 2.2 cells apart at res 6: the k=1 disk misses, the k=4
    escalation disk finds AND certifies (dist < 4-ring guarantee) — the
    cartesian tail stays EMPTY. With escalation disabled the same ladder
    concedes both rows to the crossJoin."""
    dlon = 360.0 / (1 << 7)  # res-6 cell width in lon
    rows = [("a", 10.0, 10.0), ("b", 10.0, 10.0 + 2.2 * dlon)]
    df = spark.createDataFrame(rows, "url string, lat double, lon double")
    out, tail = S.nn_join_with_tail(df, df, resolutions=(6,))
    assert tail.count() == 0
    assert {(r["url"], r["nn_url"]) for r in out.collect()} == {
        ("a", "b"),
        ("b", "a"),
    }
    out0, tail0 = S.nn_join_with_tail(df, df, resolutions=(6,), escalate_k=())
    assert out0.count() == 0 and tail0.count() == 2


def test_nn_join_bench_density_tail_empty(spark, pages_small):
    """At the bench battery's cell occupancy (~3 rows/cell: 500 pages at
    res 3 ≈ 400k pages at res 8) the escalation ladder certifies every
    row — the pathological crossJoin tail must see zero rows."""
    out, tail = S.nn_join_with_tail(pages_small, pages_small, resolutions=(3,))
    assert tail.count() == 0
    assert out.count() == pages_small.count()


def test_raster_diff_identities(spark, pages_small):
    from pyspark.sql import functions as F

    even = pages_small.where(F.col("doc_id") % 2 == 0)
    odd = pages_small.where(F.col("doc_id") % 2 == 1)
    ra, rb = S.raster_cells(even, 3), S.raster_cells(odd, 3)
    d = S.raster_diff(ra, rb)
    rows = d.collect()
    # totals reconcile with the inputs
    assert sum(r["n_a"] for r in rows) == even.count()
    assert sum(r["n_b"] for r in rows) == odd.count()
    assert all(r["delta"] == r["n_a"] - r["n_b"] for r in rows)
    # self-diff is all-zero
    z = S.raster_diff(ra, ra).collect()
    assert all(r["delta"] == 0 for r in z) and len(z) > 0


def test_uncompact_rejects_finer_cells_and_honors_col(spark):
    import pytest

    finer = spark.createDataFrame(
        [(6 * grid.RES_MULT + 1 * grid.LAT_MULT + 1,)], ["c"]
    )
    with pytest.raises(Exception, match="finer than target_res"):
        S.uncompact_cells(finer, 5, col="c").collect()
    ok = spark.createDataFrame(
        [(2 * grid.RES_MULT + 1 * grid.LAT_MULT + 3,)], ["c"]
    )
    assert S.uncompact_cells(ok, 4, col="c").count() == 16


def test_nn_join_cross_table_same_key(spark, pages_small):
    """Cross-table NN with overlapping keys: exclude_same_key=False must
    return the true nearest even when it shares the url."""
    from pyspark.sql import functions as F

    left = pages_small.limit(20).select("url", "lat", "lon")
    # epoch B = same keys, slightly shifted coordinates -> for each left
    # row its own shifted twin is (almost surely) the nearest
    right = left.select(
        "url",
        (F.col("lat") + F.lit(1e-4)).alias("lat"),
        "lon",
    )
    got = {r["url"]: r["nn_url"]
           for r in S.nn_join(left, right, resolutions=(5,),
                              exclude_same_key=False).collect()}
    assert got and all(u == v for u, v in got.items())
    # default self-exclusion: twin is skipped, answers differ
    excl = {r["url"]: r["nn_url"]
            for r in S.nn_join(left, right, resolutions=(2,)).collect()}
    assert all(u != v for u, v in excl.items())


def test_hotspots_components(spark, no_broadcast):
    """Two adjacent hot cells merge; an isolated one keeps its own label;
    a pair straddling the longitude wrap seam merges too."""
    from pyspark.sql import functions as F

    res, mc = 3, 3
    dlat, dlon = 180.0 / (1 << res), 360.0 / (1 << (res + 1))

    def pts(la_idx, lo_idx, n):
        lat = -90.0 + (la_idx + 0.5) * dlat
        lon = -180.0 + (lo_idx + 0.5) * dlon
        return [(f"u{la_idx}_{lo_idx}_{i}", lat, lon) for i in range(n)]

    rows = (
        pts(1, 1, 3) + pts(1, 2, 4)      # adjacent pair -> one component
        + pts(4, 8, 5)                   # isolated
        + pts(6, 0, 3) + pts(6, 15, 3)   # wrap seam (lon 0 and nlon-1)
        + pts(3, 4, 2)                   # below threshold -> not hot
    )
    pages = spark.createDataFrame(rows, ["url", "lat", "lon"])
    got = {r["cell"]: r["hotspot_id"] for r in S.hotspots(pages, res, mc).collect()}

    def cell(la, lo):
        return res * grid.RES_MULT + la * grid.LAT_MULT + lo

    assert cell(3, 4) not in got
    assert got[cell(1, 1)] == got[cell(1, 2)] == cell(1, 1)
    assert got[cell(4, 8)] == cell(4, 8)
    assert got[cell(6, 0)] == got[cell(6, 15)] == cell(6, 0)
    assert len(got) == 5

    # the distributed label-propagation path computes identical components
    def dist():
        return {
            r["cell"]: r["hotspot_id"]
            for r in S.hotspots_distributed(pages, res, mc).collect()
        }

    assert dist() == got
    # an isolated hot cell has no edge to carry a message: its own label
    # rides through every sweep, broadcast or shuffled label side alike
    with no_broadcast():
        shuffled = dist()
    assert shuffled[cell(4, 8)] == cell(4, 8)
    assert shuffled == got


def test_hotspots_driver_guard(spark, pages_small):
    """Past max_driver_cells the driver path fails loud instead of
    collecting an unbounded hot set (ADVICE r02 #3)."""
    import pytest

    with pytest.raises(ValueError, match="hotspots_distributed"):
        S.hotspots(pages_small, 6, 1, max_driver_cells=3)


def test_hotspots_distributed_no_driver_collect(spark, pages_small):
    """The scale path must never ship hot-set rows to the driver: patch
    DataFrame.collect to explode for the duration (count() and
    localCheckpoint() don't route through it) and pin agreement with the
    recursive-closure semantics on real data (VERDICT r02 #4)."""
    from pyspark.sql import DataFrame

    res, mc = 4, 4
    expected = {
        (r["cell"], r["n_pages"], r["hotspot_id"])
        for r in S.hotspots(pages_small, res, mc).collect()
    }
    orig = DataFrame.collect

    def boom(self):
        raise AssertionError("driver collect on the hotspots scale path")

    DataFrame.collect = boom
    try:
        out = S.hotspots_distributed(pages_small, res, mc)
    finally:
        DataFrame.collect = orig
    assert {
        (r["cell"], r["n_pages"], r["hotspot_id"]) for r in out.collect()
    } == expected
    assert expected  # non-vacuous: sf0.001 has hot cells at these params


# ---------------------------------------------------------------------------
# Geodesic metric (r3)
# ---------------------------------------------------------------------------

def test_haversine_known_values(spark):
    import math

    from pyspark.sql import functions as F

    rows = spark.range(1).select(
        S.haversine_km(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(1.0)).alias("eq"),
        S.haversine_km(F.lit(60.0), F.lit(0.0), F.lit(60.0), F.lit(1.0)).alias("lat60"),
        S.haversine_km(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(180.0)).alias("anti"),
        S.haversine_km(F.lit(12.3), F.lit(45.6), F.lit(12.3), F.lit(45.6)).alias("zero"),
    ).first()
    one_deg = math.pi * S.EARTH_RADIUS_KM / 180.0
    assert abs(rows.eq - one_deg) < 1e-6
    # a degree of longitude at 60N is ~half an equatorial degree
    assert abs(rows.lat60 - rows.eq * math.cos(math.radians(60.0))) < 0.01
    assert abs(rows.anti - math.pi * S.EARTH_RADIUS_KM) < 1e-6
    assert rows.zero == 0.0


def test_knn_geodesic_ranks_by_great_circle_not_planar(spark):
    # at 80N, 5 deg of longitude is shorter than 1.5 deg of latitude on
    # the sphere (5*cos(80) ~ 0.87 deg equivalent) but longer in planar
    # degrees — the two metrics must disagree on the winner
    pages = spark.createDataFrame(
        [("east", 80.0, 5.0), ("south", 78.5, 0.0)], ["url", "lat", "lon"]
    )
    top_geo = S.knn_geodesic(pages, [(0, 80.0, 0.0)], 1).first()
    top_planar = S.knn_bruteforce(pages, [(0, 80.0, 0.0)], 1).first()
    assert top_geo.url == "east"
    assert top_planar.url == "south"


def test_knn_geodesic_contract_shape(spark):
    pg = spark.createDataFrame(
        [(f"u{i}", float(i), float(i)) for i in range(20)],
        ["url", "lat", "lon"],
    )
    out = S.knn_geodesic(pg, [(0, 0.0, 0.0), (1, 10.0, 10.0)], 3)
    rows = out.collect()
    assert len(rows) == 6
    for qid in (0, 1):
        ranked = sorted(
            (r for r in rows if r.query_id == qid), key=lambda r: r.rank
        )
        assert [r.rank for r in ranked] == [1, 2, 3]
        dists = [r.dist_km for r in ranked]
        assert dists == sorted(dists)


# ---------------------------------------------------------------------------
# Polygon geometry stats (r3)
# ---------------------------------------------------------------------------

def test_polygon_stats_hand_computed(spark):
    # unit square (0,0)-(1,1): area 1, centroid (0.5, 0.5); ccw triangle
    # (0,0),(4,0),(0,3): area 6, centroid (4/3, 1); degenerate line ->
    # area 0, NULL centroid
    polys = spark.createDataFrame(
        [
            ("sq", "POLYGON ((0.0 0.0, 1.0 0.0, 1.0 1.0, 0.0 1.0, 0.0 0.0))"),
            ("tri", "POLYGON ((0.0 0.0, 4.0 0.0, 0.0 3.0, 0.0 0.0))"),
            ("line", "POLYGON ((0.0 0.0, 2.0 2.0, 0.0 0.0))"),
        ],
        ["poly_id", "wkt"],
    )
    rows = {r.poly_id: r for r in S.polygon_stats(polys).collect()}
    sq, tri, line = rows["sq"], rows["tri"], rows["line"]
    assert sq.n_vertices == 4 and sq.area_deg2 == 1.0
    assert (sq.centroid_lon, sq.centroid_lat) == (0.5, 0.5)
    assert tri.area_deg2 == 6.0
    assert abs(tri.centroid_lon - 4.0 / 3.0) < 1e-6 and tri.centroid_lat == 1.0
    assert line.area_deg2 == 0.0
    assert line.centroid_lon is None and line.centroid_lat is None


def test_polygon_stats_orientation_invariant(spark):
    # clockwise ring gives the same absolute area and centroid
    polys = spark.createDataFrame(
        [
            ("ccw", "POLYGON ((0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0, 0.0 0.0))"),
            ("cw", "POLYGON ((0.0 0.0, 0.0 2.0, 2.0 2.0, 2.0 0.0, 0.0 0.0))"),
        ],
        ["poly_id", "wkt"],
    )
    rows = {r.poly_id: r for r in S.polygon_stats(polys).collect()}
    assert rows["ccw"].area_deg2 == rows["cw"].area_deg2 == 4.0
    assert rows["ccw"].centroid_lon == rows["cw"].centroid_lon == 1.0
    assert rows["ccw"].centroid_lat == rows["cw"].centroid_lat == 1.0


def test_poly_wkt_roundtrip_default_polygons(spark):
    # the serialized default polygons parse back to their vertex count,
    # and centroids land at the construction centers
    polys = spark.createDataFrame(
        [(p.poly_id, S.poly_wkt(p)) for p in S.default_polygons()],
        ["poly_id", "wkt"],
    )
    by_id = {p.poly_id: p for p in S.default_polygons()}
    for r in S.polygon_stats(polys).collect():
        p = by_id[r.poly_id]
        assert r.n_vertices == len(p.vertices)
        cy = sum(v[0] for v in p.vertices) / len(p.vertices)
        cx = sum(v[1] for v in p.vertices) / len(p.vertices)
        # regular polygons: vertex mean == area centroid
        assert abs(r.centroid_lat - cy) < 1e-4
        assert abs(r.centroid_lon - cx) < 1e-4
        assert r.area_deg2 > 0


# ---------------------------------------------------------------------------
# poly_intersection_join (registry vs registry)
# ---------------------------------------------------------------------------


def test_poly_intersection_join_semantics(spark):
    sq = lambda pid, la, lo, w: S.Polygon(
        pid, [(la, lo), (la + w, lo), (la + w, lo + w), (la, lo + w)]
    )
    a = [sq("a0", 0.0, 0.0, 20.0), sq("a1", -60.0, -120.0, 20.0)]
    b = [
        sq("b_same", 0.0, 0.0, 20.0),       # identical to a0 -> iou 1.0
        sq("b_half", 0.0, 10.0, 20.0),      # half-shifted vs a0
        sq("b_far", 60.0, 120.0, 20.0),     # disjoint from both
    ]
    out = {
        (r["poly_a"], r["poly_b"]): r
        for r in S.poly_intersection_join(spark, a, b, 6).collect()
    }
    assert out[("a0", "b_same")]["iou"] == 1.0
    half = out[("a0", "b_half")]
    assert 0.0 < half["iou"] < 1.0
    # half-overlap of equal-area squares: iou = 1/3 up to mask rounding
    # (res 6 cells are 2.8 deg wide vs the 20 deg square -> coarse mask)
    assert abs(half["iou"] - 1.0 / 3.0) < 0.1
    assert not any(pb == "b_far" for (_, pb) in out)
    assert not any(pa == "a1" for (pa, _) in out)


def test_poly_intersection_join_refines_with_res(spark):
    """iou of the half-shifted pair approaches the true 1/3 as the mask
    resolution grows (discretization error oscillates, so pin the fine-
    res error bound, not per-step monotonicity)."""
    sq = lambda pid, la, lo, w: S.Polygon(
        pid, [(la, lo), (la + w, lo), (la + w, lo + w), (la, lo + w)]
    )
    a = [sq("a", 0.0, 0.0, 20.0)]
    b = [sq("b", 0.0, 10.0, 20.0)]
    errs = {
        res: abs(
            S.poly_intersection_join(spark, a, b, res).first()["iou"] - 1 / 3
        )
        for res in (6, 9)
    }
    assert errs[9] < errs[6]
    assert errs[9] < 0.01


def test_raster_smooth_hand_case(spark):
    """3 pages in one cell, 1 in an adjacent cell, 1 far away: the
    smooth_sum of each near cell includes the other; the far cell only
    itself."""
    from fileverification_spark import grid as G

    res = 3
    # cell centers: lat bucket height 180/8=22.5, lon width 360/16=22.5
    rows = (
        [(f"u{i}", 10.0, 10.0) for i in range(3)]    # cell A
        + [("v0", 10.0, 30.0)]                        # cell B, east nbr of A
        + [("w0", -80.0, -170.0)]                     # far corner
    )
    df = spark.createDataFrame(rows, "url string, lat double, lon double")
    out = {
        r["cell"]: (r["n_pages"], r["smooth_sum"], r["n_occupied_nbrs"])
        for r in S.raster_smooth(df, res).collect()
    }
    from pyspark.sql import functions as F

    enc = lambda lat, lon: spark.range(1).select(
        G.cell_encode(F.lit(lat), F.lit(lon), res).alias("c")
    ).first()["c"]
    a, b, w = enc(10.0, 10.0), enc(10.0, 30.0), enc(-80.0, -170.0)
    assert out[a] == (3, 4, 2)
    assert out[b] == (1, 4, 2)
    assert out[w] == (1, 1, 1)
    assert len(out) == 3


def test_raster_smooth_res_guard(spark):
    import pytest

    df = spark.createDataFrame([("u", 0.0, 0.0)],
                               "url string, lat double, lon double")
    with pytest.raises(ValueError, match="res >= 1"):
        S.raster_smooth(df, 0)


def test_raster_smooth_lon_wrap(spark):
    """Cells on either side of the antimeridian are neighbours."""
    res = 3
    df = spark.createDataFrame(
        [("e", 0.0, 179.0), ("w", 0.0, -179.0)],
        "url string, lat double, lon double",
    )
    rows = S.raster_smooth(df, res).collect()
    assert all(r["smooth_sum"] == 2 and r["n_occupied_nbrs"] == 2
               for r in rows)


def test_moran_stats_hand_grid(spark):
    # 2x2 checkerboard: perfect negative spatial autocorrelation
    rows = [(0, 0, 10), (1, 0, 2), (0, 1, 2), (1, 1, 10)]
    cells = spark.createDataFrame(rows, "x int, y int, n long")
    r = S.moran_stats(cells).collect()[0]
    assert r["n_cells"] == 4 and r["s_x"] == 24
    assert r["s_xx"] == 2 * (100 + 4)
    # rook pairs: each cell has 2 neighbors -> 8 ordered pairs, all
    # cross-colored so every product is 10*2
    assert r["w_pairs"] == 8
    assert r["s_adj_xy"] == 8 * 20
    assert r["s_adj_sum"] == 8 * 12
    # assembled Moran's I is exactly -1 on this grid
    mu = r["s_x"] / r["n_cells"]
    num = r["s_adj_xy"] - mu * r["s_adj_sum"] + r["w_pairs"] * mu * mu
    den = r["s_xx"] - 2 * mu * r["s_x"] + r["n_cells"] * mu * mu
    assert abs((r["n_cells"] / r["w_pairs"]) * num / den - (-1.0)) < 1e-12


def test_moran_stats_isolated_cells(spark):
    # no adjacency: w_pairs 0 and the adj sums coalesce to 0, not NULL
    rows = [(0, 0, 3), (5, 5, 7)]
    cells = spark.createDataFrame(rows, "x int, y int, n long")
    r = S.moran_stats(cells).collect()[0]
    assert (r["w_pairs"], r["s_adj_xy"], r["s_adj_sum"]) == (0, 0, 0)


def test_getis_ord_hand_grid(spark):
    # 2x2 block: every cell's queen kernel covers the whole grid, so
    # local_sum == s_x and nbrs == 4 for all four cells
    rows = [(0, 0, 10), (1, 0, 2), (0, 1, 2), (1, 1, 10)]
    cells = spark.createDataFrame(rows, "x int, y int, n long")
    out = {(r["x"], r["y"]): r for r in S.getis_ord_stats(cells).collect()}
    assert len(out) == 4
    for r in out.values():
        assert (r["nbrs"], r["local_sum"]) == (4, 24)
        assert (r["n_cells"], r["s_x"], r["s_xx"]) == (4, 24, 208)


def test_getis_ord_hot_center(spark):
    # 5x5 grid, hot center: the interior kernel is the full 3x3; a
    # corner kernel is its 2x2 quadrant; an edge kernel a 2x3 slab
    rows = [(x, y, 100 if (x, y) == (2, 2) else 1)
            for x in range(5) for y in range(5)]
    cells = spark.createDataFrame(rows, "x int, y int, n long")
    out = {(r["x"], r["y"]): r for r in S.getis_ord_stats(cells).collect()}
    c = out[(2, 2)]
    assert (c["nbrs"], c["local_sum"]) == (9, 108)
    corner = out[(0, 0)]
    assert (corner["nbrs"], corner["local_sum"]) == (4, 4)
    edge = out[(1, 0)]
    assert (edge["nbrs"], edge["local_sum"]) == (6, 6)
    # assembled z-score is largest at the hot center
    import math
    def z(r):
        nn, mu = r["n_cells"], r["s_x"] / r["n_cells"]
        s = math.sqrt(r["s_xx"] / nn - mu * mu)
        w = r["nbrs"]
        return (r["local_sum"] - mu * w) / (
            s * math.sqrt((nn * w - w * w) / (nn - 1)))
    assert z(c) == max(z(r) for r in out.values())
    assert z(c) > 1.0 > 0.0 > max(
        z(r) for (x, y), r in out.items() if abs(x - 2) > 1 or abs(y - 2) > 1
    )


def test_getis_ord_isolated_cell(spark):
    # a lone cell is its own kernel: nbrs 1, local_sum = own n
    cells = spark.createDataFrame([(7, 7, 5)], "x int, y int, n long")
    r = S.getis_ord_stats(cells).collect()[0]
    assert (r["nbrs"], r["local_sum"], r["n"]) == (1, 5, 5)


def test_getis_ord_plan_shape(spark):
    """Kernel adjacency must plan as EQUI-joins hash-partitioned on
    (x, y) — never a cartesian over cell pairs — and the 1-row global
    agg rides a BroadcastExchange. Four exchanges total: shifted side,
    cells side (reused across both hash joins), the (x, y) group-by
    (partial-aggregated), and the single-row global agg."""
    from fileverification_spark.plans import explain as X

    cells = spark.createDataFrame(
        [(x, y, (x * 7 + y) % 5 + 1) for x in range(8) for y in range(8)],
        "x int, y int, n long",
    )
    q = S.getis_ord_stats(cells)
    plan = X.formatted_plan(q)
    assert "CartesianProduct" not in plan
    assert X.shuffle_exchange_count(q) <= 4
    assert X.has_partial_aggregate(q)
    assert "BroadcastExchange" in plan  # the 1-row global stats


def test_focal_stats_hand_replayed(spark):
    """3x3 binomial convolution on a 2-cell raster, every output cell
    written out by hand (weights: center 4, edge 2, corner 1)."""
    import pyspark.sql.functions as F

    cells = spark.createDataFrame(
        [(5, 5, 10), (6, 5, 1)], "x long, y long, n long"
    )
    got = {
        (r.x, r.y): (r.focal_wsum, r.focal_max, r.n_contrib)
        for r in S.focal_stats(cells, z=4).collect()
    }
    # (5,5) receives 4*10 (self, center) + 2*1 ((6,5) is an x-edge nbr)
    assert got[(5, 5)] == (42, 10, 2)
    assert got[(6, 5)] == (24, 10, 2)  # 4*1 + 2*10
    # pure-halo cells: only one contributor each
    assert got[(4, 5)] == (20, 10, 1)   # edge of (5,5)
    assert got[(7, 5)] == (2, 1, 1)     # edge of (6,5)
    assert got[(4, 4)] == (10, 10, 1)   # corner of (5,5)
    assert got[(5, 4)] == (21, 10, 2)   # edge 2*10 + corner 1*1
    # halo is ONE cell: nothing at distance 2
    assert (3, 5) not in got and (8, 5) not in got
    # total: occupied cells 2, outputs = union of two 3x3 stamps = 12
    assert len(got) == 12
    # mass conservation: sum(focal_wsum) == 16 * sum(n) (kernel sums 16)
    assert sum(v[0] for v in got.values()) == 16 * 11


def test_focal_stats_clips_grid_edges(spark):
    """A cell at the (0, 0) corner contributes only to the 4 in-grid
    targets — no wraparound to x=-1 / y=-1 or the far edge."""
    cells = spark.createDataFrame([(0, 0, 8)], "x long, y long, n long")
    got = {(r.x, r.y): r.focal_wsum for r in S.focal_stats(cells, z=3).collect()}
    assert set(got) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    assert got[(0, 0)] == 32 and got[(1, 1)] == 8
    assert got[(0, 1)] == 16 and got[(1, 0)] == 16


def test_coverage_gaps_finds_planted_hole(spark):
    """4 cells of a small box occupied, the rest reported as gaps; a page
    OUTSIDE the box neither adds nor removes a gap."""
    res = 3  # 8 x 16 global grid: cells are 22.5 x 22.5 degrees
    rows = [
        ("u1", 10.0, 10.0), ("u2", 10.0, 40.0),
        ("u3", 40.0, 10.0), ("u4", 80.0, 170.0),  # u4 far outside the box
    ]
    pages = spark.createDataFrame(rows, "url string, lat double, lon double")
    # box spanning lat [0, 45) x lon [0, 45): 2x2 = 4 cells at res 3
    gaps = S.coverage_gaps(pages, 1.0, 44.0, 1.0, 44.0, res=res)
    got = {(r.lat_idx, r.lon_idx) for r in gaps.collect()}
    # occupied: (4,8)=u1/u2? -> lat 10 -> idx floor(100/180*8)=4; lon 10 ->
    # floor(190/360*16)=8; lon 40 -> floor(220/360*16)=9; lat 40 -> idx 5
    assert got == {(5, 9)}  # the one un-crawled cell of the 2x2 box


def test_tile_bursts_hand_replayed(spark):
    """Daily series with a gap: prev_n is the previous OBSERVED day
    (gap days don't reset it), first day prev_n=0, burst = 2x rule."""
    import datetime as dt
    import pyspark.sql.functions as F

    def rows(day, k, lat, lon):
        base = dt.datetime(2020, 1, 1) + dt.timedelta(days=day)
        return [(f"u{day}-{i}", base, lat, lon) for i in range(k)]

    # one tile: day0 n=2, day1 n=1, day3 n=4 (gap day2) -> burst on day3
    data = rows(0, 2, 10.0, 10.0) + rows(1, 1, 10.0, 10.0) + rows(3, 4, 10.0, 10.0)
    # another tile far away: single day, never a burst
    data += rows(0, 3, -40.0, 120.0)
    pages = spark.createDataFrame(
        data, "url string, warc_ts timestamp, lat double, lon double"
    )
    out = S.tile_bursts(pages, z=4).collect()
    by_tile = {}
    for r in out:
        by_tile.setdefault((r.x, r.y), []).append((r.day, r.n, r.prev_n, r.burst))
    assert len(by_tile) == 2
    series = sorted(max(by_tile.values(), key=len))
    d0 = series[0][0]
    assert series == [
        (d0, 2, 0, False),
        (d0 + 1, 1, 2, False),
        (d0 + 3, 4, 1, True),   # prev is day1's count, not the empty day2
    ]
    single = min(by_tile.values(), key=len)
    assert single == [(d0, 3, 0, False)]


def test_lang_cell_affinity_margins_consistent(spark):
    """Joint counts, marginals, and total agree with brute force."""
    rows = [
        ("en", 10.0, 10.0), ("en", 10.0, 10.0), ("en", -40.0, 120.0),
        ("de", 10.0, 10.0), ("de", -40.0, 120.0), ("fr", 60.0, -100.0),
    ]
    pages = spark.createDataFrame(rows, "lang string, lat double, lon double")
    out = S.lang_cell_affinity(pages, res=3).collect()
    assert sum(r.n_lc for r in out) == 6
    assert all(r.n_tot == 6 for r in out)
    by_lang, by_cell = {}, {}
    for r in out:
        by_lang[r.lang] = by_lang.get(r.lang, 0) + r.n_lc
        by_cell[r.cell] = by_cell.get(r.cell, 0) + r.n_lc
    for r in out:
        assert r.n_l == by_lang[r.lang]
        assert r.n_c == by_cell[r.cell]
    en1010 = [r for r in out if r.lang == "en" and r.n_lc == 2]
    assert len(en1010) == 1 and en1010[0].n_l == 3


def test_cell_extent_bbox_and_mergeable_sums(spark):
    """Extent covers exactly the member points; DECIMAL sums merge by
    addition (the hierarchical-rollup property)."""
    from decimal import Decimal

    rows = [
        ("a", 10.5, 20.25), ("b", 11.0, 20.5),   # same res-2 cell
        ("c", -80.0, -170.0),                     # different cell
    ]
    pages = spark.createDataFrame(rows, "url string, lat double, lon double")
    out = {r.cell: r for r in S.cell_extent(pages, res=2).collect()}
    assert len(out) == 2
    big = next(r for r in out.values() if r.n == 2)
    assert (big.lat_min, big.lat_max) == (10.5, 11.0)
    assert (big.lon_min, big.lon_max) == (20.25, 20.5)
    assert Decimal(big.s_lat) == Decimal("21.500000")
    assert Decimal(big.s_lon) == Decimal("40.750000")
    small = next(r for r in out.values() if r.n == 1)
    # merge-by-addition: the union state equals element-wise combination
    assert Decimal(big.s_lat) + Decimal(small.s_lat) == Decimal("-58.500000")


def test_ripley_pair_counts_brute_force(spark):
    """Band assignment, cumulative counts, zero-pair band densified,
    n_points — all vs brute force on a hand cloud."""
    import itertools

    pts = [("a", 0.0, 0.0), ("b", 0.0, 0.5), ("c", 0.0, 2.0),
           ("d", 3.0, 3.0), ("e", 40.0, 40.0)]
    pages = spark.createDataFrame(pts, "url string, lat double, lon double")
    radii = (1.0, 2.5, 5.0)
    out = {r.band: r for r in S.ripley_pair_counts(pages, radii).collect()}
    assert len(out) == 3 and all(r.n_points == 5 for r in out.values())
    d2 = {
        (u1, u2): (la1 - la2) ** 2 + (lo1 - lo2) ** 2
        for (u1, la1, lo1), (u2, la2, lo2) in itertools.combinations(pts, 2)
    }
    for i, r in enumerate(radii):
        want_cum = sum(1 for v in d2.values() if v <= r * r)
        assert out[i].n_pairs == want_cum, (i, r)
        assert out[i].radius == r
    assert out[0].n_band == 1            # only (a,b) within 1 degree
    assert sum(r.n_band for r in out.values()) == out[2].n_pairs


def test_ripley_rejects_bad_radii(spark):
    import pytest as _pt

    pages = spark.createDataFrame(
        [("a", 0.0, 0.0)], "url string, lat double, lon double"
    )
    for bad in ((), (2.0, 1.0), (1.0, 1.0)):
        with _pt.raises(ValueError):
            S.ripley_pair_counts(pages, bad)


def test_dbscan_hand_geometry(spark):
    """Two dense blobs bridged by a border point, plus noise — every
    role and the min-label canon checked by hand (eps=1.5, min_pts=3).

    blob A: a0(0,0) a1(0,1) a2(1,0)    all pairwise <= sqrt(2) -> cores
    bridge: bb(0,2)  neighbors a1 only -> |N|=2 < 3 -> border of A
    blob B: c0(10,10) c1(10,11) c2(11,10) -> cores, separate cluster
    lone:  nn(50,50) -> noise
    """
    pts = [("a0", 0.0, 0.0), ("a1", 0.0, 1.0), ("a2", 1.0, 0.0),
           ("bb", 0.0, 2.0),
           ("c0", 10.0, 10.0), ("c1", 10.0, 11.0), ("c2", 11.0, 10.0),
           ("nn", 50.0, 50.0)]
    pages = spark.createDataFrame(pts, "url string, lat double, lon double")
    got = {r.url: (r.role, r.cluster)
           for r in S.dbscan(pages, 1.5, 3).collect()}
    assert got == {
        "a0": ("core", "a0"), "a1": ("core", "a0"), "a2": ("core", "a0"),
        "bb": ("border", "a0"),
        "c0": ("core", "c0"), "c1": ("core", "c0"), "c2": ("core", "c0"),
        "nn": ("noise", None),
    }


def test_dbscan_isolated_core_self_labels(spark):
    """min_pts=1 makes every point a core; a point with no neighbors
    still gets its own singleton cluster (the anti-join path)."""
    pts = [("x", 0.0, 0.0), ("y", 40.0, 40.0)]
    pages = spark.createDataFrame(pts, "url string, lat double, lon double")
    got = {r.url: (r.role, r.cluster) for r in S.dbscan(pages, 1.0, 1).collect()}
    assert got == {"x": ("core", "x"), "y": ("core", "y")}


def test_tile_trend_exact_ols_stats(spark):
    """Rebased integer sums replayed by hand: tile with daily counts
    2,1,4 on days d, d+1, d+3 -> t = 0,1,3."""
    import datetime as dt

    def rows(day, k, lat, lon):
        base = dt.datetime(2021, 6, 1) + dt.timedelta(days=day)
        return [(f"u{day}-{lat}-{i}", base, lat, lon) for i in range(k)]

    data = rows(0, 2, 10.0, 10.0) + rows(1, 1, 10.0, 10.0) + rows(3, 4, 10.0, 10.0)
    data += rows(2, 5, -40.0, 120.0)  # other tile, single day t=2
    pages = spark.createDataFrame(
        data, "url string, warc_ts timestamp, lat double, lon double"
    )
    out = {(r.x, r.y): r for r in S.tile_trend(pages, z=4).collect()}
    assert len(out) == 2
    multi = next(r for r in out.values() if r.n_days == 3)
    assert (multi.s_t, multi.s_y) == (0 + 1 + 3, 2 + 1 + 4)
    assert multi.s_tt == 0 + 1 + 9
    assert multi.s_ty == 0 * 2 + 1 * 1 + 3 * 4
    # exact-integer slope sign: n*s_ty - s_t*s_y = 3*13 - 4*7 = 11 > 0
    assert multi.n_days * multi.s_ty - multi.s_t * multi.s_y == 11
    single = next(r for r in out.values() if r.n_days == 1)
    assert (single.s_t, single.s_y, single.s_tt, single.s_ty) == (2, 5, 4, 10)


def test_cell_extent_rollup_equals_direct(spark):
    """Merge associativity on a hand cloud: rolling res-3 states up to
    res-1 equals computing extent directly at res-1."""
    rows = [("a", 10.5, 20.25), ("b", 11.0, 20.5), ("c", 33.0, 41.0),
            ("d", -80.0, -170.0), ("e", -79.0, -169.5)]
    pages = spark.createDataFrame(rows, "url string, lat double, lon double")
    up = {r.cell: r for r in S.cell_extent_rollup(pages, 3, 1).collect()}
    direct = {r.cell: r for r in S.cell_extent(pages, 1).collect()}
    assert set(up) == set(direct)
    for c in direct:
        assert tuple(up[c]) == tuple(direct[c]), c
