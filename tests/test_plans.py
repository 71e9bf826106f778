"""Scale-critical plan properties: pushdown, pruning, broadcast, codegen.

These pin the '.explain and iterate' outcomes — a regression here means a
100-TB run reads or shuffles more than it should, even if results stay
correct.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fileverification_spark import config as C
from fileverification_spark.operators import spatial as S
from fileverification_spark.plans import explain as X
from fileverification_spark.sources import pages as P

SF = "/root/testdata/sf0.001"


def test_point_lookup_filter_pushdown(spark):
    docs = P.load_documents(spark, SF).where(F.col("doc_id") == 7)
    assert X.has_pushed_filter(docs, "doc_id")


def test_column_pruning_reaches_scan(spark):
    pg = P.pages(spark, SF).select("url")
    cols = X.read_schema_columns(pg)
    # url is derived from source/lang/doc_id only — text must NOT be read
    assert "text" not in cols
    assert set(cols) <= {"doc_id", "source", "lang"}


def test_exclusion_filter_pushes_down(spark):
    docs = P.load_documents(spark, SF)
    filtered = docs.where(~(F.col("source") == F.lit("src3")))
    assert X.has_pushed_filter(filtered, "source")


def test_pip_join_broadcasts(spark, pages_small):
    pip = S.pip_join_sql(pages_small, S.default_polygons(), res=P.LEAF_RES)
    assert X.uses_broadcast_join(pip)


def test_knn_bruteforce_broadcasts(spark, pages_small):
    knn = S.knn_bruteforce(pages_small, S.default_query_points(3), 5)
    assert X.uses_broadcast_join(knn)


def test_derivation_stays_in_codegen(spark):
    pg = P.pages_with_derived(spark, SF)
    # whole derivation (hashing, geocode, cell encode) is one codegen span
    assert X.codegen_stage_count(pg) >= 1


def test_mergeable_digest_partial_agg_single_shuffle(spark, pages_small):
    from fileverification_spark.operators import manifest as M

    d = M.mergeable_digests(pages_small, P.LEAF_RES)
    # sum-digest must combine map-side and shuffle exactly once
    assert X.has_partial_aggregate(d)
    assert X.exchange_count(d) == 1


def test_verify_tree_bounded_exchanges(spark, pages_small):
    from fileverification_spark.operators import verify as V

    rep = V.verify_tree(pages_small, V.tampered_manifest(pages_small))
    # full-outer join: one exchange per side; slow path broadcasts.
    # anything above 3 means the plan regressed into extra shuffles.
    assert X.exchange_count(rep) <= 3


def test_incremental_verify_broadcasts_frontier(spark, pages_small):
    from pyspark.sql import functions as F

    from fileverification_spark.operators import manifest as M
    from fileverification_spark.operators import verify as V
    from fileverification_spark.streaming import incremental as INC

    stored = V.tampered_manifest(pages_small)
    ckpt = M.merkle_ladder(M.digests_from_manifest(stored, P.LEAF_RES), P.LEAF_RES)
    report, _ = INC.incremental_verify(pages_small, stored, ckpt, P.LEAF_RES)
    assert X.uses_broadcast_join(report)


def test_partitioned_layout_prunes_spatial_scans(spark, tmp_path_factory):
    """VERDICT r01 #8: on a cell-partitioned layout the candidate-cell
    predicate must reach the scan as a PARTITION filter (directories
    pruned before file listing), and results must equal the
    unpartitioned path."""
    path = str(tmp_path_factory.mktemp("cellpart") / "pages_part")
    flat = P.pages_with_derived(spark, SF)
    P.write_cell_partitioned(flat, path)
    part = P.read_cell_partitioned(spark, path)

    qpts = S.default_query_points(4)
    ring_part = S.knn_ring(part, qpts, 5, res=3, rings=4)
    assert X.has_partition_filter(ring_part, "part_cell")
    ring_flat = S.knn_ring(flat, qpts, 5, res=3, rings=4)
    assert sorted(map(tuple, ring_part.collect())) == sorted(
        map(tuple, ring_flat.collect())
    )

    polys = S.default_polygons()
    pip_part = S.pip_join(part, polys, res=P.LEAF_RES)
    assert X.has_partition_filter(pip_part, "part_cell")
    pip_flat = S.pip_join(flat, polys, res=P.LEAF_RES)
    assert sorted(map(tuple, pip_part.collect())) == sorted(
        map(tuple, pip_flat.collect())
    )

    # the unpartitioned path must NOT silently claim pruning
    assert not X.has_partition_filter(ring_flat, "part_cell")


def test_bucketed_verify_join_eliminates_shuffle(spark, tmp_path_factory):
    """The 100 TB co-location story as a plan fact: when live pages and
    the manifest are bucketed+sorted on the join key (Iceberg
    `bucket(cell, url)` layout; Hive-style bucketed tables are the
    sandbox stand-in), verify_tree's full-outer join runs with ZERO
    shuffle exchanges — only the tiny mixed-algo broadcast moves."""
    from fileverification_spark.operators import verify as V

    base = str(tmp_path_factory.mktemp("bucketed"))
    live = P.pages_with_derived(spark, SF).select(
        "cell", "url", "text", "text_sha256"
    )
    stored = V.tampered_manifest(P.pages_with_derived(spark, SF))
    (
        live.write.bucketBy(8, "cell", "url").sortBy("cell", "url")
        .mode("overwrite").option("path", f"{base}/live")
        .saveAsTable("bkt_live")
    )
    (
        stored.write.bucketBy(8, "cell", "child_key").sortBy("cell", "child_key")
        .mode("overwrite").option("path", f"{base}/stored")
        .saveAsTable("bkt_stored")
    )
    try:
        rep_bkt = V.verify_tree(spark.table("bkt_live"), spark.table("bkt_stored"))
        assert X.shuffle_exchange_count(rep_bkt) == 0, X.formatted_plan(rep_bkt)
        rep_flat = V.verify_tree(live, stored)
        assert X.shuffle_exchange_count(rep_flat) > 0
        key = lambda r: (r["cell"], r["child_key"], r["status"])
        assert sorted(map(key, rep_bkt.collect())) == sorted(
            map(key, rep_flat.collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_live")
        spark.sql("DROP TABLE IF EXISTS bkt_stored")


def test_nn_join_uses_partial_aggregation(spark, pages_small):
    """The per-point argmin must be a partial-aggregatable struct-min (map-
    side combine shrinks the shuffle), never a full-sort window rank."""
    df = S.nn_join(pages_small, pages_small, resolutions=(4,))
    plan = X.formatted_plan(df)
    assert X.has_partial_aggregate(df)
    assert "WindowGroupLimit" not in plan and "Window" not in plan
    assert "CartesianProduct" not in plan.split("Union")[0]  # levels join on cell


def test_compact_cells_plan_is_linear_in_levels(spark):
    """Non-recursive compaction: Exchange count stays O(levels), not
    O(2^levels) (the recursive promote-chain measured 102 at res 7)."""
    import re

    mask = S.rasterize_polygons(spark, S.default_polygons(), 7).select("cell")
    plan = X.formatted_plan(S.compact_cells(mask, 7))
    assert len(re.findall(r"\bExchange\b", plan)) <= 50


def test_pii_scrub_zero_shuffle_no_python(spark):
    """PII scrubbing is a narrow per-row projection: no Exchange, no
    Python eval node — it must pipeline with the scan at 100 TB."""
    from fileverification_spark.functions import scrub as SC

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = X.formatted_plan(SC.pii_scrub(docs))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan  # no row-at-a-time or Arrow Python


def test_paragraph_dedup_keeper_is_partial_agg(spark):
    """The first-occurrence keeper must be min(struct(doc_id, idx)) —
    partial-aggregatable — not a row_number window over every paragraph
    occurrence (the oracle's form, correct but sort-heavy at scale)."""
    from fileverification_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = D.paragraph_dedup(docs)
    plan = X.formatted_plan(df)
    assert X.has_partial_aggregate(df)
    assert "Window" not in plan


def test_html_meta_and_readability_zero_shuffle(spark):
    """Title/meta extraction and the Flesch score are narrow per-row
    projections — no Exchange, no Python eval node; they pipeline with
    the scan at 100 TB."""
    import __spark_entry__ as E

    reg = {q.name: q.build for q in E.registry()}
    for q in ("html_meta", "readability"):
        df = reg[q](spark, SF)
        plan = X.formatted_plan(df)
        assert "Exchange" not in plan, q
        assert "EvalPython" not in plan, q


def test_mime_kinds_single_partial_agg_shuffle(spark):
    """MIME sniff rolls up to per-type counts: the sniff itself is
    map-side; exactly ONE shuffle (the mime groupBy) with partial
    aggregation before it."""
    import __spark_entry__ as E

    df = {q.name: q.build for q in E.registry()}["mime_kinds"](spark, SF)
    assert X.shuffle_exchange_count(df) == 1
    assert X.has_partial_aggregate(df)
    assert "EvalPython" not in X.formatted_plan(df)


def test_bucketed_verify_join_has_zero_shuffle(spark, tmp_path):
    """Both verify inputs written bucketed on url with the same bucket
    count -> the full-outer SortMergeJoin reads buckets co-located:
    ZERO shuffle Exchange anywhere in the report plan (broadcasts don't
    count), scans marked bucketed, and the report equals the flat path
    row-for-row."""
    import pyspark.sql.functions as F

    from fileverification_spark.operators import verify as V
    from fileverification_spark.plans import explain as X
    from fileverification_spark.sources import pages as P

    live = P.pages_with_derived(spark, SF)
    stored = V.tampered_manifest(live)
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("live_b", "stored_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a crashed previous run may leave the managed location behind
        # with no catalog entry for DROP TABLE to find
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    # bucket columns must cover ALL equi-keys, positionally (see
    # write_bucketed docstring: requireAllClusterKeysForCoPartition)
    P.write_bucketed(live, "live_b", 4, "cell", "url")
    P.write_bucketed(stored, "stored_b", 4, "cell", "child_key")
    try:
        # pin the SMJ path: no AQE broadcast downgrade at fixture scale
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            report = V.verify_tree(
                spark.table("live_b"), spark.table("stored_b")
            )
            plan = X.formatted_plan(report)
            assert "Bucketed: true" in plan
            assert X.shuffle_exchange_count(report) == 0, plan
            got = {tuple(r) for r in report.collect()}
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        want = {tuple(r) for r in V.verify_tree(live, stored).collect()}
        assert got == want and len(got) >= 500
    finally:
        spark.sql("DROP TABLE IF EXISTS live_b")
        spark.sql("DROP TABLE IF EXISTS stored_b")
