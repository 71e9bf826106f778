"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship verify_tree run at sf0.001.
registry()    — every query as a Query(name, build, oracle) record, in
                one ordered table (REGISTRY); oracle() returns the
                DuckDB-dialect SQL over the same parquet views.
queries()     — the driver window: the first WINDOW = 50 records.
oracle_sql()  — the window's oracle SQL, keyed like queries().
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fileverification_spark import config as CFG
from fileverification_spark import grid
from fileverification_spark.functions import scrub as SCRUB
from fileverification_spark.functions import html as HT
from fileverification_spark.functions import urls as U
from fileverification_spark.functions import text as TX
from fileverification_spark.streaming import incremental as INC
from fileverification_spark.streaming import geofence as SG
from fileverification_spark.streaming import windows as SW
from fileverification_spark.operators import asof as AS
from fileverification_spark.operators import captures as CAP
from fileverification_spark.operators import curation as CUR
from fileverification_spark.operators import dedup as D
from fileverification_spark.operators import diagnostics as DG
from fileverification_spark.operators import funnel as FN
from fileverification_spark.operators import graph as GR
from fileverification_spark.operators import manifest as M
from fileverification_spark.operators import multimodal as MM
from fileverification_spark.operators import packing as PK
from fileverification_spark.operators import repetition as REP
from fileverification_spark.operators import sampling as SMP
from fileverification_spark.operators import search as SRCH
from fileverification_spark.operators import sketch as SK
from fileverification_spark.operators import similarity as SIM
from fileverification_spark.operators import spatial as S
from fileverification_spark.operators import trajectory as TJ
from fileverification_spark.operators import verify as V
from fileverification_spark.functions import hashing as H
from fileverification_spark.functions import mime as MIME
from fileverification_spark.sources import manifest_io as MIO
from fileverification_spark.sources import pages as P
from fileverification_spark.sources import warc as WARC

SF0001 = "/root/testdata/sf0.001"
LEAF = P.LEAF_RES


def _with(*ctes: str) -> str:
    """Compose WITH clause from pages_cte + extra 'name AS (...)' parts."""
    return "WITH " + ",\n".join([P.pages_cte(LEAF)] + list(ctes))


# ---------------------------------------------------------------------------
# entry — flagship smoke at sf0.001
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derive pages, build tampered manifest, verify the tree."""
    live = P.pages_with_derived(spark, SF0001)
    stored = V.tampered_manifest(live)
    return V.verify_tree(live, stored)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_pages_derive(spark: SparkSession, sf: str) -> DataFrame:
    return P.pages_with_derived(spark, sf).select(
        "doc_id", "url", "warc_ts", "lang", "text_sha256", "lat", "lon", "cell"
    )


def _q_verify_report(spark: SparkSession, sf: str) -> DataFrame:
    live = P.pages_with_derived(spark, sf)
    return V.verify_tree(live, V.tampered_manifest(live))


def _q_verify_counts(spark: SparkSession, sf: str) -> DataFrame:
    live = P.pages_with_derived(spark, sf)
    return V.verify_counts(V.verify_tree(live, V.tampered_manifest(live)))


def _q_manifest_leaf(spark: SparkSession, sf: str) -> DataFrame:
    return M.leaf_manifest(P.pages_with_derived(spark, sf), LEAF)


def _q_cell_digests(spark: SparkSession, sf: str) -> DataFrame:
    return M.leaf_digests(P.pages_with_derived(spark, sf), LEAF)


def _q_cell_digests_salted(spark: SparkSession, sf: str) -> DataFrame:
    # explicit hot-cell salting: two-level Merkle (SURVEY §4 skew row)
    return M.salted_digests(P.pages_with_derived(spark, sf), LEAF)


def _q_cell_digests_mergeable(spark: SparkSession, sf: str) -> DataFrame:
    # order-independent sum digest: partial-agg/skew-immune scale path
    return M.mergeable_digests(P.pages_with_derived(spark, sf), LEAF)


def _q_merkle_ladder(spark: SparkSession, sf: str) -> DataFrame:
    leaf = M.leaf_digests(P.pages_with_derived(spark, sf), LEAF)
    return M.merkle_ladder(leaf, LEAF, min_res=0)


def _q_point_verify(spark: SparkSession, sf: str) -> DataFrame:
    # deterministic target: doc_id = 1 (url + its known-good hash form)
    live = P.pages_with_derived(spark, sf)
    row = live.where(F.col("doc_id") == 1).select("url", "text_sha256").first()
    return V.point_verify(live, row["url"], row["text_sha256"].lower())


def _q_verify_keys(spark: SparkSession, sf: str) -> DataFrame:
    # S2 multi-key form (SURVEY §3 verify_keys): one OK (ci lowercase
    # hash), one FAIL (reversed hash), one MISSING (unknown url)
    live = P.pages_with_derived(spark, sf)
    r1, r2 = (
        live.where(F.col("doc_id").isin(1, 2))
        .orderBy("doc_id")
        .select("url", "text_sha256")
        .collect()
    )
    keys = [
        (r1["url"], r1["text_sha256"].lower()),
        (r2["url"], r2["text_sha256"][::-1]),
        (r1["url"] + "#nope", "ABC123"),
    ]
    return V.verify_keys(live, keys)


def _q_verify_cell(spark: SparkSession, sf: str) -> DataFrame:
    # --excludeSubDir analogue: verify one cell only, no ladder
    live = P.pages_with_derived(spark, sf)
    cell = live.where(F.col("doc_id") == 1).first()["cell"]
    return V.verify_cell(live, V.tampered_manifest(live), cell)


def _q_report_log(spark: SparkSession, sf: str) -> DataFrame:
    # A4/S6: ordered fold of the failure log lines (Logger.cs:22-28)
    live = P.pages_with_derived(spark, sf)
    return V.report_log(V.verify_tree(live, V.tampered_manifest(live)))


def _q_hash_only(spark: SparkSession, sf: str) -> DataFrame:
    # E3 `-ho` hash display (Program.cs:315-321): point lookup, no compare
    live = P.pages_with_derived(spark, sf)
    return live.where(F.col("doc_id") == 2).select(
        "url", F.col("text_sha256").alias("hash")
    )


def _q_manifest_text_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    # S3 permissive parse: serialize reference-layout `name|algo|hash`
    # lines (C6), inject malformed 2-field rows (dropped with a warning in
    # the reference, CheckSumFile.cs:130-135) and unknown-algo rows
    # (fallback sha256, HashInfo.cs:131-149), parse back.
    live = P.pages_with_derived(spark, sf)
    m = F.col("doc_id") % 10
    md5h = F.upper(F.md5(F.col("text").cast("binary")))
    line = (
        F.when(m == 0, F.concat_ws("|", F.col("url"), F.col("text_sha256")))
        .when(m == 1, F.concat_ws("|", F.col("url"), F.lit("crc32"), F.col("text_sha256")))
        .when(m == 2, F.concat_ws("|", F.col("url"), F.lit("MD5"), md5h))
        .otherwise(
            H.record_serialize(F.col("url"), F.lit("sha256"), F.col("text_sha256"))
        )
    )
    return MIO.parse_manifest_lines(live.select(line.alias("value")))


def _q_manifest_remove_missing(spark: SparkSession, sf: str) -> DataFrame:
    live = P.pages_with_derived(spark, sf)
    stored = V.tampered_manifest(live)
    report = V.verify_tree(live, stored)
    return V.remove_missing(stored, report)


_POLYS = S.default_polygons()
_QPTS = S.default_query_points(10)
_KNN_K = 10
_RASTER_RES = 3


def _q_pip_pages(spark: SparkSession, sf: str) -> DataFrame:
    return S.pip_join(P.pages_with_derived(spark, sf), _POLYS, res=P.LEAF_RES)


def _q_pip_counts(spark: SparkSession, sf: str) -> DataFrame:
    return S.pip_counts(
        S.pip_join(P.pages_with_derived(spark, sf), _POLYS, res=P.LEAF_RES)
    )


_DJ_RADIUS = 3.0


def _q_nn_join(spark: SparkSession, sf: str) -> DataFrame:
    # distributed NN join (both sides large): ring-escalation certify;
    # oracle is the O(n^2) window form
    pg = P.pages_with_derived(spark, sf)
    return S.nn_join(pg, pg)


def _q_distance_join(spark: SparkSession, sf: str) -> DataFrame:
    # bucketed all-pairs-within-radius; oracle is the O(n^2) cross join
    return S.distance_self_join(P.pages_with_derived(spark, sf), _DJ_RADIUS)


def _q_knn(spark: SparkSession, sf: str) -> DataFrame:
    return S.knn_bruteforce(P.pages_with_derived(spark, sf), _QPTS, _KNN_K)


def _q_knn_geodesic(spark: SparkSession, sf: str) -> DataFrame:
    # great-circle metric: ranking can differ from planar near the poles
    return S.knn_geodesic(P.pages_with_derived(spark, sf), _QPTS, _KNN_K)


def _q_knn_ring(spark: SparkSession, sf: str) -> DataFrame:
    # ring prefilter (the 100 TB path); exact at these params on this data
    # — pinned against the same brute-force oracle as `knn`
    return S.knn_ring(
        P.pages_with_derived(spark, sf), _QPTS, _KNN_K, res=3, rings=4
    )


def _q_knn_adaptive(spark: SparkSession, sf: str) -> DataFrame:
    # driver-bounded ring widening, certified exact by the guarantee
    # radius -> shares the brute-force oracle
    return S.knn_adaptive(
        P.pages_with_derived(spark, sf), _QPTS, _KNN_K, res=3, rings=1
    )


def _q_simhash_buckets(spark: SparkSession, sf: str) -> DataFrame:
    return D.simhash_buckets(_docs(spark, sf))


def _q_pip_pages_sql(spark: SparkSession, sf: str) -> DataFrame:
    # pure-JVM edge-explode variant of pip_pages — same rows, no UDF
    return S.pip_join_sql(P.pages_with_derived(spark, sf), _POLYS, res=P.LEAF_RES)


def _q_raster(spark: SparkSession, sf: str) -> DataFrame:
    return S.raster_cells(P.pages_with_derived(spark, sf), _RASTER_RES)


def _q_raster_zoom(spark: SparkSession, sf: str) -> DataFrame:
    fine = S.raster_per_lang(P.pages_with_derived(spark, sf), res=6)
    return S.raster_zoom(fine, res=6, out_res=_RASTER_RES)


def _q_raster_pyramid(spark: SparkSession, sf: str) -> DataFrame:
    # hypertable rollup: rasters at res 6..3 from ONE pages scan, each
    # coarser level folded from the previous (4x smaller per step)
    return S.raster_pyramid(P.pages_with_derived(spark, sf), finest=6, coarsest=3)


def _q_raster_vectorize(spark: SparkSession, sf: str) -> DataFrame:
    # raster -> vector: cells back out as WKT rectangle features
    raster = S.raster_cells(P.pages_with_derived(spark, sf), _RASTER_RES)
    return S.raster_vectorize(raster, _RASTER_RES)


def _q_rasterize(spark: SparkSession, sf: str) -> DataFrame:
    # vector -> raster: burn the polygon features into a cell mask
    # (center-sampling) — the inverse direction of raster_vectorize
    return S.rasterize_polygons(spark, _POLYS, res=5)


_BBOX = (-35.0, 20.0, -60.0, 30.0)


def _q_bbox(spark: SparkSession, sf: str) -> DataFrame:
    # rectangle range query: covering prefilter (scan-prunable) + exact test
    return S.bbox_query(P.pages_with_derived(spark, sf), *_BBOX)


def _q_zonal_stats(spark: SparkSession, sf: str) -> DataFrame:
    # per-polygon lang histogram over the exact PIP result
    pip = S.pip_join(
        P.pages_with_derived(spark, sf), _POLYS, res=P.LEAF_RES, keep=("lang",)
    )
    return S.zonal_stats(pip)


def _q_raster_diff(spark: SparkSession, sf: str) -> DataFrame:
    # change detection between the even- and odd-doc_id epochs
    pg = P.pages_with_derived(spark, sf)
    ra = S.raster_cells(pg.where(F.col("doc_id") % 2 == 0), _RASTER_RES)
    rb = S.raster_cells(pg.where(F.col("doc_id") % 2 == 1), _RASTER_RES)
    return S.raster_diff(ra, rb)


def _q_od_matrix(spark: SparkSession, sf: str) -> DataFrame:
    # mobility flow matrix over geocoded event trajectories
    return TJ.od_matrix(SW.read_events(spark, sf))


def _q_track_length(spark: SparkSession, sf: str) -> DataFrame:
    # per-user great-circle trajectory length (decimal-exact sum)
    return TJ.track_length(SW.read_events(spark, sf))


_TRACK_RES = 5


def _q_track_cells(spark: SparkSession, sf: str) -> DataFrame:
    # line rasterization: corridor cells of each user's trajectory
    return TJ.track_cells(SW.read_events(spark, sf), _TRACK_RES)


# registry B for the polygon-polygon join: the default registry shifted
# (+5 lat, +7 lon) so every feature partially overlaps its source
_POLYS_B = [
    S.Polygon(p.poly_id + "_s", [(la + 5.0, lo + 7.0) for la, lo in p.vertices])
    for p in S.default_polygons(8)
]
_POLY_JOIN_RES = 6


def _q_poly_join(spark: SparkSession, sf: str) -> DataFrame:
    return S.poly_intersection_join(
        spark, S.default_polygons(8), _POLYS_B, _POLY_JOIN_RES
    )


def _q_raster_users(spark: SparkSession, sf: str) -> DataFrame:
    # per-cell exact distinct users (HLL twin pinned in tests)
    return TJ.raster_users(SW.read_events(spark, sf))


def _q_fence_dwells(spark: SparkSession, sf: str) -> DataFrame:
    # per (user, fence) gap-session dwell spans; epoch-micros canon
    return TJ.fence_dwells(SW.read_events(spark, sf), _POLYS).select(
        "user_id",
        "poly_id",
        "session_id",
        F.unix_micros("enter_ts").alias("enter_ts"),
        F.unix_micros("exit_ts").alias("exit_ts"),
        "n_events",
    )


_HOTSPOT_RES = 4
_HOTSPOT_MIN = 4


def _q_hotspots(spark: SparkSession, sf: str) -> DataFrame:
    # grid clustering: hot cells merged into 8-neighborhood components;
    # oracle pins the components via recursive-CTE closure
    return S.hotspots(
        P.pages_with_derived(spark, sf), _HOTSPOT_RES, _HOTSPOT_MIN
    )


def _q_hotspots_distributed(spark: SparkSession, sf: str) -> DataFrame:
    # the SCALE path (VERDICT r3 #7): identical components via min-label
    # propagation — no driver collect of the hot set (pinned by
    # tests/test_spatial.py::test_hotspots_distributed_no_driver_collect);
    # same recursive-CTE oracle as the driver-side union-find form
    return S.hotspots_distributed(
        P.pages_with_derived(spark, sf), _HOTSPOT_RES, _HOTSPOT_MIN
    )


def _q_top_lang_cell(spark: SparkSession, sf: str) -> DataFrame:
    # per-tile heavy hitter via WindowGroupLimit
    return S.top_lang_per_cell(P.pages_with_derived(spark, sf), _RASTER_RES)


def _q_compact_cells(spark: SparkSession, sf: str) -> DataFrame:
    # minimal mixed-res cover of the rasterized mask (H3 compact analogue)
    mask = S.rasterize_polygons(spark, _POLYS, res=5).select("cell")
    return S.compact_cells(mask, res=5)


def _q_uncompact_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    # uncompact(compact(mask)) must equal mask — oracle is the mask itself
    mask = S.rasterize_polygons(spark, _POLYS, res=5).select("cell")
    return S.uncompact_cells(S.compact_cells(mask, res=5), 5).distinct()


_ANN_QIDS = [0, 25, 50, 75, 100]
_ANN_K = 10
_NEARDUP_TAU = 0.3


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/documents.parquet")


def _emb(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def _q_doc_stats(spark: SparkSession, sf: str) -> DataFrame:
    cols = TX.quality_scores(F.col("text"))
    return _docs(spark, sf).select(
        "doc_id", *[v.alias(k) for k, v in cols.items()]
    )


def _q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    return _docs(spark, sf).select(
        "doc_id", TX.lang_id(F.col("text")).alias("lang_pred")
    )


def _q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    return _docs(spark, sf).select(
        "doc_id",
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.token_count(F.col("text")).alias("n_tokens"),
    )


#: Deterministic-sampling parameters (operators/sampling): Bernoulli
#: fraction, per-language quota, and the target source mixture (sources
#: outside the target are dropped — keep_fraction 0).
_SAMPLE_FRACTION = 0.2
_STRATA_N = 20
_MIX_TARGET = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def _q_sample_hash(spark: SparkSession, sf: str) -> DataFrame:
    return SMP.hash_sample(
        _docs(spark, sf), F.col("doc_id").cast("string"), _SAMPLE_FRACTION
    )


def _q_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    return SMP.stratified_sample(
        _docs(spark, sf), "lang", _STRATA_N, F.col("doc_id").cast("string")
    )


def _q_mixture_weights(spark: SparkSession, sf: str) -> DataFrame:
    return SMP.mixture_weights(_docs(spark, sf), "source", _MIX_TARGET)


def _q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return D.dedup_exact(_docs(spark, sf))


def _q_ann_quantized_topk(spark: SparkSession, sf: str) -> DataFrame:
    # int8-quantized cosine top-k: the memory-bound ANN scale path with a
    # bit-exact quantize->reconstruct->rank oracle
    return SIM.cosine_topk_quantized(_emb(spark, sf), _ANN_QIDS, _ANN_K)


def _q_curation_stats(spark: SparkSession, sf: str) -> DataFrame:
    # end-to-end corpus build: exact dedup -> quality gates -> per-lang
    # token accounting, one declarative plan
    return CUR.curation_stats(CUR.curate(_docs(spark, sf)))


def _q_domain_stats(spark: SparkSession, sf: str) -> DataFrame:
    # crawl-side per-domain rollup: counts, langs, tokens, unique texts
    return CUR.domain_stats(P.pages(spark, sf))


def _q_polygon_stats(spark: SparkSession, sf: str) -> DataFrame:
    # vector-side geometry rollup: shoelace area + centroid, zero shuffle
    polys = spark.createDataFrame(
        [(p.poly_id, S.poly_wkt(p)) for p in _POLYS], ["poly_id", "wkt"]
    )
    return S.polygon_stats(polys)


def _q_vocab_topk(spark: SparkSession, sf: str) -> DataFrame:
    # tokenizer-side vocab heavy hitters: two-level agg, no Expand
    return CUR.vocab_topk(_docs(spark, sf))


def _q_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    # integer unigram surprisal (CCNet-style perplexity filter signal,
    # float-free): three partial-agg shuffles + one Zipf-aware join
    return CUR.unigram_surprisal(_docs(spark, sf))


def _q_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    # Gopher-style intra-doc repetition gates: zero-shuffle per-row exprs
    return REP.repetition_stats(_docs(spark, sf))


def _q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    # benchmark decontamination: every 41st doc is the held-out split;
    # broadcast its n-gram set, one per-doc overlap aggregate
    docs = _docs(spark, sf)
    bench = docs.where(F.col("doc_id") % REP.BENCH_MOD == 0)
    train = docs.where(F.col("doc_id") % REP.BENCH_MOD != 0)
    return REP.decontaminate(train, bench)


def _q_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    # near-dup components over verified LSH pairs; tau=0.35 yields
    # multi-hop clusters (sizes 2-4) on the natural sf0.001 corpus
    return D.duplicate_clusters(_docs(spark, sf))


# planted-PII corpus: deterministic per-class injections keyed on doc_id
# residues so counts VARY across rows; the oracle mirrors the exact same
# construction (concat + CASE), then both engines scrub.
def _pii_planted(spark: SparkSession, sf: str) -> DataFrame:
    d = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit(" user"), (d % 7).cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 3 == 0,
            F.concat(F.lit(" 10.0."), (d % 256).cast("string"), F.lit(".1")),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(F.lit(" +155500012"), (d % 100).cast("string")),
        ).otherwise(F.lit("")),
    )
    return _docs(spark, sf).select("doc_id", text.alias("text"))


_SQL_PII_PLANTED = """(
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 2 = 0
                 THEN ' user' || CAST(doc_id % 7 AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN ' 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' +155500012' || CAST(doc_id % 100 AS VARCHAR)
                 ELSE '' END AS text
  FROM documents) planted"""


def _q_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    return SCRUB.pii_scrub(_pii_planted(spark, sf))


# paragraph corpus: doc g = text[g] + '\n\n' + text[g+1], so every text
# except the first and last appears in exactly two synthetic docs —
# guaranteed cross-doc duplicate paragraphs for the first-occurrence rule
def _para_docs(spark: SparkSession, sf: str) -> DataFrame:
    docs = _docs(spark, sf)
    a = docs.select("doc_id", F.col("text").alias("t1"))
    b = docs.select((F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("t2"))
    return a.join(b, "doc_id").select(
        "doc_id", F.concat("t1", F.lit("\n\n"), "t2").alias("text")
    )


_SQL_PARA_DOCS = """(
  SELECT a.doc_id AS doc_id,
         a.text || chr(10) || chr(10) || b.text AS text
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1) paired"""


def _q_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    return D.paragraph_dedup(_para_docs(spark, sf))


def _q_domain_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    # exact per-domain length order statistics (two-phase: agg on
    # (domain, len) first, window over DISTINCT lens only)
    return CUR.domain_quantiles(P.pages(spark, sf))


def _q_shingle_dups(spark: SparkSession, sf: str) -> DataFrame:
    # exact-substring duplicate shingles (Lee et al. ExactSubstr,
    # strided) over the RAW documents table — the synthetic corpus
    # contains real shared 32-char prefixes across docs
    return D.shingle_duplicates(_docs(spark, sf))


def _q_cocite_hosts(spark: SparkSession, sf: str) -> DataFrame:
    # co-citation over the planted link graph: hosts linked by the
    # SAME citing host (capped top-16 out-edges per citer)
    return GR.cocitation(GR.host_edges(_link_planted(spark, sf)))


# planted-URL corpus: deterministic surface-variant URLs keyed on doc_id
# residues — scheme/host case, www., default AND non-default ports,
# trailing slash, tracking params, fragments — so every canonicalization
# rule is exercised and small moduli guarantee cross-doc families to
# fold (the canonical key depends only on residues mod 2/3/4/5/7)
def _url_planted(spark: SparkSession, sf: str) -> DataFrame:
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("Http")),
        F.lit("://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site"), (d % 5).cast("string"), F.lit(".Example.COM"),
        F.when(d % 7 == 0, F.lit(":8080"))
        .when(d % 2 == 0, F.lit(":443"))
        .otherwise(F.lit(":80")),
        F.lit("/A/b"), (d % 3).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?z=9&a="), (d % 4).cast("string"),
        F.when(d % 3 == 0, F.lit("&utm_source=rss")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(F.lit("&fbclid=X"), d.cast("string")))
        .otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return _docs(spark, sf).select("doc_id", url.alias("url"))


_SQL_URL_PLANTED = """(
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'Http' END || '://'
    || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
    || 'Site' || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM'
    || CASE WHEN doc_id % 7 = 0 THEN ':8080'
            WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
    || '/A/b' || CAST(doc_id % 3 AS VARCHAR)
    || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
    || '?z=9&a=' || CAST(doc_id % 4 AS VARCHAR)
    || CASE WHEN doc_id % 3 = 0 THEN '&utm_source=rss' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN '&fbclid=X' || CAST(doc_id AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END AS url
  FROM documents) planted"""


def _q_url_families(spark: SparkSession, sf: str) -> DataFrame:
    return D.canonical_families(_url_planted(spark, sf))


def _q_url_quality(spark: SparkSession, sf: str) -> DataFrame:
    # same planted URL corpus as url_families: varied hosts/ports/
    # subdomains/params exercise every feature branch
    return U.url_quality_features(_url_planted(spark, sf))


def _q_crawl_traps(spark: SparkSession, sf: str) -> DataFrame:
    return CUR.crawl_traps(P.pages_with_derived(spark, sf))


# SemDeDup within-cluster duplicate threshold / deterministic codebook
# stride (centroids = vec_id % 25 == 0)
_SEMDEDUP_TAU = 0.3
_SEMDEDUP_MOD = 25


def _q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    return SIM.semantic_dedup(_emb(spark, sf), _SEMDEDUP_TAU, _SEMDEDUP_MOD)


def _q_winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return D.winnow_pairs(_docs(spark, sf))


# a 2-token phrase present across the synthetic corpus (27 docs at
# sf0.01) — exercises the consecutive-position test, not just term bags
_PHRASE = "hash join"


def _q_phrase_search(spark: SparkSession, sf: str) -> DataFrame:
    return SRCH.phrase_search(_docs(spark, sf), _PHRASE)


def _q_lang_temperature(spark: SparkSession, sf: str) -> DataFrame:
    return SMP.lang_temperature(_docs(spark, sf))


def _canon_planted(spark: SparkSession, sf: str) -> DataFrame:
    """Planted rel=canonical declarations over the documents ids:
    self-canonical terminals every 17th id, descending chains up to
    depth 16 between them (so some chains exceed the 2^3-hop cap —
    exercising the bound), and adjacent 2-cycles at ids 21/22 mod 23
    (exercising cycle non-resolution). Both engines build the same
    CASE, so the edge relation is bit-identical."""
    d = F.col("doc_id")
    tgt = (
        F.when(d % 23 == 21, d + 1)
        .when(d % 23 == 22, d - 1)
        .when(d % 17 == 0, d)
        .otherwise(d - 1)
    )
    return _docs(spark, sf).select(
        F.concat(F.lit("u"), d.cast("string")).alias("url"),
        F.concat(F.lit("u"), tgt.cast("string")).alias("canon"),
    )


_SQL_CANON_PLANTED = """(
  SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
         'u' || CAST(CASE
             WHEN doc_id % 23 = 21 THEN doc_id + 1
             WHEN doc_id % 23 = 22 THEN doc_id - 1
             WHEN doc_id % 17 = 0 THEN doc_id
             ELSE doc_id - 1 END AS VARCHAR) AS canon
  FROM documents) canon_edges"""


def _q_canonical_resolve(spark: SparkSession, sf: str) -> DataFrame:
    return GR.canonical_resolve(_canon_planted(spark, sf), iters=3)


def _q_pack_chunks(spark: SparkSession, sf: str) -> DataFrame:
    return PK.pack_offsets(_docs(spark, sf), budget=512)


def _q_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    return CUR.tfidf_top_terms(_docs(spark, sf), k=3)


_BM25_QUERY = "fast hash join"  # terms present in the synthetic corpus


def _q_raster_smooth(spark: SparkSession, sf: str) -> DataFrame:
    return S.raster_smooth(P.pages_with_derived(spark, sf), _RASTER_RES)


_TILE_Z = 4  # web-map zoom for the XYZ-tile interop query


# planted rich-HTML corpus: script/style/comment blocks, attributes,
# entities (incl. the &amp;-last ordering trap), nested text — both
# engines construct the same page and must extract the same text
_HTML_PRE = (
    '<html><head><style>p{color:red}</style>'
    '<script>var x=1<2 && true;</script></head><body><h1>T'
)
_HTML_POST = ' &amp; more&nbsp;x</p><!-- hidden --></body></html>'


def _html_planted(spark: SparkSession, sf: str) -> DataFrame:
    d = F.col("doc_id")
    html = F.concat(
        F.lit(_HTML_PRE), d.cast("string"),
        F.lit('</h1><p class="a">'), F.col("text"), F.lit(_HTML_POST),
    )
    return _docs(spark, sf).select(
        "doc_id", F.encode(html, "UTF-8").alias("html")
    )


def _q_html_text(spark: SparkSession, sf: str) -> DataFrame:
    out = HT.html_to_text(F.col("html")).alias("wet_text")
    return _html_planted(spark, sf).select("doc_id", out)


def _sql_html_text() -> str:
    html = (
        f"'{_HTML_PRE}' || CAST(doc_id AS VARCHAR) || "
        f"'</h1><p class=\"a\">' || text || '{_HTML_POST}'"
    )
    return (
        f"SELECT doc_id, {HT.sql_html_to_text(html)} AS wet_text"
        " FROM documents"
    )


# planted head-metadata corpus for html_meta: title + meta description
# built from doc_id in BOTH engines; every 7th page has no <head> at all
# (exercises the ''-on-absent path)
_META_PRE = "<html><head><title> Doc "
_META_MID = (
    ' : a (test)  page </title><meta name="description" content="Summary'
    " for doc "
)
_META_POST = ' with  doubled  spaces"></head><body>x</body></html>'
_META_BARE = "<html><body>bare page, no head</body></html>"


def _meta_planted(spark: SparkSession, sf: str) -> DataFrame:
    d = F.col("doc_id")
    html = F.when(d % 7 == 0, F.lit(_META_BARE)).otherwise(
        F.concat(
            F.lit(_META_PRE), d.cast("string"),
            F.lit(_META_MID), d.cast("string"), F.lit(_META_POST),
        )
    )
    return _docs(spark, sf).select(
        "doc_id", F.encode(html, "UTF-8").alias("html")
    )


def _q_html_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Title + meta-description extraction (functions/html.py) — the
    retrieval display fields of the WET step."""
    src = _meta_planted(spark, sf)
    return src.select(
        "doc_id",
        HT.html_title(F.col("html")).alias("title"),
        HT.meta_description(F.col("html")).alias("meta_desc"),
    )


def _sql_html_meta() -> str:
    html = (
        f"CASE WHEN doc_id % 7 = 0 THEN '{_META_BARE}' ELSE "
        f"'{_META_PRE}' || CAST(doc_id AS VARCHAR) || "
        f"'{_META_MID}' || CAST(doc_id AS VARCHAR) || '{_META_POST}' END"
    )
    return (
        f"SELECT doc_id, {HT.sql_html_title('html')} AS title,"
        f" {HT.sql_meta_description('html')} AS meta_desc"
        f" FROM (SELECT doc_id, {html} AS html FROM documents) planted"
    )


# planted binary corpus for mime_kinds: doc_id % 10 picks one of the 9
# distinct magic prefixes (slot 9 = no magic -> octet-stream fallback);
# payload tail is the hex of the doc_id digits so every value is a
# distinct real BLOB, not a shared constant
_MIME_SLOTS = [p for p, _ in MIME.MAGIC[:9]]


def _q_mime_kinds(spark: SparkSession, sf: str) -> DataFrame:
    """Magic-number MIME sniff (functions/mime.py) over a planted
    binary column, rolled up to per-type counts."""
    d = F.col("doc_id")
    prefix = F.lit("")
    for i, p in enumerate(_MIME_SLOTS):
        prefix = F.when(d % 10 == i, F.lit(p)).otherwise(prefix)
    content = F.unhex(
        F.concat(prefix, F.hex(F.encode(d.cast("string"), "UTF-8")))
    )
    return (
        _docs(spark, sf)
        .select(MIME.mime_sniff(content).alias("mime"))
        .groupBy("mime")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _sql_mime_kinds() -> str:
    whens = "".join(
        f" WHEN doc_id % 10 = {i} THEN '{p}'"
        for i, p in enumerate(_MIME_SLOTS)
    )
    content = (
        f"unhex((CASE{whens} ELSE '' END) ||"
        " hex(encode(CAST(doc_id AS VARCHAR))))"
    )
    return (
        f"SELECT {MIME.sql_mime_sniff(content)} AS mime,"
        " CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1"
    )


def _q_readability(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-integer Flesch reading ease + band (functions/text.py) per
    document — the dictionary-free quality-gate signal."""
    ease = TX.reading_ease_milli(F.col("text"))
    return _docs(spark, sf).select(
        "doc_id",
        ease.alias("ease_milli"),
        TX.ease_grade(ease).alias("grade"),
    )


def _sql_readability() -> str:
    ease = TX.sql_reading_ease_milli("text")
    return (
        f"SELECT doc_id, {ease} AS ease_milli,"
        f" {TX.sql_ease_grade(ease)} AS grade FROM documents"
    )


def _q_kmv_cells(spark: SparkSession, sf: str) -> DataFrame:
    return SK.kmv_estimate(
        SK.kmv_cells(P.pages_with_derived(spark, sf), _RASTER_RES)
    )


def _q_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered view->click->purchase funnel (operators/funnel.py):
    per-user strictly-later milestone times in exact epoch micros."""
    return FN.funnel(SW.read_events(spark, sf))


# planted multi-line corpus for c4_clean: the base text plus a known
# keeper, a too-short line, a javascript line, and mod-keyed lorem /
# curly-brace page poisons — both engines build the identical pages
_C4_KEEP = "A good sentence line with enough words."
_C4_SHORT = "short one."
_C4_JS = "This line mentions javascript badly here today."
_C4_LOREM = "lorem ipsum dolor sit amet today."
_C4_BRACE = "code { brace } line content today."


def _c4_planted(spark: SparkSession, sf: str) -> DataFrame:
    d = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.lit("\n" + _C4_KEEP + "\n" + _C4_SHORT + "\n" + _C4_JS),
        F.when(d % 5 == 0, F.lit("\n" + _C4_LOREM)).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("\n" + _C4_BRACE)).otherwise(F.lit("")),
    )
    return _docs(spark, sf).select("doc_id", text.alias("text"))


_SQL_C4_PLANTED = (
    "(SELECT doc_id, text || chr(10) || '" + _C4_KEEP + "' || chr(10)"
    " || '" + _C4_SHORT + "' || chr(10) || '" + _C4_JS + "'"
    " || CASE WHEN doc_id % 5 = 0 THEN chr(10) || '" + _C4_LOREM + "'"
    " ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN chr(10) || '" + _C4_BRACE + "'"
    " ELSE '' END AS text FROM documents) c4p"
)


def _q_c4_clean(spark: SparkSession, sf: str) -> DataFrame:
    """C4 line-level cleaning (operators/curation.py) over a planted
    multi-line corpus with known keeper/dropper lines."""
    return CUR.c4_clean(_c4_planted(spark, sf))


def _q_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention triangle (operators/funnel.py): signup-day
    cohorts x activity-day offsets, day-granular distinct."""
    return FN.retention(SW.read_events(spark, sf))


def _q_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    # every event lands back in exactly its own session (gap sessions
    # partition the timeline per user), so the refine predicate and the
    # bucket covering are both exercised with a known row count
    ev = SW.read_events(spark, sf)
    sess = SW.sessionize(ev).drop("n_events")
    out = AS.interval_join(
        ev.select("event_id", "user_id", "ts"), sess,
        keys=["user_id"], point_ts="ts",
        start="session_start", end="session_end",
        bucket_seconds=1800,
    )
    return out.select("event_id", "user_id", "session_id")


def _q_trending_terms(spark: SparkSession, sf: str) -> DataFrame:
    # contract canon: window starts as epoch seconds (day boundaries)
    return SW.trending_terms(P.pages(spark, sf), k=5).select(
        F.unix_timestamp("window_start").alias("window_start"),
        "term", "n", "rank",
    )


def _q_tile_counts(spark: SparkSession, sf: str) -> DataFrame:
    t = grid.tile_xyz(F.col("lat"), F.col("lon"), _TILE_Z)
    d = P.pages_with_derived(spark, sf).select(
        t["x"].alias("x"), t["y"].alias("y")
    )
    return (
        d.withColumn("quadkey", grid.tile_quadkey(F.col("x"), F.col("y"), _TILE_Z))
        .groupBy("x", "y", "quadkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pages"))
    )


def _sql_tile_counts() -> str:
    x, y = grid.sql_tile_xyz("lat", "lon", _TILE_Z)
    qk = grid.sql_tile_quadkey("x", "y", _TILE_Z)
    return f"""
SELECT x, y, {qk} AS quadkey, CAST(count(*) AS BIGINT) AS n_pages
FROM (SELECT {x} AS x, {y} AS y FROM pages)
GROUP BY 1, 2, 3"""


def _q_tile_classes(spark: SparkSession, sf: str) -> DataFrame:
    return S.tile_quantile_classes(
        _q_tile_counts(spark, sf).drop("quadkey")
    )


def _sql_tile_classes() -> str:
    x, y = grid.sql_tile_xyz("lat", "lon", _TILE_Z)
    tiles = (
        f"SELECT x, y, CAST(count(*) AS BIGINT) AS n_pages "
        f"FROM (SELECT {x} AS x, {y} AS y FROM pages) GROUP BY 1, 2"
    )
    return S.sql_tile_quantile_classes(tiles)


def _q_bm25(spark: SparkSession, sf: str) -> DataFrame:
    return SRCH.bm25_search(_docs(spark, sf), _BM25_QUERY, k=20)


# hybrid-retrieval fixture: fuse the BM25 list for _BM25_QUERY with the
# ANN list for query vector 0, both at depth 20
_HYBRID_QVEC = 0
_HYBRID_K = 20


def _q_hybrid_search(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    bm = SRCH.bm25_search(_docs(spark, sf), _BM25_QUERY, k=_HYBRID_K)
    wa = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    ranked_a = bm.withColumn("rank", F.row_number().over(wa)).select(
        "doc_id", "rank"
    )
    ranked_b = SIM.cosine_topk(_emb(spark, sf), [_HYBRID_QVEC], _HYBRID_K).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return SRCH.rrf_fuse(ranked_a, ranked_b)


_KN_MIN_COUNT = 5


def _q_kn_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    return CUR.kn_bigram_stats(_docs(spark, sf), min_count=_KN_MIN_COUNT)


def _q_cms_tokens(spark: SparkSession, sf: str) -> DataFrame:
    return SK.cms_tokens(_docs(spark, sf))


_BG_MIN_COUNT = 2


def _q_bigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    return CUR.bigram_surprisal(_docs(spark, sf), min_count=_BG_MIN_COUNT)


def _q_hll_cells(spark: SparkSession, sf: str) -> DataFrame:
    return SK.hll_estimate(
        SK.hll_cells(P.pages_with_derived(spark, sf), _RASTER_RES)
    )


def _q_adamic_adar(spark: SparkSession, sf: str) -> DataFrame:
    return GR.adamic_adar(GR.host_edges(_link_planted(spark, sf)))


def _q_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    return FN.event_transitions(SW.read_events(spark, sf))


# planted CDC corpus: every doc carries the same ~200-char tail, so the
# tail's content-defined chunks repeat across ALL docs — n_occs >= n_docs
# rows are guaranteed (running cdc_shared on raw synthetic text alone
# could legitimately return zero shared chunks, a vacuous check)
_CDC_TAIL = (
    " Creative Commons Attribution-ShareAlike License; additional terms "
    "may apply. By using this site, you agree to the Terms of Use and "
    "the Privacy Policy. Content is available under the license terms "
    "listed above unless otherwise noted."
)


def _q_cdc_dedup(spark: SparkSession, sf: str) -> DataFrame:
    docs = _docs(spark, sf).select(
        "doc_id", F.concat(F.col("text"), F.lit(_CDC_TAIL)).alias("text")
    )
    return D.cdc_shared(docs)


def _sql_cdc_dedup() -> str:
    tail = _CDC_TAIL.replace("'", "''")
    docs = (
        f"(SELECT doc_id, text || '{tail}' AS text FROM documents)"
    )
    return D.sql_cdc_shared_query(docs)


def _sql_hybrid_search() -> str:
    ra = (
        "SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC)"
        f" AS rank FROM ({SRCH.sql_bm25_search('documents', _BM25_QUERY, _HYBRID_K)})"
    )
    rb = (
        "SELECT vec_id AS doc_id, rank FROM "
        f"({SIM.sql_cosine_topk_query([_HYBRID_QVEC], _HYBRID_K)})"
    )
    return SRCH.sql_rrf_fuse(ra, rb)


# planted outlink corpus: 16 'siteK.example.net' hosts, 3 modular link
# targets per page (the doc_id*7 family self-loops whenever doc_id % 8
# == 0, exercising the self-loop filter), an external host that only
# ever appears as a TARGET (doc_id % 11 == 0 — a dangling PageRank
# node), a case/space-varied HREF, and a relative link the absolute
# filter must drop. Both engines construct the identical corpus.
_LINK_HOSTS = 16


def _link_planted(spark: SparkSession, sf: str) -> DataFrame:
    d = F.col("doc_id")

    def site(expr):  # noqa: ANN001 — Column in, Column out
        return F.concat(
            F.lit("https://site"), expr.cast("string"), F.lit(".example.net")
        )

    url = F.concat(site(d % _LINK_HOSTS), F.lit("/p/"), d.cast("string"))
    html = F.concat(
        F.lit('<html><body><a href="'),
        site((d * 3 + 1) % _LINK_HOSTS),
        F.lit('/x">a</a><A HREF = "'),
        site((d * 5 + 2) % _LINK_HOSTS),
        F.lit('/y">b</A><a href="'),
        site((d * 7) % _LINK_HOSTS),
        F.lit('/z">c</a>'),
        F.when(
            d % 11 == 0,
            F.lit('<a href="https://ext.example.com/e">e</a>'),
        ).otherwise(F.lit("")),
        # link to the NEXT page's own url: already-fetched for every
        # doc_id+1 that exists, so the crawl frontier filters it out;
        # anchor text is lang-dependent so anchor_terms has structure
        F.lit('<a href="'),
        site((d + 1) % _LINK_HOSTS),
        F.lit("/p/"),
        (d + 1).cast("string"),
        F.lit('">next '),
        F.col("lang"),
        F.lit("</a>"),
        F.lit('<a href="/relative/skip">r</a></body></html>'),
    )
    return _docs(spark, sf).select(
        d.alias("doc_id"),
        url.alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )


_SQL_LINK_PLANTED = f"""(
  SELECT doc_id,
    'https://site' || CAST(doc_id % {_LINK_HOSTS} AS VARCHAR)
      || '.example.net/p/' || CAST(doc_id AS VARCHAR) AS url,
    '<html><body><a href="https://site'
      || CAST((doc_id * 3 + 1) % {_LINK_HOSTS} AS VARCHAR)
      || '.example.net/x">a</a><A HREF = "https://site'
      || CAST((doc_id * 5 + 2) % {_LINK_HOSTS} AS VARCHAR)
      || '.example.net/y">b</A><a href="https://site'
      || CAST((doc_id * 7) % {_LINK_HOSTS} AS VARCHAR)
      || '.example.net/z">c</a>'
      || CASE WHEN doc_id % 11 = 0
              THEN '<a href="https://ext.example.com/e">e</a>'
              ELSE '' END
      || '<a href="https://site'
      || CAST((doc_id + 1) % {_LINK_HOSTS} AS VARCHAR)
      || '.example.net/p/' || CAST(doc_id + 1 AS VARCHAR)
      || '">next ' || lang || '</a>'
      || '<a href="/relative/skip">r</a></body></html>' AS html
  FROM documents) planted"""


def _q_extract_links(spark: SparkSession, sf: str) -> DataFrame:
    src = _link_planted(spark, sf)
    return src.select(
        "doc_id",
        F.explode(HT.extract_links(F.col("html"))).alias("link"),
    )


def _q_host_graph(spark: SparkSession, sf: str) -> DataFrame:
    return GR.host_edges(_link_planted(spark, sf))


def _sql_host_edges() -> str:
    """Bare SELECT (no WITH — contract helper rule) rebuilding
    graph.host_edges over the planted corpus (single direct-host
    regexp pass, mirroring HOST_LINK_RE)."""
    return f"""SELECT src, dst, CAST(count(*) AS BIGINT) AS w
FROM (SELECT {GR.sql_host_of('url')} AS src,
             unnest(regexp_extract_all(html, '{GR.HOST_LINK_RE}', 1)) AS dst
      FROM {_SQL_LINK_PLANTED}) raw
WHERE src != dst
GROUP BY 1, 2"""


_PAGERANK_ITERS = 5


# robots-style disallow rules over the REAL pages hosts
# ({source}.example.org/{lang}/{doc_id}): one lang-scoped rule, one
# whole-host rule, one rule on a host that never occurs
_ROBOTS_RULES = [
    ("src0.example.org", "/en/"),
    ("src1.example.org", "/"),
    ("src2.example.org", "/de/"),
    ("nope.example.org", "/"),
]


def _q_robots_filter(spark: SparkSession, sf: str) -> DataFrame:
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, path_prefix string"
    )
    return CUR.robots_filter(P.pages(spark, sf), rules).select(
        "doc_id", "url"
    )


def _sql_robots_filter() -> str:
    vals = ", ".join(f"('{h}', '{p}')" for h, p in _ROBOTS_RULES)
    return CUR.sql_robots_filter("pages", vals)


def _q_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    # planted template corpus (see _bp_planted): per-host NAV header +
    # footer on EVERY page (detected), a promo banner on ~1/3 of pages
    # (below the 50% threshold — NOT detected), natural text in between
    return CUR.boilerplate_paras(_bp_planted(spark, sf), min_pct=50)


_SQL_BP_PLANTED = """(
  SELECT 'https://site' || CAST(doc_id % 8 AS VARCHAR)
           || '.example.net/p/' || CAST(doc_id AS VARCHAR) AS url,
         'NAV site' || CAST(doc_id % 8 AS VARCHAR) || ' menu'
           || chr(10) || chr(10) || text
           || CASE WHEN doc_id % 3 = 0
                   THEN chr(10) || chr(10) || 'promo banner' ELSE '' END
           || chr(10) || chr(10) || '(c) site'
           || CAST(doc_id % 8 AS VARCHAR) || ' footer' AS text
  FROM documents) bp"""


_SUBTREE_PREFIX = "com,example"  # the messy planted corpus all lands here


def _q_collocations(spark: SparkSession, sf: str) -> DataFrame:
    return CUR.collocations_topk(_docs(spark, sf), k=20, min_count=5)


def _q_domain_subtree(spark: SparkSession, sf: str) -> DataFrame:
    # the CDX range-scan property as a query: a registered domain and
    # ALL its subdomains are one SURT prefix range (the URL-space
    # z-order) — select the planted corpus rows inside it. At scale
    # this predicate is a min/max-stats file skip on a SURT-sorted
    # layout, exactly like bbox_query over zorder_key. The range is
    # bounded by the SURT separators — prefix + ')' matches the apex
    # host, prefix + ',' its subdomains — so a sibling domain whose
    # name merely extends the string ('com,examplefoo)...') is OUT
    # (ADVICE r3: an unterminated startswith would include it).
    surt = U.surt_key(U.url_canonicalize(F.col("url")))
    return (
        _url_planted(spark, sf)
        .select("doc_id", surt.alias("surt"))
        .where(
            F.col("surt").startswith(_SUBTREE_PREFIX + ")")
            | F.col("surt").startswith(_SUBTREE_PREFIX + ",")
        )
    )


def _sql_domain_subtree() -> str:
    canon = U.sql_canonical_select(_SQL_URL_PLANTED)
    surt = U.sql_surt_key("canonical_url")
    return f"""SELECT doc_id, surt FROM (
  SELECT doc_id, {surt} AS surt FROM ({canon}) c)
WHERE starts_with(surt, '{_SUBTREE_PREFIX}' || ')')
   OR starts_with(surt, '{_SUBTREE_PREFIX}' || ',')"""


_FRONTIER_SHARDS = 16


def _q_frontier_shards(spark: SparkSession, sf: str) -> DataFrame:
    # crawl-politeness partitioning: every frontier URL's host maps to
    # ONE scheduler shard (so per-host rate limits serialize within a
    # shard); shard = sha256-prefix of host mod N — the engine's
    # cross-engine-deterministic hash (same discipline as
    # sampling.hash_sample; never Spark's murmur hash, which DuckDB
    # can't reproduce). Output: per-(shard, host) pending-URL counts.
    f = GR.crawl_frontier(_link_planted(spark, sf))
    host = GR.host_of(F.col("url"))
    shard = (
        F.conv(F.substring(F.sha2(host, 256), 1, 8), 16, 10)
        .cast("bigint") % _FRONTIER_SHARDS
    )
    return (
        f.select(shard.alias("shard"), host.alias("host"))
        .groupBy("shard", "host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_urls"))
    )


def _sql_frontier_shards() -> str:
    frontier = GR.sql_crawl_frontier(_SQL_LINK_PLANTED)
    host = GR.sql_host_of("url")
    return f"""SELECT
  CAST(('0x' || substr(sha256({host}), 1, 8)) AS BIGINT)
    % {_FRONTIER_SHARDS} AS shard,
  {host} AS host,
  CAST(count(*) AS BIGINT) AS n_urls
FROM ({frontier}) f
GROUP BY 1, 2"""


def _q_cell_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    # geo-semantic raster: per-(cell, dim) exact embedding sums — the
    # mergeable state behind a regional-centroid layer (mean = s/n at
    # the consumer). Float canon: round each float to 6 dp, sum as
    # fixed-scale DECIMAL (order-independent, cross-engine exact).
    pg = P.pages_with_derived(spark, sf).select("doc_id", "cell")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    j = pg.join(emb, pg["doc_id"] == emb["vec_id"])
    ex = j.select(
        "cell", F.posexplode("embedding").alias("dim", "val")
    )
    s = F.sum(
        F.round(F.col("val").cast("double"), 6).cast("decimal(24,6)")
    )
    return ex.groupBy("cell", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        s.cast("string").alias("s"),
    )


def _q_length_hist(spark: SparkSession, sf: str) -> DataFrame:
    # log2-bucketed doc-length histogram (corpus shape diagnostic):
    # bucket = bit length of n_chars — exact integers, no log2 floats
    b = F.length(F.bin(F.col("n_chars"))).cast("bigint")
    return (
        _docs(spark, sf)
        .groupBy(b.alias("log2_bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def _q_authority_pages(spark: SparkSession, sf: str) -> DataFrame:
    # the graph signal feeding curation: per-host page counts for hosts
    # whose PageRank ended ABOVE the uniform initial mass (authorities
    # gained rank; spam-ish sinks lost it) — rank relation is tiny
    # (hosts), so the join back to pages is a broadcast
    pages = _link_planted(spark, sf)
    ranks = GR.pagerank(GR.host_edges(pages), iters=_PAGERANK_ITERS)
    auth = ranks.where(F.col("rank") >= GR.RANK_SCALE)
    host = GR.host_of(F.col("url"))
    return (
        pages.select(host.alias("host"))
        .join(F.broadcast(auth), F.col("host") == F.col("node"))
        .groupBy("host", "rank")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pages"))
    )


def _sql_authority_pages() -> str:
    parts = [f"edges AS ({_sql_host_edges()})"]
    parts += GR.sql_pagerank_parts("edges", iters=_PAGERANK_ITERS)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT h.host, r.rank, CAST(count(*) AS BIGINT) AS n_pages
FROM (SELECT {GR.sql_host_of('url')} AS host
      FROM {_SQL_LINK_PLANTED}) h
JOIN r{_PAGERANK_ITERS} r ON h.host = r.node
WHERE r.rank >= {GR.RANK_SCALE}
GROUP BY h.host, r.rank"""
    )


def _q_cdx_records(spark: SparkSession, sf: str) -> DataFrame:
    # CDX index records: SURT key + the 14-digit CDX timestamp +
    # content digest, the (key, ts, hash) triple a capture index stores
    # — composition of surt_key, the pages derive, and the manifest
    # hash rule (uppercase sha256)
    p = P.pages_with_derived(spark, sf)
    return p.select(
        U.surt_key(U.url_canonicalize(F.col("url"))).alias("surt"),
        F.date_format("warc_ts", "yyyyMMddHHmmss").alias("cdx_ts"),
        F.col("text_sha256").alias("digest"),
    )


def _sql_cdx_records() -> str:
    canon = U.sql_canonical_select("pages", "url", "doc_id")
    return (
        _with(f"canon AS ({canon})")
        + f"""
SELECT {U.sql_surt_key('c.canonical_url')} AS surt,
       strftime(p.warc_ts, '%Y%m%d%H%M%S') AS cdx_ts,
       p.text_sha256 AS digest
FROM pages p JOIN canon c ON p.doc_id = c.doc_id"""
    )


def _q_latest_capture(spark: SparkSession, sf: str) -> DataFrame:
    # CDX 'latest capture per URL key': max-(ts, doc_id) keeper on the
    # canonical key over the messy planted corpus + a planted recrawl
    # (every doc_id%4==0 page has a twin captured one day later)
    base = _url_planted(spark, sf).select(
        "doc_id",
        "url",
        F.expr(
            "timestampadd(SECOND, CAST(doc_id * 137 AS INT),"
            " timestamp'2024-01-01 00:00:00')"
        ).alias("ts"),
    )
    recrawl = base.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "url",
        F.expr("timestampadd(DAY, 1, ts)").alias("ts"),
    )
    caps = base.unionByName(recrawl)
    canon = caps.select(
        "doc_id", "ts", U.url_canonicalize(F.col("url")).alias("curl")
    )
    best = canon.groupBy("curl").agg(
        F.max(F.struct("ts", "doc_id")).alias("b"),
        F.count(F.lit(1)).cast("long").alias("n_captures"),
    )
    return best.select(
        "curl",
        F.col("b.doc_id").alias("doc_id"),
        F.unix_timestamp("b.ts").alias("ts_epoch"),
        "n_captures",
    )


def _sql_latest_capture() -> str:
    canon = U.sql_canonical_select(_SQL_URL_PLANTED)
    return f"""WITH base AS (
  SELECT c.doc_id, c.canonical_url AS curl,
         TIMESTAMP '2024-01-01 00:00:00'
           + INTERVAL (CAST(c.doc_id * 137 AS INT)) SECOND AS ts
  FROM ({canon}) c
),
caps AS (
  SELECT doc_id, curl, ts FROM base
  UNION ALL
  SELECT doc_id + 1000000, curl, ts + INTERVAL 1 DAY
  FROM base WHERE doc_id % 4 = 0
)
SELECT curl, doc_id, ts_epoch, n_captures FROM (
  SELECT curl, doc_id, CAST(epoch(ts) AS BIGINT) AS ts_epoch,
         CAST(count(*) OVER (PARTITION BY curl) AS BIGINT) AS n_captures,
         row_number() OVER (PARTITION BY curl
                            ORDER BY ts DESC, doc_id DESC) AS rn
  FROM caps) WHERE rn = 1"""


def _q_robots_rules(spark: SparkSession, sf: str) -> DataFrame:
    # planted robots.txt per host: comment + Allow + EMPTY Disallow (an
    # allow-all line: must not match — the pattern requires a '/' path)
    # + two real Disallow lines with case/space variation
    d = F.col("doc_id")
    k = (d % 8).cast("string")
    txt = F.concat(
        F.lit("# robots for site"), k, F.lit("\nUser-agent: *\n"),
        F.lit("Disallow: /private"), k, F.lit("\n"),
        F.lit("Allow: /ok\nDisallow:\n"),
        F.lit("  disallow:\t/tmp\n"),
    )
    hosts = _docs(spark, sf).where(d < 8).select(
        F.concat(F.lit("site"), k, F.lit(".example.net")).alias("host"),
        txt.alias("robots_txt"),
    )
    return hosts.select(
        "host",
        F.explode(U.robots_disallows(F.col("robots_txt"))).alias(
            "path_prefix"
        ),
    )


def _sql_robots_rules() -> str:
    txt = (
        "'# robots for site' || CAST(doc_id % 8 AS VARCHAR)"
        " || chr(10) || 'User-agent: *' || chr(10)"
        " || 'Disallow: /private' || CAST(doc_id % 8 AS VARCHAR) || chr(10)"
        " || 'Allow: /ok' || chr(10) || 'Disallow:' || chr(10)"
        " || '  disallow:' || chr(9) || '/tmp' || chr(10)"
    )
    return f"""SELECT host, unnest({U.sql_robots_disallows('robots_txt')})
         AS path_prefix
FROM (SELECT 'site' || CAST(doc_id % 8 AS VARCHAR) || '.example.net' AS host,
             {txt} AS robots_txt
      FROM documents WHERE doc_id < 8) r"""


def _q_sitemap_urls(spark: SparkSession, sf: str) -> DataFrame:
    d = F.col("doc_id")
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc> https://s'),
        (d % 8).cast("string"),
        F.lit(".net/a/"),
        d.cast("string"),
        F.lit("</loc></url><url><loc>https://s"),
        (d % 8).cast("string"),
        F.lit(".net/b</loc></url><url><loc>/relative</loc></url></urlset>"),
    )
    return _docs(spark, sf).select(
        "doc_id", F.explode(U.sitemap_locs(xml)).alias("url")
    )


def _sql_sitemap_urls() -> str:
    xml = (
        "'<?xml version=\"1.0\"?><urlset><url><loc> https://s'"
        " || CAST(doc_id % 8 AS VARCHAR) || '.net/a/'"
        " || CAST(doc_id AS VARCHAR)"
        " || '</loc></url><url><loc>https://s'"
        " || CAST(doc_id % 8 AS VARCHAR)"
        " || '.net/b</loc></url><url><loc>/relative</loc></url></urlset>'"
    )
    return (
        f"SELECT doc_id, unnest({U.sql_sitemap_locs(xml)}) AS url"
        " FROM documents"
    )


def _bp_planted(spark: SparkSession, sf: str) -> DataFrame:
    d = F.col("doc_id")
    k = (d % 8).cast("string")
    text = F.concat(
        F.lit("NAV site"), k, F.lit(" menu\n\n"),
        F.col("text"),
        F.when(d % 3 == 0, F.lit("\n\npromo banner")).otherwise(F.lit("")),
        F.lit("\n\n(c) site"), k, F.lit(" footer"),
    )
    return _docs(spark, sf).select(
        F.concat(
            F.lit("https://site"), k, F.lit(".example.net/p/"),
            d.cast("string"),
        ).alias("url"),
        text.alias("text"),
    )


def _q_clean_pages(spark: SparkSession, sf: str) -> DataFrame:
    return CUR.remove_boilerplate(_bp_planted(spark, sf), min_pct=50)


def _q_host_degrees(spark: SparkSession, sf: str) -> DataFrame:
    return GR.host_degrees(GR.host_edges(_link_planted(spark, sf)))


def _q_mutual_links(spark: SparkSession, sf: str) -> DataFrame:
    return GR.mutual_links(GR.host_edges(_link_planted(spark, sf)))


def _q_host_components(spark: SparkSession, sf: str) -> DataFrame:
    return GR.connected_components(
        GR.host_edges(_link_planted(spark, sf))
    )


def _q_surt_keys(spark: SparkSession, sf: str) -> DataFrame:
    # SURT over the messy planted corpus: canonicalize first (the CDX
    # pipeline order), so case/port/tracking-param noise collapses and
    # the :8080 family exercises the kept-port path
    return _url_planted(spark, sf).select(
        "doc_id",
        U.surt_key(U.url_canonicalize(F.col("url"))).alias("surt"),
    )


def _q_warc_export(spark: SparkSession, sf: str) -> DataFrame:
    return WARC.warc_records(P.pages(spark, sf, with_html=True))


def _sql_warc_export() -> str:
    rel = (
        "(SELECT url, warc_ts,"
        " '<html><body>' || text || '</body></html>' AS html"
        " FROM pages) ph"
    )
    return _with() + "\n" + WARC.sql_warc_records(rel)


def _q_wet_export(spark: SparkSession, sf: str) -> DataFrame:
    """WET conversion records (sources/warc.py) — the extracted-text
    sibling of warc_export, WARC-Refers-To linking the two."""
    return WARC.wet_records(P.pages(spark, sf, with_html=True))


def _sql_wet_export() -> str:
    rel = (
        "(SELECT url, warc_ts,"
        " '<html><body>' || text || '</body></html>' AS html"
        " FROM pages) ph"
    )
    return _with() + "\n" + WARC.sql_wet_records(rel)


def _q_fetch_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """Politeness-complete crawl schedule (operators/graph.py) over the
    planted frontier: per-host fetch-queue slots + scheduler shards."""
    return GR.fetch_schedule(GR.crawl_frontier(_link_planted(spark, sf)))


def _sql_fetch_schedule() -> str:
    frontier = GR.sql_crawl_frontier(_SQL_LINK_PLANTED)
    return GR.sql_fetch_schedule(f"({frontier})")


# planted per-host Crawl-delay registry for politeness_schedule: hosts
# site0..7 declare delays 1..8 s; every other frontier host has no
# robots (delay 0 -> floored to the 1 s default)
def _delay_planted(spark: SparkSession, sf: str) -> DataFrame:
    d = F.col("doc_id")
    k = d % 8
    txt = F.concat(
        F.lit("User-agent: *\nCrawl-delay: "),
        (k + 1).cast("string"),
        F.lit("\nDisallow: /x\n"),
    )
    return _docs(spark, sf).where(d < 8).select(
        F.concat(F.lit("site"), k.cast("string"), F.lit(".example.net"))
        .alias("host"),
        U.robots_crawl_delay(txt).alias("delay_s"),
    )


_SQL_DELAY_TXT = (
    "'User-agent: *' || chr(10) || 'Crawl-delay: '"
    " || CAST(doc_id % 8 + 1 AS VARCHAR) || chr(10)"
    " || 'Disallow: /x' || chr(10)"
)


def _q_politeness_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """fetch_schedule composed with parsed robots Crawl-delay: each
    URL's earliest polite fetch offset is slot * max(delay, 1 s). The
    delay registry joins BROADCAST on host (hosts-sized at any corpus
    scale), so the frontier never reshuffles for it."""
    sched = GR.fetch_schedule(GR.crawl_frontier(_link_planted(spark, sf)))
    delays = _delay_planted(spark, sf)
    return sched.join(F.broadcast(delays), "host", "left").select(
        "url",
        "host",
        "shard",
        "slot",
        (
            F.col("slot")
            * F.greatest(F.coalesce(F.col("delay_s"), F.lit(0)), F.lit(1))
        ).cast("long").alias("fetch_offset_s"),
    )


def _sql_politeness_schedule() -> str:
    frontier = GR.sql_crawl_frontier(_SQL_LINK_PLANTED)
    sched = GR.sql_fetch_schedule(f"({frontier})")
    delay = U.sql_robots_crawl_delay(_SQL_DELAY_TXT)
    return f"""SELECT s.url, s.host, s.shard, s.slot,
  CAST(s.slot * GREATEST(COALESCE(r.delay_s, 0), 1) AS BIGINT)
    AS fetch_offset_s
FROM ({sched}) s
LEFT JOIN (SELECT 'site' || CAST(doc_id % 8 AS VARCHAR)
                    || '.example.net' AS host,
                  {delay} AS delay_s
           FROM documents WHERE doc_id < 8) r
  ON s.host = r.host"""


def _q_host_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Degree-oriented triangle enumeration (operators/graph.py) over
    the planted host graph; oracle is the lexical 3-join."""
    return GR.host_triangles(GR.host_edges(_link_planted(spark, sf)))


def _q_host_clustering(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-integer local clustering coefficients over the planted
    host graph (triangles x degrees, milli-scale truncating div)."""
    return GR.host_clustering(GR.host_edges(_link_planted(spark, sf)))


def _q_mirror_hosts(spark: SparkSession, sf: str) -> DataFrame:
    """Mirror-host candidates (operators/graph.py): capped outlink-set
    overlap with exact-integer Jaccard."""
    return GR.mirror_hosts(GR.host_edges(_link_planted(spark, sf)))


#: seed-whitelist rule for trustrank/bfs: hosts whose md5 hex digest
#: starts 0-3 (engine-neutral — Spark and DuckDB both emit lowercase
#: hex md5 of the UTF-8 bytes). Stands in for the human-curated trust
#: list TrustRank assumes; on the planted graph it selects site3,
#: site11, site12 (ext.example.com is a non-seed dangling host, so the
#: dangling-mass-to-seeds path is exercised).
_SEED_MD5_MAX = "3"


def _trust_seeds(spark: SparkSession, sf: str) -> DataFrame:
    pages = _link_planted(spark, sf)
    node = GR.host_of(F.col("url"))
    return (
        pages.select(node.alias("node"))
        .distinct()
        .where(F.substring(F.md5(F.col("node")), 1, 1) <= _SEED_MD5_MAX)
    )


def _sql_trust_seeds() -> str:
    h = GR.sql_host_of("url")
    return (
        f"SELECT node FROM (SELECT DISTINCT {h} AS node"
        f" FROM {_SQL_LINK_PLANTED}) hh"
        f" WHERE substr(md5(node), 1, 1) <= '{_SEED_MD5_MAX}'"
    )


def _q_trustrank_hosts(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-int64 TrustRank (operators/graph.py): PageRank ladder with
    teleport + dangling mass confined to the md5-rule seed whitelist."""
    edges = GR.host_edges(_link_planted(spark, sf))
    return GR.trustrank(edges, _trust_seeds(spark, sf), iters=_PAGERANK_ITERS)


def _sql_trustrank_hosts() -> str:
    parts = [
        f"edges AS ({_sql_host_edges()})",
        f"seeds AS ({_sql_trust_seeds()})",
    ]
    parts += GR.sql_trustrank_parts("edges", "seeds", iters=_PAGERANK_ITERS)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, rank FROM t{_PAGERANK_ITERS}"
    )


_BFS_DEPTH = 3


def _q_bfs_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl depth (operators/graph.py): min link distance from the
    seed whitelist, bounded at _BFS_DEPTH hops."""
    edges = GR.host_edges(_link_planted(spark, sf))
    return GR.bfs_depth(edges, _trust_seeds(spark, sf), max_depth=_BFS_DEPTH)


def _q_bowtie(spark: SparkSession, sf: str) -> DataFrame:
    """Broder bow-tie map (operators/graph.py): SCC/IN/OUT/OTHER
    regions around the md5-rule seed set on the planted link graph."""
    edges = GR.host_edges(_link_planted(spark, sf))
    return GR.bowtie_regions(
        edges, _trust_seeds(spark, sf), max_depth=_BFS_DEPTH
    )


_KCORE_K = 3
_KCORE_ROUNDS = 3


def _q_kcore_hosts(spark: SparkSession, sf: str) -> DataFrame:
    """k-core peel (operators/graph.py) over the undirected host graph;
    fixed round count, oracle-unrolled."""
    edges = GR.host_edges(_link_planted(spark, sf))
    return GR.kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


def _q_degree_mixing(spark: SparkSession, sf: str) -> DataFrame:
    """Newman degree-assortativity sufficient statistics
    (operators/graph.py) as one exact-BIGINT row."""
    return GR.degree_mixing(GR.host_edges(_link_planted(spark, sf)))


def _captures_planted(spark: SparkSession, sf: str) -> DataFrame:
    """CDX-style capture history planted over pages: every page has one
    base capture; doc_id%4==0 pages get a +1-day recrawl (digest CHANGED
    when doc_id%8==0, byte-identical otherwise); doc_id%16==0 pages get
    a +2-day third capture (changed again when doc_id%32==0, else it
    repeats the v2 digest — all %16 pages are %8 pages, so the v2
    digest IS the previous one)."""
    p = P.pages_with_derived(spark, sf).select(
        "doc_id", "url", "warc_ts", F.col("text_sha256").alias("digest")
    )
    v2 = F.upper(F.sha2(F.concat(F.col("digest"), F.lit("v2")), 256))
    v3 = F.upper(F.sha2(F.concat(F.col("digest"), F.lit("v3")), 256))
    c0 = p.select("url", F.col("warc_ts").alias("ts"), "digest")
    c1 = p.where(F.col("doc_id") % 4 == 0).select(
        "url",
        F.expr("timestampadd(DAY, 1, warc_ts)").alias("ts"),
        F.when(F.col("doc_id") % 8 == 0, v2).otherwise(F.col("digest")).alias(
            "digest"
        ),
    )
    c2 = p.where(F.col("doc_id") % 16 == 0).select(
        "url",
        F.expr("timestampadd(DAY, 2, warc_ts)").alias("ts"),
        F.when(F.col("doc_id") % 32 == 0, v3).otherwise(v2).alias("digest"),
    )
    return c0.union(c1).union(c2)


_SQL_CAPTURES_PLANTED = """(
  SELECT url, warc_ts AS ts, text_sha256 AS digest FROM pages
  UNION ALL
  SELECT url, warc_ts + INTERVAL 1 DAY AS ts,
         CASE WHEN doc_id % 8 = 0 THEN upper(sha256(text_sha256 || 'v2'))
              ELSE text_sha256 END AS digest
  FROM pages WHERE doc_id % 4 = 0
  UNION ALL
  SELECT url, warc_ts + INTERVAL 2 DAY AS ts,
         CASE WHEN doc_id % 32 = 0 THEN upper(sha256(text_sha256 || 'v3'))
              ELSE upper(sha256(text_sha256 || 'v2')) END AS digest
  FROM pages WHERE doc_id % 16 = 0
)"""


def _q_capture_churn(spark: SparkSession, sf: str) -> DataFrame:
    """Per-url capture change history (operators/captures.py) over the
    planted CDX corpus."""
    return CAP.capture_churn(_captures_planted(spark, sf))


def _q_recrawl_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Adaptive recrawl bands (operators/captures.py): exact milli
    change rate + hot/warm/cold tiers."""
    return CAP.recrawl_priority(_captures_planted(spark, sf))


def _q_moran_tiles(spark: SparkSession, sf: str) -> DataFrame:
    """Global Moran's I sufficient statistics (operators/spatial.py)
    over the XYZ tile-count grid, rook adjacency, exact BIGINTs."""
    t = grid.tile_xyz(F.col("lat"), F.col("lon"), _TILE_Z)
    cells = (
        P.pages_with_derived(spark, sf)
        .select(t["x"].alias("x"), t["y"].alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return S.moran_stats(cells)


def _sql_moran_tiles() -> str:
    x, y = grid.sql_tile_xyz("lat", "lon", _TILE_Z)
    cells = (
        f"(SELECT x, y, CAST(count(*) AS BIGINT) AS n"
        f" FROM (SELECT {x} AS x, {y} AS y FROM pages) xy"
        f" GROUP BY 1, 2)"
    )
    # sql_moran_stats opens its own WITH; fold its CTEs into the
    # contract's pages WITH clause
    return _with() + ",\n" + S.sql_moran_stats(cells)[len("WITH ") :]


def _q_getis_ord(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cell Getis-Ord Gi* sufficient statistics (operators/
    spatial.py) over the XYZ tile-count grid, queen kernel incl. self,
    exact BIGINTs."""
    t = grid.tile_xyz(F.col("lat"), F.col("lon"), _TILE_Z)
    cells = (
        P.pages_with_derived(spark, sf)
        .select(t["x"].alias("x"), t["y"].alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return S.getis_ord_stats(cells)


def _sql_getis_ord() -> str:
    x, y = grid.sql_tile_xyz("lat", "lon", _TILE_Z)
    cells = (
        f"(SELECT x, y, CAST(count(*) AS BIGINT) AS n"
        f" FROM (SELECT {x} AS x, {y} AS y FROM pages) xy"
        f" GROUP BY 1, 2)"
    )
    return _with() + ",\n" + S.sql_getis_ord_stats(cells)[len("WITH ") :]


_ZLEVEL = 12   # Morton layout level (2^12 x 2^12 grid, 24-bit keys)
_GAP_RES = 6   # coverage-gap resolution (64 x 128 global cells)


def _q_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Morton physical-layout audit (operators/spatial.py): per top-level
    quadtree bucket, the (n_pages, z_min, z_max) stats min/max pruning
    consumes on the z-sorted table."""
    return S.zorder_layout_stats(
        P.pages_with_derived(spark, sf), level=_ZLEVEL, prefix_level=4
    )


def _q_zorder_bbox(spark: SparkSession, sf: str) -> DataFrame:
    """bbox_query's twin on the Morton-SORTED layout: driver-side range
    decomposition -> OR-of-BETWEEN on the layout key -> exact refilter.
    Same oracle as bbox_query — the range cover is semantics-free, so
    any decomposition bug is a row diff."""
    return S.zorder_bbox_query(
        P.pages_with_derived(spark, sf), *_BBOX, level=_ZLEVEL
    )


def _q_focal_smooth(spark: SparkSession, sf: str) -> DataFrame:
    """3x3 binomial focal convolution (operators/spatial.py) over the
    XYZ tile-count grid — the smoothed heat raster, exact BIGINTs."""
    t = grid.tile_xyz(F.col("lat"), F.col("lon"), _TILE_Z)
    cells = (
        P.pages_with_derived(spark, sf)
        .select(t["x"].alias("x"), t["y"].alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return S.focal_stats(cells, _TILE_Z)


def _sql_focal_smooth() -> str:
    x, y = grid.sql_tile_xyz("lat", "lon", _TILE_Z)
    cells = (
        f"(SELECT x, y, CAST(count(*) AS BIGINT) AS n"
        f" FROM (SELECT {x} AS x, {y} AS y FROM pages) xy"
        f" GROUP BY 1, 2)"
    )
    return _with() + ",\n" + S.sql_focal_stats(cells, _TILE_Z)[len("WITH ") :]


def _q_coverage_gaps(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-coverage holes (operators/spatial.py): cells of the bbox at
    res 6 with zero pages — generated universe LEFT ANTI occupied."""
    return S.coverage_gaps(
        P.pages_with_derived(spark, sf), *_BBOX, res=_GAP_RES
    )


def _q_rendezvous(spark: SparkSession, sf: str) -> DataFrame:
    """Rendezvous (HRW) shard per URL (operators/graph.py) — the
    resize-stable frontier sharding."""
    return GR.rendezvous_shards(
        P.pages_with_derived(spark, sf).select("url"), n_shards=8
    )


_AFF_RES = 3  # lang-region affinity resolution (8 x 16 global cells)


def _q_tile_bursts(spark: SparkSession, sf: str) -> DataFrame:
    """Space-time tile churn (operators/spatial.py): daily per-tile
    counts + previous-observed-day lag + exact-integer burst flag."""
    return S.tile_bursts(P.pages_with_derived(spark, sf), z=_TILE_Z)


def _q_tile_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-tile daily-count growth trend (operators/spatial.py): exact
    integer OLS sufficient stats, rebased epoch days."""
    return S.tile_trend(P.pages_with_derived(spark, sf), z=_TILE_Z)


def _q_lang_affinity(spark: SparkSession, sf: str) -> DataFrame:
    """Language-region PMI sufficient stats (operators/spatial.py):
    joint + marginal + total counts, all BIGINT, PMI downstream."""
    return S.lang_cell_affinity(P.pages_with_derived(spark, sf), res=_AFF_RES)


_DBSCAN_EPS, _DBSCAN_MINPTS = 6.0, 4  # mixed-role mix on the fixtures


def _q_dbscan(spark: SparkSession, sf: str) -> DataFrame:
    """DBSCAN density clustering (operators/spatial.py): bucketed
    eps-pairs -> core/border/noise + min-label density components."""
    return S.dbscan(
        P.pages_with_derived(spark, sf), _DBSCAN_EPS, _DBSCAN_MINPTS
    )


def _sql_dbscan() -> str:
    # the inner oracle is itself a WITH RECURSIVE — merge its CTE list
    # into the pages CTE chain (RECURSIVE prefixes the whole list)
    inner = S.sql_dbscan(_DBSCAN_EPS, _DBSCAN_MINPTS).strip()
    if not inner.startswith("WITH RECURSIVE "):
        # structural check on generated SQL must survive python -O
        raise ValueError("sql_dbscan no longer starts with WITH RECURSIVE")
    return (
        "WITH RECURSIVE "
        + _with()[len("WITH ") :]
        + ",\n"
        + inner[len("WITH RECURSIVE ") :]
    )


_RIPLEY_RADII = (1.0, 2.5, 5.0, 10.0)  # degree-space K-function radii


def _q_ripley(spark: SparkSession, sf: str) -> DataFrame:
    """Ripley's K pair counts (operators/spatial.py): cumulative pair
    counts per radius band, bucketed join once at max radius."""
    return S.ripley_pair_counts(
        P.pages_with_derived(spark, sf), _RIPLEY_RADII
    )


def _q_cell_extent(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cell bbox + mergeable centroid state (operators/spatial.py) —
    the tile-metadata rollup."""
    return S.cell_extent(P.pages_with_derived(spark, sf), res=4)


def _q_extent_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical extent rollup (operators/spatial.py): res-4 states
    merged to res-2 by addition/min/max. The oracle is the DIRECT res-2
    form — the driver check is the merge-associativity proof."""
    return S.cell_extent_rollup(
        P.pages_with_derived(spark, sf), res=4, parent_res=2
    )


_FETCH_BUDGET = 1000  # global per-cycle fetch budget for apportionment


def _q_fetch_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Hamilton largest-remainder fetch-budget apportionment across HRW
    shards (operators/graph.py) — sum(quota) == budget exactly."""
    return GR.fetch_budget(
        P.pages_with_derived(spark, sf).select("url"),
        budget=_FETCH_BUDGET,
        n_shards=8,
    )


def _sql_fetch_budget() -> str:
    # the inner oracle is itself a WITH — merge its CTE list into the
    # pages CTE chain
    inner = GR.sql_fetch_budget("pages", _FETCH_BUDGET, n_shards=8).strip()
    if not inner.startswith("WITH "):
        # structural check on generated SQL must survive python -O
        raise ValueError("sql_fetch_budget no longer starts with WITH")
    return _with() + ",\n" + inner[len("WITH ") :]


def _q_anchor_terms(spark: SparkSession, sf: str) -> DataFrame:
    return GR.anchor_terms(_link_planted(spark, sf))


def _q_crawl_frontier(spark: SparkSession, sf: str) -> DataFrame:
    return GR.crawl_frontier(_link_planted(spark, sf))


def _q_anchor_index(spark: SparkSession, sf: str) -> DataFrame:
    # URL-level anchor index: the planted next-page links (anchor
    # 'next {lang}') target REAL planted urls, so the fetched-set join
    # keeps exactly those
    return GR.anchor_index(_link_planted(spark, sf))


_GEOHASH_P = 4


def _q_geohash_counts(spark: SparkSession, sf: str) -> DataFrame:
    d = P.pages_with_derived(spark, sf)
    return d.groupBy(
        grid.geohash(F.col("lat"), F.col("lon"), _GEOHASH_P).alias("gh")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pages"))


def _sql_geohash_counts() -> str:
    gh = grid.sql_geohash("lat", "lon", _GEOHASH_P)
    return (
        f"SELECT {gh} AS gh, CAST(count(*) AS BIGINT) AS n_pages"
        " FROM pages GROUP BY 1"
    )


def _q_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    # postings_cap small enough that head terms exercise the df-only
    # ('' postings) path at every sf
    return SRCH.inverted_index(_docs(spark, sf), min_df=2, postings_cap=8)


def _q_pagerank_hosts(spark: SparkSession, sf: str) -> DataFrame:
    edges = GR.host_edges(_link_planted(spark, sf))
    return GR.pagerank(edges, iters=_PAGERANK_ITERS)


def _q_hits_hosts(spark: SparkSession, sf: str) -> DataFrame:
    # exact-integer HITS hubs/authorities over the planted link graph
    return GR.hits(GR.host_edges(_link_planted(spark, sf)), iters=3)


def _sql_hits_hosts() -> str:
    parts = [f"edges AS ({_sql_host_edges()})"]
    parts += GR.sql_hits_parts("edges", iters=3)
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT node, hub, auth FROM hits3"
    )


def _sql_pagerank_hosts() -> str:
    parts = [f"edges AS ({_sql_host_edges()})"]
    parts += GR.sql_pagerank_parts("edges", iters=_PAGERANK_ITERS)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, rank FROM r{_PAGERANK_ITERS}"
    )


def _q_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    sigs = D.minhash_signatures(_docs(spark, sf))
    return D.lsh_candidate_pairs(sigs)


def _q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    docs = _docs(spark, sf)
    pairs = D.lsh_candidate_pairs(D.minhash_signatures(docs))
    return D.ngram_jaccard_pairs(docs, pairs)


def _q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    return D.simhash_docs(_docs(spark, sf))


def _q_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    return SIM.cosine_topk(_emb(spark, sf), _ANN_QIDS, _ANN_K)


_ANN_MIN_RECALL = 0.5  # floor of the pinned recall tests; measured
# per-query minima: LSH 0.8, IVF 0.6 across sf0.01/sf0.1


def _q_emb_neardup(spark: SparkSession, sf: str) -> DataFrame:
    # distributed block-pair form: same values as the quadratic baseline
    # (bit-exact, shared oracle) without the full-corpus broadcast that
    # made the r01 contract query a cartesian bomb at scale
    return SIM.neardup_pairs_blocked(_emb(spark, sf), _NEARDUP_TAU)


def _q_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    # deterministic recall certificate vs the exact top-k (replaces the
    # r01 rows-only check): hyperplanes are hash-derived, ties break on
    # vec_id, so every row is TRUE unless recall regresses below floor
    emb = _emb(spark, sf)
    ann = SIM.ann_lsh_topk(emb, _ANN_QIDS, _ANN_K)
    exact = SIM.cosine_topk(emb, _ANN_QIDS, _ANN_K)
    return SIM.ann_recall_certificate(ann, exact, _ANN_K, _ANN_MIN_RECALL)


def _q_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    emb = _emb(spark, sf)
    ann = SIM.ann_ivf_topk(emb, _ANN_QIDS, _ANN_K, n_lists=16, nprobe=8)
    exact = SIM.cosine_topk(emb, _ANN_QIDS, _ANN_K)
    return SIM.ann_recall_certificate(ann, exact, _ANN_K, _ANN_MIN_RECALL)


def _q_multimodal(spark: SparkSession, sf: str) -> DataFrame:
    # contract canon: the float[8] feature vector is emitted as a fixed
    # %.6f CSV string — the driver's pandas canonicalizer cannot sort or
    # hash list cells (r01 harness ERR, VERDICT #1); the array form stays
    # the operator API (MM.extract_features)
    feats = MM.extract_features(P.pages(spark, sf, with_html=True))
    return feats.select(
        "url",
        "n_bytes",
        "content_sha256",
        F.concat_ws(
            ",", F.transform("feat", lambda x: F.format_string("%.6f", x))
        ).alias("feat_csv"),
    )


def _q_multimodal_frames(spark: SparkSession, sf: str) -> DataFrame:
    # row-expanding multimodal shape: video -> sampled frames
    return MM.sample_frames(P.pages(spark, sf, with_html=True), every_n=4)


_EXCL = CFG.Exclusions(
    names=["*3"],                      # DOS wildcard on the leaf segment
    folders=["zh"],                    # Name cascade over the full path
    paths=["/de/"],                    # case-insensitive path substring
    patterns=[r"/en/\d*0$"],           # regex on the full url
    attributes=["SparseFile", "NoSuchFlag"],  # flag registry + skip-unknown
)


def _q_exclusion_filter(spark: SparkSession, sf: str) -> DataFrame:
    # F3/F4: the compiled OR-of-ORs predicate, pushed into the scan
    return CFG.apply_exclusions(
        P.pages_with_derived(spark, sf), _EXCL
    ).select("doc_id", "url")


def _q_geofence_alerts(spark: SparkSession, sf: str) -> DataFrame:
    # spatial x streaming composition, batch form (= oracle); the
    # streaming twin's availableNow == batch convergence is pytest-pinned
    hits = SG.geofence_hits(SW.read_events(spark, sf), _POLYS)
    return SG.geofence_alerts_exact_users(hits).select(
        F.unix_timestamp("window_start").alias("window_start"),
        "poly_id",
        "n_events",
        "n_users",
    )


def _q_windowed_counts(spark: SparkSession, sf: str) -> DataFrame:
    # contract canon: timestamps as epoch seconds (window starts are hour
    # boundaries), DECIMAL sum stringified at fixed scale — both choices
    # driver-canon-proof (no tz-aware vs naive or Decimal-vs-float64
    # pandas dtype drift; VERDICT r01 "What's wrong" #3)
    return SW.windowed_counts(SW.read_events(spark, sf)).select(
        F.unix_timestamp("window_start").alias("window_start"),
        "event_type",
        "n_events",
        F.col("sum_value").cast("string").alias("sum_value"),
    )


def _q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    # contract canon: session bounds carry sub-second precision -> epoch
    # micros as BIGINT on both sides
    return SW.sessionize(SW.read_events(spark, sf)).select(
        "user_id",
        "session_id",
        F.unix_micros("session_start").alias("session_start"),
        F.unix_micros("session_end").alias("session_end"),
        "n_events",
    )


def _q_events_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # first-writer-wins twin (CheckSumFile.cs:146): winner row is
    # nondeterministic, so the contract projects the key set only
    return SW.stream_dedup(SW.read_events(spark, sf)).select("event_id")


def _q_asof_attribution(spark: SparkSession, sf: str) -> DataFrame:
    # as-of join (union-merge formulation) vs DuckDB's native ASOF JOIN
    return AS.attribute_to_last_view(SW.read_events(spark, sf))


def _q_events_enrich(spark: SparkSession, sf: str) -> DataFrame:
    # JSON property extraction (props is a JSON string column)
    ev = SW.read_events(spark, sf)
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("prop_k"),
        # explicit round: double->BIGINT cast truncates in Spark but
        # rounds in DuckDB; round() first makes both engines agree
        F.round(F.col("value") * 100, 0).cast("bigint").alias("value_cents"),
    )


def _q_tpch_pricing(spark: SparkSession, sf: str) -> DataFrame:
    # general relational surface (sum/avg battery the reference lacks,
    # SURVEY §2.5 "Absent" row) — TPC-H Q1 shape over lineitem.
    # DECIMAL sums: exact and order-independent (double sums' low bits
    # would depend on partial-aggregation order)
    li = spark.read.parquet(f"{sf}/lineitem.parquet")

    def dec(c: str):
        return F.col(c).cast("decimal(18,4)")

    disc_price = (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
        "decimal(28,8)"
    )
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).alias("sum_qty"),
            F.sum(dec("l_extendedprice")).alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.round(F.avg(dec("l_quantity")).cast("double"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        # contract canon: exact decimal sums stringified at their fixed
        # scale — Spark toPandas keeps DecimalType as decimal.Decimal
        # objects while DuckDB .df() degrades DECIMAL to float64, so a
        # numeric output can never hash-match (VERDICT r01 #4)
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("sum_qty").cast("string").alias("sum_qty"),
            F.col("sum_base_price").cast("string").alias("sum_base_price"),
            F.col("sum_disc_price").cast("string").alias("sum_disc_price"),
            "avg_qty",
            "count_order",
        )
    )


def _q_orders_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    # 3-way broadcast-dim join (orders ⋈ customer ⋈ nation) — the
    # multi-way join surface; dims broadcast, fact never shuffles
    o = spark.read.parquet(f"{sf}/orders.parquet")
    c = spark.read.parquet(f"{sf}/customer.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("string")
            .alias("total_price"),
        )
    )


def _q_merkle_diff(spark: SparkSession, sf: str) -> DataFrame:
    live = P.pages_with_derived(spark, sf)
    live_ladder = M.merkle_ladder(M.leaf_digests(live, LEAF), LEAF)
    stored = V.tampered_manifest(live)
    stored_ladder = M.merkle_ladder(M.digests_from_manifest(stored, LEAF), LEAF)
    return M.changed_cells(live_ladder, stored_ladder).select("res", "cell")


def _q_incremental_verify(spark: SparkSession, sf: str) -> DataFrame:
    # checkpoint = ladder of the stored (tampered) manifest; the Merkle
    # diff prunes the verify joins to leaf cells whose digest changed
    live = P.pages_with_derived(spark, sf)
    stored = V.tampered_manifest(live)
    ckpt = M.merkle_ladder(M.digests_from_manifest(stored, LEAF), LEAF)
    report, _changed = INC.incremental_verify(live, stored, ckpt, LEAF)
    return report


def _q_lineage(spark: SparkSession, sf: str) -> DataFrame:
    live = P.pages_with_derived(spark, sf)
    report = V.verify_tree(live, V.tampered_manifest(live))
    return INC.lineage(report, "r1")


# candidate frontier for the bloom probe: every 7th url is already in
# the store (must come back might_seen — Bloom has no false negatives),
# every 11th gets a '#new' suffix (definitely new; TRUE only on an fp)
def _q_bloom_frontier(spark: SparkSession, sf: str) -> DataFrame:
    pages = P.pages_with_derived(spark, sf)
    cand = (
        pages.where(F.col("doc_id") % 7 == 0)
        .select("url")
        .unionByName(
            pages.where(F.col("doc_id") % 11 == 0).select(
                F.concat(F.col("url"), F.lit("#new")).alias("url")
            )
        )
    )
    return SK.bloom_probe(SK.bloom_urls(pages), cand)


_SQL_BLOOM_CAND = """SELECT url FROM pages WHERE doc_id % 7 = 0
  UNION ALL
  SELECT url || '#new' AS url FROM pages WHERE doc_id % 11 = 0"""


def _q_hilbert_layout(spark: SparkSession, sf: str) -> DataFrame:
    return S.hilbert_layout_stats(P.pages_with_derived(spark, sf))


_SKEW_TOP = 10
_SKEW_TARGET = 100


def _q_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    pages = P.pages_with_derived(spark, sf)
    return DG.skew_report(
        pages, GR.host_of(F.col("url")), top=_SKEW_TOP, target=_SKEW_TARGET
    )


_LPA_ROUNDS = 3


def _q_lpa_communities(spark: SparkSession, sf: str) -> DataFrame:
    return GR.lpa_communities(
        GR.host_edges(_link_planted(spark, sf)), rounds=_LPA_ROUNDS
    )


_HB_TMAX = 3


def _q_hyperball(spark: SparkSession, sf: str) -> DataFrame:
    return GR.hyperball(
        GR.host_edges(_link_planted(spark, sf)), t_max=_HB_TMAX
    )


def _q_harmonic_centrality(spark: SparkSession, sf: str) -> DataFrame:
    return GR.harmonic_centrality(
        GR.host_edges(_link_planted(spark, sf)), t_max=_HB_TMAX
    )


def _q_distance_distribution(spark: SparkSession, sf: str) -> DataFrame:
    return GR.distance_distribution(
        GR.host_edges(_link_planted(spark, sf)), t_max=_HB_TMAX
    )


def _q_modularity(spark: SparkSession, sf: str) -> DataFrame:
    edges = GR.host_edges(_link_planted(spark, sf))
    return GR.modularity(
        edges, GR.lpa_communities(edges, rounds=_LPA_ROUNDS)
    )


def _q_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    # raw = the whole crawl; target = the English slice of documents (a
    # curated-corpus stand-in DISJOINT in distribution from the source
    # mix, so source/target token statistics — and hence the weights —
    # are non-degenerate; non-English tokens exercise the OOV canon)
    return CUR.dsir_weights(
        P.pages_with_derived(spark, sf),
        _docs(spark, sf).where(F.col("lang") == "en"),
    )


def _sql_dsir_weights() -> str:
    # the inner oracle is its own WITH — merge its CTE list into the
    # pages CTE chain (the _sql_dbscan composition surgery)
    inner = CUR.sql_dsir_weights(
        "SELECT url, text FROM pages",
        "(SELECT text FROM documents WHERE lang = 'en')",
    ).strip()
    if not inner.startswith("WITH "):
        raise ValueError("sql_dsir_weights no longer starts with WITH")
    return _with() + ",\n" + inner[len("WITH ") :]


def _sql_ladder() -> str:
    parts = [f"d{LEAF} AS ({M.sql_leaf_digests(LEAF)})"]
    for r in range(LEAF, 0, -1):
        parts.append(f"d{r - 1} AS ({M.sql_parent_digests(f'd{r}', r)})")
    union = "\nUNION ALL\n".join(
        f"SELECT res, cell, digest, n_children FROM d{r}"
        for r in range(LEAF, -1, -1)
    )
    return _with(*parts) + "\n" + union


def _sql_merkle_diff() -> str:
    """Live ladder LEFT JOIN stored-manifest ladder; keep new/changed."""
    parts = [f"stored AS ({V.sql_tampered_manifest()})"]
    parts.append(f"L{LEAF} AS ({M.sql_leaf_digests(LEAF)})")
    parts.append(
        f"S{LEAF} AS (SELECT {LEAF} AS res, cell, "
        "upper(sha256(string_agg(child_key || hash, '' ORDER BY child_key || hash))) AS digest, "
        "count(*) AS n_children FROM stored GROUP BY cell)"
    )
    for r in range(LEAF, 0, -1):
        parts.append(f"L{r - 1} AS ({M.sql_parent_digests(f'L{r}', r)})")
        parts.append(f"S{r - 1} AS ({M.sql_parent_digests(f'S{r}', r)})")
    lu = "\nUNION ALL\n".join(
        f"SELECT res, cell, digest FROM L{r}" for r in range(LEAF, -1, -1)
    )
    su = "\nUNION ALL\n".join(
        f"SELECT res, cell, digest FROM S{r}" for r in range(LEAF, -1, -1)
    )
    parts.append(f"lladder AS ({lu})")
    parts.append(f"sladder AS ({su})")
    return (
        _with(*parts)
        + """
SELECT coalesce(l.res, s.res) AS res, coalesce(l.cell, s.cell) AS cell
FROM lladder l FULL JOIN sladder s ON l.res = s.res AND l.cell = s.cell
WHERE s.digest IS NULL OR l.digest IS NULL OR l.digest != s.digest"""
    )


# ---------------------------------------------------------------------------
# registry — one record per query; the driver window comes first
# ---------------------------------------------------------------------------

class Query(NamedTuple):
    """A contract query: the Spark builder and a zero-argument callable
    returning the DuckDB oracle SQL over the same parquet views."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: Callable[[], str]


_STORED = f"stored AS ({V.sql_tampered_manifest()})"
_REPORT = f"report AS ({V.sql_verify_report()})"

# The driver executes the first WINDOW records. Every record, inside the
# window or not, is held to the same oracle parity gate at sf0.001 and
# sf0.01 (tests/test_demoted_contract.py).
WINDOW = 50

REGISTRY: tuple[Query, ...] = (
    Query("knn_geodesic", _q_knn_geodesic,
          lambda: _with() + "\n" + S.sql_knn_geodesic(_QPTS, _KNN_K)),
    Query("raster_pyramid", _q_raster_pyramid,
          lambda: _with() + "\n" + S.sql_raster_pyramid(6, 3)),
    Query("tile_counts", _q_tile_counts, lambda: _with() + "\n" + _sql_tile_counts()),
    Query("domain_quantiles", _q_domain_quantiles,
          lambda: _with() + "\n" + CUR.sql_domain_quantiles()),
    Query("html_meta", _q_html_meta, _sql_html_meta),
    Query("mime_kinds", _q_mime_kinds, _sql_mime_kinds),
    Query("readability", _q_readability, _sql_readability),
    Query("wet_export", _q_wet_export, _sql_wet_export),
    Query("c4_clean", _q_c4_clean, lambda: CUR.sql_c4_clean(_SQL_C4_PLANTED)),
    Query("unigram_surprisal", _q_surprisal, CUR.sql_unigram_surprisal),
    Query("capture_churn", _q_capture_churn, lambda: (
        _with(f"caps AS (SELECT * FROM {_SQL_CAPTURES_PLANTED} c)")
        + "\n"
        + CAP.sql_capture_churn("caps")
    )),
    Query("cocite_hosts", _q_cocite_hosts,
          lambda: GR.sql_cocitation(_sql_host_edges())),
    Query("hits_hosts", _q_hits_hosts, _sql_hits_hosts),
    Query("trustrank_hosts", _q_trustrank_hosts, _sql_trustrank_hosts),
    Query("kcore_hosts", _q_kcore_hosts, lambda: GR.sql_kcore(
        f"({_sql_host_edges()})",
        k=_KCORE_K,
        rounds=_KCORE_ROUNDS,
    )),
    Query("host_triangles", _q_host_triangles,
          lambda: GR.sql_host_triangles(f"({_sql_host_edges()})")),
    Query("mirror_hosts", _q_mirror_hosts,
          lambda: GR.sql_mirror_hosts(f"({_sql_host_edges()})")),
    Query("degree_mixing", _q_degree_mixing,
          lambda: GR.sql_degree_mixing(f"({_sql_host_edges()})")),
    Query("fetch_schedule", _q_fetch_schedule, _sql_fetch_schedule),
    Query("rendezvous_shards", _q_rendezvous,
          lambda: _with() + "\n" + GR.sql_rendezvous_shards("pages", n_shards=8)),
    Query("funnel", _q_funnel, FN.sql_funnel),
    Query("retention", _q_retention, FN.sql_retention),
    Query("getis_ord", _q_getis_ord, _sql_getis_ord),
    Query("ripley_k", _q_ripley,
          lambda: _with() + "\n" + S.sql_ripley_pair_counts(_RIPLEY_RADII)),
    Query("dbscan", _q_dbscan, _sql_dbscan),
    Query("focal_smooth", _q_focal_smooth, _sql_focal_smooth),
    Query("coverage_gaps", _q_coverage_gaps,
          lambda: _with() + "\n" + S.sql_coverage_gaps(*_BBOX, res=_GAP_RES)),
    Query("tile_bursts", _q_tile_bursts,
          lambda: _with() + "\n" + S.sql_tile_bursts(_TILE_Z)),
    Query("lang_affinity", _q_lang_affinity,
          lambda: _with() + "\n" + S.sql_lang_cell_affinity(_AFF_RES)),
    Query("cell_extent", _q_cell_extent, lambda: _with() + "\n" + S.sql_cell_extent(4)),
    Query("zorder_bbox", _q_zorder_bbox, lambda: _with() + "\n" + S.sql_bbox(*_BBOX)),
    Query("url_quality", _q_url_quality,
          lambda: U.sql_url_quality_select(_SQL_URL_PLANTED)),
    Query("crawl_traps", _q_crawl_traps,
          lambda: _with() + "\n" + CUR.sql_crawl_traps()),
    Query("semantic_dedup", _q_semantic_dedup,
          lambda: SIM.sql_semantic_dedup(_SEMDEDUP_TAU, _SEMDEDUP_MOD)),
    Query("winnow_pairs", _q_winnow_pairs, D.sql_winnow_pairs_query),
    Query("phrase_search", _q_phrase_search, lambda: SRCH.sql_phrase_search(_PHRASE)),
    Query("lang_temperature", _q_lang_temperature, SMP.sql_lang_temperature),
    Query("canonical_resolve", _q_canonical_resolve,
          lambda: GR.sql_canonical_resolve(_SQL_CANON_PLANTED)),
    Query("hybrid_search", _q_hybrid_search, _sql_hybrid_search),
    Query("kn_bigrams", _q_kn_bigrams,
          lambda: CUR.sql_kn_bigram_stats(min_count=_KN_MIN_COUNT)),
    Query("cms_tokens", _q_cms_tokens, SK.sql_cms_tokens),
    Query("hll_cells", _q_hll_cells,
          lambda: _with() + "\n" + SK.sql_hll_estimate(_RASTER_RES)),
    Query("adamic_adar", _q_adamic_adar, lambda: GR.sql_adamic_adar(_sql_host_edges())),
    Query("event_transitions", _q_event_transitions, FN.sql_event_transitions),
    Query("cdc_dedup", _q_cdc_dedup, _sql_cdc_dedup),
    Query("tile_classes", _q_tile_classes,
          lambda: _with() + "\n" + _sql_tile_classes()),
    Query("bowtie_regions", _q_bowtie, lambda: GR.sql_bowtie_regions(
        f"({_sql_host_edges()})",
        f"({_sql_trust_seeds()})",
        max_depth=_BFS_DEPTH,
    )),
    Query("bloom_frontier", _q_bloom_frontier, lambda: (
        _with(SK.sql_bloom_ctes(_SQL_BLOOM_CAND))
        + "\n"
        + SK.sql_bloom_probe_select()
    )),
    Query("pages_derive", _q_pages_derive, lambda: (
        _with()
        + "\nSELECT doc_id, url, warc_ts, lang, text_sha256, lat, lon, cell FROM pages"
    )),
    Query("verify_report", _q_verify_report,
          lambda: _with(_STORED) + "\n" + V.sql_verify_report()),
    # ---- end of the driver window ----
    Query("events_dedup", _q_events_dedup,
          lambda: "SELECT DISTINCT event_id FROM events"),
    Query("cell_digests_mergeable", _q_cell_digests_mergeable,
          lambda: _with() + "\n" + M.sql_mergeable_digests(LEAF)),
    Query("politeness_schedule", _q_politeness_schedule, _sql_politeness_schedule),
    Query("tile_trend", _q_tile_trend,
          lambda: _with() + "\n" + S.sql_tile_trend(_TILE_Z)),
    Query("raster_smooth", _q_raster_smooth,
          lambda: _with() + "\n" + S.sql_raster_smooth(_RASTER_RES)),
    Query("shingle_dups", _q_shingle_dups, D.sql_shingle_duplicates_query),
    Query("recrawl_priority", _q_recrawl_priority, lambda: (
        _with(f"caps AS (SELECT * FROM {_SQL_CAPTURES_PLANTED} c)")
        + "\n"
        + CAP.sql_recrawl_priority("caps")
    )),
    Query("bfs_depth", _q_bfs_depth, lambda: GR.sql_bfs_depth(
        f"({_sql_host_edges()})",
        f"({_sql_trust_seeds()})",
        max_depth=_BFS_DEPTH,
    )),
    Query("host_clustering", _q_host_clustering,
          lambda: GR.sql_host_clustering(f"({_sql_host_edges()})")),
    Query("fetch_budget", _q_fetch_budget, _sql_fetch_budget),
    Query("moran_tiles", _q_moran_tiles, _sql_moran_tiles),
    Query("extent_rollup", _q_extent_rollup,
          lambda: _with() + "\n" + S.sql_cell_extent(2)),
    Query("zorder_layout", _q_zorder_layout, lambda: (
        _with() + "\n" + S.sql_zorder_layout_stats(level=_ZLEVEL, prefix_level=4)
    )),
    Query("bigram_surprisal", _q_bigram_surprisal,
          lambda: CUR.sql_bigram_surprisal(min_count=_BG_MIN_COUNT)),
    Query("geohash_counts", _q_geohash_counts,
          lambda: _with() + "\n" + _sql_geohash_counts()),
    Query("hilbert_layout", _q_hilbert_layout, lambda: (
        _with(grid.sql_hilbert_ladder())
        + "\n"
        + S.sql_hilbert_layout_stats()
    )),
    Query("skew_report", _q_skew_report, lambda: (
        _with(DG.sql_skew_report("pages", GR.sql_host_of("url"), top=_SKEW_TOP))
        + "\n"
        + DG.sql_skew_report_select(target=_SKEW_TARGET)
    )),
    Query("lpa_communities", _q_lpa_communities,
          lambda: GR.sql_lpa_communities(_sql_host_edges(), rounds=_LPA_ROUNDS)),
    Query("hyperball", _q_hyperball,
          lambda: GR.sql_hyperball(_sql_host_edges(), t_max=_HB_TMAX)),
    Query("harmonic_centrality", _q_harmonic_centrality,
          lambda: GR.sql_harmonic_centrality(_sql_host_edges(), t_max=_HB_TMAX)),
    Query("distance_distribution", _q_distance_distribution,
          lambda: GR.sql_distance_distribution(_sql_host_edges(), t_max=_HB_TMAX)),
    # labels_rel is the full standalone LPA oracle nested as a derived
    # table (DuckDB scopes subquery CTEs; the q-prefixed names in
    # sql_modularity cannot collide with lpa's e0/und/edges/l* chain)
    Query("modularity", _q_modularity, lambda: GR.sql_modularity(
        _sql_host_edges(),
        GR.sql_lpa_communities(_sql_host_edges(), rounds=_LPA_ROUNDS),
    )),
    Query("dsir_weights", _q_dsir_weights, _sql_dsir_weights),
    Query("knn_adaptive", _q_knn_adaptive,
          lambda: _with() + "\n" + S.sql_knn(_QPTS, _KNN_K)),
    Query("simhash_buckets", _q_simhash_buckets, lambda: (
        f"WITH sh AS ({D.sql_simhash_docs_query()})\n"
        "SELECT simhash, count(*) AS n_docs, min(doc_id) AS keeper_id "
        "FROM sh GROUP BY simhash HAVING count(*) > 1"
    )),
    Query("uncompact_roundtrip", _q_uncompact_roundtrip, lambda: (
        f"SELECT DISTINCT cell FROM ({S.sql_rasterize(_POLYS, res=5)}) AS _m"
    )),
    Query("sample_hash", _q_sample_hash, lambda: SMP.sql_hash_sample(
        "CAST(doc_id AS VARCHAR)", _SAMPLE_FRACTION, "documents"
    )),
    Query("sample_stratified", _q_sample_stratified, lambda: SMP.sql_stratified_sample(
        "lang", _STRATA_N, "CAST(doc_id AS VARCHAR)", "documents",
        cols="doc_id, text, lang, source, n_chars",
    )),
    Query("mixture_weights", _q_mixture_weights,
          lambda: SMP.sql_mixture_weights("source", _MIX_TARGET, "documents")),
    Query("domain_stats", _q_domain_stats,
          lambda: _with() + "\n" + CUR.sql_domain_stats()),
    Query("repetition_stats", _q_repetition_stats, REP.sql_repetition_stats),
    Query("decontaminate", _q_decontaminate, lambda: REP.sql_decontaminate(
        f"(SELECT * FROM documents WHERE doc_id % {REP.BENCH_MOD} != 0)",
        f"(SELECT * FROM documents WHERE doc_id % {REP.BENCH_MOD} = 0)",
    )),
    Query("vocab_topk", _q_vocab_topk, CUR.sql_vocab_topk),
    Query("dup_clusters", _q_dup_clusters, D.sql_duplicate_clusters_query),
    Query("pii_scrub", _q_pii_scrub,
          lambda: SCRUB.sql_pii_scrub_query(_SQL_PII_PLANTED)),
    Query("paragraph_dedup", _q_paragraph_dedup,
          lambda: D.sql_paragraph_dedup_query(_SQL_PARA_DOCS)),
    Query("url_families", _q_url_families, lambda: (
        f"""
SELECT canonical_url, MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_variants
FROM ({U.sql_canonical_select(_SQL_URL_PLANTED)})
GROUP BY canonical_url"""
    )),
    Query("pack_chunks", _q_pack_chunks, lambda: PK.sql_pack_offsets("documents", 512)),
    Query("trending_terms", _q_trending_terms,
          lambda: _with() + "\n" + SW.sql_trending_terms("pages", 5)),
    Query("length_hist", _q_length_hist, lambda: (
        """SELECT CAST(length(bin(n_chars)) AS BIGINT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1"""
    )),
    Query("tfidf_terms", _q_tfidf, lambda: CUR.sql_tfidf_top_terms("documents", 3)),
    Query("bm25_topk", _q_bm25,
          lambda: SRCH.sql_bm25_search("documents", _BM25_QUERY, 20)),
    Query("inverted_index", _q_inverted_index,
          lambda: SRCH.sql_inverted_index(min_df=2, postings_cap=8)),
    Query("collocations", _q_collocations,
          lambda: CUR.sql_collocations_topk("documents", 20, 5)),
    Query("html_text", _q_html_text, _sql_html_text),
    Query("boilerplate", _q_boilerplate,
          lambda: CUR.sql_boilerplate_paras(_SQL_BP_PLANTED, 50)),
    Query("clean_pages", _q_clean_pages,
          lambda: CUR.sql_remove_boilerplate(_SQL_BP_PLANTED, 50)),
    Query("extract_links", _q_extract_links, lambda: (
        f"SELECT doc_id, unnest({HT.sql_extract_links('html')}) AS link"
        f" FROM {_SQL_LINK_PLANTED}"
    )),
    Query("host_graph", _q_host_graph, _sql_host_edges),
    Query("pagerank_hosts", _q_pagerank_hosts, _sql_pagerank_hosts),
    Query("host_components", _q_host_components,
          lambda: GR.sql_connected_components(_sql_host_edges())),
    Query("host_degrees", _q_host_degrees,
          lambda: GR.sql_host_degrees(_sql_host_edges())),
    Query("mutual_links", _q_mutual_links,
          lambda: GR.sql_mutual_links(_sql_host_edges())),
    Query("anchor_terms", _q_anchor_terms,
          lambda: GR.sql_anchor_terms(_SQL_LINK_PLANTED)),
    Query("anchor_index", _q_anchor_index,
          lambda: GR.sql_anchor_index(_SQL_LINK_PLANTED)),
    Query("authority_pages", _q_authority_pages, _sql_authority_pages),
    Query("crawl_frontier", _q_crawl_frontier,
          lambda: GR.sql_crawl_frontier(_SQL_LINK_PLANTED)),
    Query("frontier_shards", _q_frontier_shards, _sql_frontier_shards),
    Query("robots_rules", _q_robots_rules, _sql_robots_rules),
    Query("robots_filter", _q_robots_filter,
          lambda: _with() + "\n" + _sql_robots_filter()),
    Query("sitemap_urls", _q_sitemap_urls, _sql_sitemap_urls),
    Query("surt_keys", _q_surt_keys, lambda: (
        f"SELECT doc_id, {U.sql_surt_key('canonical_url')} AS surt"
        f" FROM ({U.sql_canonical_select(_SQL_URL_PLANTED)}) c"
    )),
    Query("cdx_records", _q_cdx_records, _sql_cdx_records),
    Query("latest_capture", _q_latest_capture, _sql_latest_capture),
    Query("warc_export", _q_warc_export, _sql_warc_export),
    Query("domain_subtree", _q_domain_subtree, _sql_domain_subtree),
    # identical output contract to hotspots — the scale path must
    # reproduce the driver-side union-find's components exactly
    Query("hotspots_distributed", _q_hotspots_distributed, lambda: (
        "WITH RECURSIVE "
        + P.pages_cte(LEAF)
        + ",\n"
        + S.sql_hotspots(_HOTSPOT_RES, _HOTSPOT_MIN)
    )),
    Query("polygon_stats", _q_polygon_stats, lambda: S.sql_polygon_stats(
        f"(VALUES {S.sql_polygon_values(_POLYS)}) AS p(poly_id, wkt)"
    )),
    Query("track_length", _q_track_length, TJ.sql_track_length),
    Query("track_cells", _q_track_cells, lambda: TJ.sql_track_cells(_TRACK_RES)),
    Query("poly_join", _q_poly_join, lambda: S.sql_poly_intersection_join(
        S.default_polygons(8), _POLYS_B, _POLY_JOIN_RES
    )),
    Query("interval_join", _q_interval_join, lambda: (
        f"""
WITH sess AS ({SW.sql_sessionize()})
SELECT e.event_id, e.user_id, s.session_id
FROM events e JOIN sess s
  ON e.user_id = s.user_id
 AND epoch_us(e.ts) BETWEEN s.session_start AND s.session_end"""
    )),
    Query("kmv_cells", _q_kmv_cells,
          lambda: _with() + "\n" + SK.sql_kmv_estimate(_RASTER_RES)),
    Query("cell_embeddings", _q_cell_embeddings, lambda: (
        _with()
        + """
SELECT cell, dim, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(CAST(val AS DOUBLE), 6) AS DECIMAL(24,6)))
            AS VARCHAR) AS s
FROM (
  SELECT p.cell,
         CAST(unnest(generate_series(0, len(e.embedding) - 1)) AS INT)
           AS dim,
         unnest(e.embedding) AS val
  FROM pages p JOIN embeddings e ON p.doc_id = e.vec_id)
GROUP BY cell, dim"""
    )),
    Query("multimodal_features", _q_multimodal,
          lambda: MM.sql_features_query(P.pages_cte(LEAF))),
    Query("multimodal_frames", _q_multimodal_frames,
          lambda: MM.sql_frames_query(P.pages_cte(LEAF))),
    Query("exclusion_filter", _q_exclusion_filter, lambda: (
        _with()
        + f"\nSELECT doc_id, url FROM pages WHERE NOT {CFG.sql_exclusion_predicate(_EXCL)}"
    )),
    Query("geofence_alerts", _q_geofence_alerts,
          lambda: SG.sql_geofence_alerts(_POLYS)),
    Query("windowed_counts", _q_windowed_counts, SW.sql_windowed_counts),
    Query("sessionize", _q_sessionize, SW.sql_sessionize),
    Query("asof_attribution", _q_asof_attribution, AS.sql_attribute_to_last_view),
    Query("events_enrich", _q_events_enrich, lambda: (
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT)"
        " AS prop_k, CAST(round(value * 100, 0) AS BIGINT) AS value_cents"
        " FROM events"
    )),
    Query("tpch_pricing", _q_tpch_pricing, lambda: (
        """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR)
         AS sum_base_price,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
           * (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,8)))
           AS VARCHAR)
         AS sum_disc_price,
       round(CAST(avg(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus"""
    )),
    Query("orders_by_nation", _q_orders_by_nation, lambda: (
        """
SELECT n_name, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n_name"""
    )),
    Query("merkle_diff", _q_merkle_diff, _sql_merkle_diff),
    # frontier = leaf cells whose live digest differs from the digest of
    # the stored manifest (full-outer: either-side-only cells count).
    # Digests compare hash STRINGS, so md5-algo entries flag their cell
    # even when content verifies OK — the frontier is conservative, and
    # the oracle reproduces that exactly.
    Query("incremental_verify", _q_incremental_verify, lambda: (
        _with(
            _STORED,
            f"live_d AS ({M.sql_leaf_digests(LEAF)})",
            "stored_d AS (SELECT cell, upper(sha256(string_agg("
            "child_key || hash, '' ORDER BY child_key || hash))) AS digest "
            "FROM stored GROUP BY cell)",
            "chg AS (SELECT coalesce(l.cell, s.cell) AS cell "
            "FROM live_d l FULL JOIN stored_d s ON l.cell = s.cell "
            "WHERE l.digest IS NULL OR s.digest IS NULL OR l.digest != s.digest)",
            _REPORT,
        )
        + """
SELECT r.cell, r.child_key, r.status, r.algo, r.stored_hash, r.computed_hash
FROM report r SEMI JOIN chg c ON r.cell = c.cell"""
    )),
    Query("lineage", _q_lineage, lambda: (
        _with(_STORED, _REPORT)
        + """
SELECT 'r1' AS run_id, cell, count(*) AS n_rows,
       CAST(sum(CASE WHEN status = 'OK' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
       CAST(sum(CASE WHEN status = 'FAIL' THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
       CAST(sum(CASE WHEN status = 'ADDED' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(sum(CASE WHEN status = 'MISSING' THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
FROM report GROUP BY cell"""
    )),
    Query("ann_ivf_recall", _q_ann_ivf,
          lambda: SIM.sql_recall_certificate(_ANN_QIDS, _ANN_K)),
    Query("verify_counts", _q_verify_counts, lambda: (
        _with(_STORED, _REPORT)
        + "\nSELECT status, count(*) AS n FROM report GROUP BY status"
    )),
    Query("manifest_leaf", _q_manifest_leaf, lambda: (
        _with()
        + f"\nSELECT {LEAF} AS res, cell, url AS child_key, 'sha256' AS algo,"
        " text_sha256 AS hash FROM pages"
    )),
    Query("merkle_ladder", _q_merkle_ladder, _sql_ladder),
    Query("verify_keys", _q_verify_keys, lambda: (
        _with(
            """k AS (
  SELECT url, lower(text_sha256) AS provided_hash FROM pages WHERE doc_id = 1
  UNION ALL
  SELECT url, reverse(text_sha256) FROM pages WHERE doc_id = 2
  UNION ALL
  SELECT (SELECT url FROM pages WHERE doc_id = 1) || '#nope', 'ABC123')"""
        )
        + """
SELECT k.url, k.provided_hash, p.text_sha256 AS computed_hash,
  CASE WHEN p.url IS NULL THEN 'MISSING'
       WHEN lower(p.text_sha256) = lower(k.provided_hash) THEN 'OK'
       ELSE 'FAIL' END AS status
FROM k LEFT JOIN pages p ON k.url = p.url"""
    )),
    Query("report_log", _q_report_log, lambda: (
        _with(_STORED, _REPORT)
        + """
SELECT string_agg(line, chr(10) ORDER BY line) AS log,
       CAST(count(*) AS BIGINT) AS n_lines
FROM (
  SELECT CASE WHEN status = 'FAIL'
              THEN 'FAIL: Hash mismatch: ' || child_key || '.'
              ELSE 'The file ''' || child_key || ''' does not exist.' END AS line
  FROM report WHERE status IN ('FAIL', 'MISSING'))"""
    )),
    Query("manifest_text_roundtrip", _q_manifest_text_roundtrip, lambda: (
        _with(
            """lines AS (
  SELECT CASE WHEN doc_id % 10 = 0 THEN url || '|' || text_sha256
              WHEN doc_id % 10 = 1 THEN url || '|crc32|' || text_sha256
              WHEN doc_id % 10 = 2 THEN url || '|MD5|' || upper(md5(text))
              ELSE url || '|sha256|' || text_sha256 END AS value
  FROM pages)""",
            "parts AS (SELECT string_split(value, '|') AS p FROM lines"
            " WHERE length(trim(value)) > 0)",
        )
        + """
SELECT p[1] AS child_key,
       CASE WHEN lower(trim(p[2])) IN ('md5','sha1','sha256','sha512')
            THEN lower(trim(p[2])) ELSE 'sha256' END AS algo,
       p[3] AS hash
FROM parts WHERE len(p) = 3"""
    )),
    Query("manifest_remove_missing", _q_manifest_remove_missing, lambda: (
        _with(_STORED)
        + """
SELECT s.cell, s.child_key, s.algo, s.hash
FROM stored s SEMI JOIN pages p ON s.cell = p.cell AND s.child_key = p.url"""
    )),
    Query("pip_pages", _q_pip_pages, lambda: _with() + "\n" + S.sql_pip(_POLYS)),
    Query("knn", _q_knn, lambda: _with() + "\n" + S.sql_knn(_QPTS, _KNN_K)),
    Query("distance_join", _q_distance_join,
          lambda: _with() + "\n" + S.sql_distance_self_join(_DJ_RADIUS)),
    Query("nn_join", _q_nn_join, lambda: _with() + "\n" + S.sql_nn_join()),
    Query("raster_cells", _q_raster,
          lambda: _with() + "\n" + S.sql_raster(_RASTER_RES)),
    Query("rasterize_polys", _q_rasterize, lambda: S.sql_rasterize(_POLYS, res=5)),
    Query("compact_cells", _q_compact_cells, lambda: S.sql_compact(
        5, f"(SELECT DISTINCT cell FROM ({S.sql_rasterize(_POLYS, res=5)}) AS _m) AS _mask"
    )),
    Query("bbox_query", _q_bbox, lambda: _with() + "\n" + S.sql_bbox(*_BBOX)),
    Query("zonal_stats", _q_zonal_stats,
          lambda: _with() + "\n" + S.sql_zonal_stats(_POLYS)),
    Query("top_lang_cell", _q_top_lang_cell,
          lambda: _with() + "\n" + S.sql_top_lang_per_cell(_RASTER_RES)),
    Query("raster_diff", _q_raster_diff, lambda: (
        _with() + "\n" + S.sql_raster_diff(
            _RASTER_RES, "doc_id % 2 = 0", "doc_id % 2 = 1"
        )
    )),
    # RECURSIVE must sit on the single WITH covering all CTEs
    Query("hotspots", _q_hotspots, lambda: (
        "WITH RECURSIVE "
        + P.pages_cte(LEAF)
        + ",\n"
        + S.sql_hotspots(_HOTSPOT_RES, _HOTSPOT_MIN)
    )),
    Query("od_matrix", _q_od_matrix, TJ.sql_od_matrix),
    Query("raster_users", _q_raster_users, TJ.sql_raster_users),
    Query("fence_dwells", _q_fence_dwells, lambda: TJ.sql_fence_dwells(_POLYS)),
    Query("doc_stats", _q_doc_stats, lambda: (
        "SELECT doc_id, "
        + ", ".join(
            f"{expr} AS {name}" for name, expr in TX.sql_quality_select().items()
        )
        + " FROM documents"
    )),
    Query("lang_id", _q_lang_id,
          lambda: f"SELECT doc_id, {TX.sql_lang_id()} AS lang_pred FROM documents"),
    Query("fingerprint", _q_fingerprint, lambda: (
        f"SELECT doc_id, {TX.sql_fingerprint('text')} AS fp, "
        f"CAST(len({TX.sql_tokens('text')}) AS INT) AS n_tokens FROM documents"
    )),
    Query("dedup_exact", _q_dedup_exact, lambda: (
        f"SELECT fp, min(doc_id) AS keeper_id, count(*) AS n_copies FROM "
        f"(SELECT doc_id, {TX.sql_fingerprint('text')} AS fp FROM documents) "
        f"GROUP BY fp"
    )),
    Query("curation_stats", _q_curation_stats, CUR.sql_curation_stats),
    Query("dedup_minhash", _q_dedup_minhash, D.sql_lsh_pairs_query),
    Query("ngram_jaccard", _q_ngram_jaccard, D.sql_ngram_jaccard_query),
    Query("simhash", _q_simhash, D.sql_simhash_docs_query),
    Query("ann_cosine_topk", _q_ann_topk,
          lambda: SIM.sql_cosine_topk_query(_ANN_QIDS, _ANN_K)),
    Query("ann_quantized_topk", _q_ann_quantized_topk,
          lambda: SIM.sql_cosine_topk_quantized_query(_ANN_QIDS, _ANN_K)),
    Query("emb_neardup", _q_emb_neardup, lambda: SIM.sql_neardup_query(_NEARDUP_TAU)),
    Query("ann_lsh_recall", _q_ann_lsh,
          lambda: SIM.sql_recall_certificate(_ANN_QIDS, _ANN_K)),
    Query("cell_digests", _q_cell_digests,
          lambda: _with() + "\n" + M.sql_leaf_digests(LEAF)),
    Query("cell_digests_salted", _q_cell_digests_salted,
          lambda: _with() + "\n" + M.sql_salted_digests(LEAF)),
    Query("point_verify", _q_point_verify, lambda: (
        _with()
        + """
SELECT url, text_sha256 AS computed_hash, TRUE AS match
FROM pages WHERE doc_id = 1"""
    )),
    Query("verify_cell", _q_verify_cell, lambda: (
        _with(
            "pages_f AS (SELECT * FROM pages WHERE cell = "
            "(SELECT cell FROM pages WHERE doc_id = 1))",
            f"stored_f AS ({V.sql_tampered_manifest('pages_f')})",
        )
        + "\n"
        + V.sql_verify_report("pages_f", "stored_f")
    )),
    Query("hash_only", _q_hash_only, lambda: (
        _with()
        + "\nSELECT url, text_sha256 AS hash FROM pages WHERE doc_id = 2"
    )),
    Query("pip_pages_sql", _q_pip_pages_sql,
          lambda: _with() + "\n" + S.sql_pip(_POLYS)),
    Query("pip_counts", _q_pip_counts, lambda: (
        _with(f"pip AS ({S.sql_pip(_POLYS)})")
        + "\nSELECT poly_id, count(*) AS n_pages FROM pip GROUP BY poly_id"
    )),
    Query("knn_ring", _q_knn_ring, lambda: _with() + "\n" + S.sql_knn(_QPTS, _KNN_K)),
    Query("raster_zoom", _q_raster_zoom,
          lambda: _with() + "\n" + S.sql_raster(_RASTER_RES)),
    Query("raster_vectorize", _q_raster_vectorize, lambda: (
        _with(f"raster AS ({S.sql_raster(_RASTER_RES)})")
        + "\n"
        + S.sql_raster_vectorize(_RASTER_RES)
    )),
)


def registry() -> tuple[Query, ...]:
    return REGISTRY


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver window: the first WINDOW records, in registry order."""
    return {q.name: q.build for q in REGISTRY[:WINDOW]}


def oracle_sql() -> dict[str, str]:
    """Oracle SQL for the driver window; keys match queries() exactly."""
    return {q.name: q.oracle() for q in REGISTRY[:WINDOW]}
