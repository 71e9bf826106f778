"""Session factory: the generated-code cache holds a whole pass.

Spark keeps compiled whole-stage-codegen classes in an LRU cache of
``spark.sql.codegen.cache.maxEntries`` entries (default 100). A pass of
the spatial + graph operator mix needs more classes than that, so with
the default every repeated pass recompiles them all with Janino.
"""

from __future__ import annotations

from fileverification_spark.operators import graph as GR
from fileverification_spark.operators import manifest as M
from fileverification_spark.operators import spatial as S
from fileverification_spark.plans.explain import codegen_counters
from fileverification_spark.session import CODEGEN_CACHE_ENTRIES
from fileverification_spark.sources import bench_io
from fileverification_spark.sources import pages as P


def test_session_sizes_codegen_cache(spark):
    assert CODEGEN_CACHE_ENTRIES > 100
    got = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert got == str(CODEGEN_CACHE_ENTRIES)


def _mix_pass(spark, pages_path: str, links_path: str) -> None:
    """One pass of the spatial_graph operator mix over the fixtures."""
    pages = spark.read.parquet(pages_path)
    S.zonal_stats(
        S.pip_join(pages, S.default_polygons(), P.LEAF_RES, keep=("lang",))
    ).collect()
    S.knn_ring(pages, S.default_query_points(6), 5, res=3, rings=4).collect()
    S.raster_pyramid(pages, 6, 2).collect()
    M.mergeable_digests(pages, P.LEAF_RES).collect()
    edges = GR.host_edges(spark.read.parquet(links_path)).persist()
    GR.connected_components(edges).collect()
    GR.lpa_communities(edges, 3).collect()
    edges.unpersist(blocking=True)


def _empty_codegen_cache(spark) -> None:
    # The cache is JVM-wide and earlier tests already ran these operators
    # in this JVM; empty it (a private field, hence reflection) so the
    # first pass starts cold.
    jvm = spark.sparkContext._jvm
    gen = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = gen.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()


def test_repeated_pass_compiles_nothing(spark, pages_small, tmp_path):
    # materialised derived pages, as the benchmark's spatial_graph reads
    pages_path = str(tmp_path / "pages")
    pages_small.write.parquet(pages_path)
    links_path = bench_io.materialise_links(
        spark, pages_path, str(tmp_path), n_files=4
    )
    _empty_codegen_cache(spark)
    compiles = []
    for _ in range(2):
        before = codegen_counters(spark)["compiles"]
        _mix_pass(spark, pages_path, links_path)
        compiles.append(codegen_counters(spark)["compiles"] - before)
    # a cold pass needs more classes than the default 100 entries hold,
    # so at the default size the second pass would recompile them
    assert compiles[0] > 100, compiles
    assert compiles[1] == 0, compiles
