"""The benchmark's own checks. Plan guard: every action the benchmark times
keeps the content hash. Parity: a spatial_graph pass matches the DuckDB
mirrors it is checked against.

``count()`` lets Catalyst prune the ``text_sha256`` projection, so a counted
verify plan keeps 4 ``sha2(`` calls where the full report keeps 13. A
benchmark that timed such a plan would measure a program that never hashes
page content.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from fileverification_spark.session import get_spark  # noqa: E402
from perfbench import oracle  # noqa: E402
from perfbench.workloads import SpatialGraph, VerifyE1  # noqa: E402

CONTENT_HASH = "sha2(cast(text#"


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    local = str(tmp_path_factory.mktemp("spark-local"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_DRIVER_MEM", "1g")
        s = get_spark(
            "perfbench-plan-guard", master="local[2]",
            extra_conf={"spark.local.dir": local, "spark.ui.showConsoleProgress": "false"},
        )
        yield s
        s.stop()


@pytest.fixture(scope="module")
def verify(spark, tmp_path_factory):
    class Small(VerifyE1):
        n_pages = 2_000

    wl = Small(seed=1, cores=2)
    wl.spark = spark
    wl.set_up(str(tmp_path_factory.mktemp("verify")))
    return wl


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_verify_report_keeps_every_hash(verify):
    report = verify.plans()["verify_tree"]
    assert optimized(report).count("sha2(") == 13
    # the guard bites: the same report counted keeps only 4
    assert optimized(report.groupBy().count()).count("sha2(") == 4


@pytest.mark.parametrize("prefix", ["text_sha256", "geocode_cell", "verify_tree"])
def test_verify_prefixes_hash_content(verify, prefix):
    assert CONTENT_HASH in optimized(verify.plans()[prefix])


def test_traced_pass_sinks_the_timed_report(verify, tmp_path):
    from perfbench.workloads import Tracer

    counts, layers = verify.traced(Tracer(verify.spark), "guard")
    verify.check(counts)
    assert set(layers) == set(VerifyE1.layers)
    assert layers["verify.verify_tree"]["report_rows"] == sum(counts.values())


@pytest.fixture(scope="module")
def spatial_graph(spark, tmp_path_factory):
    class Small(SpatialGraph):
        # dense enough that every query's k nearest pages lie inside the
        # ring knn_ring searches, as they do at the benchmark's size
        n_pages = 20_000

    wl = Small(seed=1, cores=2)
    wl.spark = spark
    work = str(tmp_path_factory.mktemp("spatial_graph"))
    wl.set_up(work)
    orc = oracle.Oracle(work, 2)
    try:
        wl.expect(orc)
    finally:
        orc.close()
    return wl


def test_spatial_digests_keep_child_hash(spatial_graph):
    assert "sha2(" in optimized(spatial_graph.spatial_ops()["manifest.mergeable_digests"])


def test_spatial_graph_pass_matches_duckdb_mirrors(spatial_graph):
    outs = spatial_graph.run("guard")
    try:
        assert set(outs) | {"graph.host_edges"} == set(spatial_graph.expected)
        spatial_graph.check(outs)
    finally:
        spatial_graph.finish("guard")
    # the link wiring joins every host into one component
    assert spatial_graph.facts["cc_sweeps"] >= 3


def test_cc_oracle_matches_transitive_closure_mirror():
    import duckdb

    from fileverification_spark.operators import graph as GR

    # two chains of different length, a triangle and a lone edge
    pairs = [("h1", "h2"), ("h2", "h3"), ("h3", "h4"), ("h9", "h8"), ("h8", "h7"),
             ("t1", "t2"), ("t2", "t3"), ("t3", "t1"), ("z", "y")]
    con = duckdb.connect()
    con.execute("CREATE TABLE e (src VARCHAR, dst VARCHAR)")
    con.executemany("INSERT INTO e VALUES (?, ?)", pairs)
    cur = con.execute(GR.sql_connected_components("SELECT src, dst FROM e"))
    want = [dict(zip(("node", "component"), r)) for r in cur.fetchall()]
    got, sweeps = oracle.connected_components([{"src": a, "dst": b} for a, b in pairs])
    assert oracle.digest(got) == oracle.digest(want)
    # h4 takes three sweeps to learn h1, and a fourth changes nothing
    assert sweeps == 4
