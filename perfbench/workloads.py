"""The benchmark's workloads.

Each workload materialises its inputs once per set-up, runs an untraced
pass (``run``) whose output is checked, and a traced pass (``traced``) that
calls the same public functions one layer at a time, each inside its own
Spark job group, so the layer's stage metrics can be read back from the
status store.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from fileverification_spark import lifecycle
from fileverification_spark.operators import graph as GR
from fileverification_spark.operators import manifest as M
from fileverification_spark.operators import spatial as S
from fileverification_spark.operators import verify as V
from fileverification_spark.sources import bench_io
from fileverification_spark.sources import pages as P

from perfbench import inputs, oracle, probe

#: what every layer reports; further counts are listed per layer below
MEASURES = ("self_s", "cpu_s", "shuffle_write_mb", "spill_mb", "gc_s")


class CheckFailed(Exception):
    """A pass produced output that differs from the expected output."""


def noop(df: DataFrame) -> None:
    """Sink every column of ``df`` without storing it (no column pruning,
    unlike ``count()``)."""
    df.write.format("noop").mode("overwrite").save()


def rows(df: DataFrame) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _sub(a: dict, *bs: dict) -> dict:
    return {k: a[k] - sum(b[k] for b in bs) for k in MEASURES}


def _add(*ms: dict) -> dict:
    return {k: sum(m[k] for m in ms) for k in MEASURES}


class Tracer:
    """Runs each layer call inside its own job group and keeps its span."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.spans: list[dict] = []

    def span(self, pass_id: str, name: str, fn):
        sc = self.spark.sparkContext
        group = f"perfbench-{pass_id}-{len(self.spans)}-{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            t1 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        m = probe.group_metrics(self.spark, group)
        m["self_s"] = t1 - t0
        self.spans.append({"pass": pass_id, "name": name, "start": t0, "end": t1, **m})
        return out, m


class Workload:
    name = ""
    n_pages = 0
    #: layer -> extra counts it reports besides MEASURES
    layers: dict[str, tuple[str, ...]] = {}
    #: fewest samples a run takes; every run takes the same number, so
    #: each sample sits at the same point of a young JVM's compile work
    min_passes = 1
    #: checked passes before the first sample
    warmups = 1

    def __init__(self, seed: int, cores: int):
        self.seed, self.cores = seed, cores
        self.n_files = 4 * cores
        #: facts about the inputs the record keeps, such as sweep counts
        self.facts: dict[str, int] = {}
        #: bound once the session is up; materialising does not need it
        self.spark: SparkSession | None = None

    def materialise(self, w: inputs.Writer, d: str) -> None:
        """Write this workload's inputs under ``d`` (a fresh directory)."""
        raise NotImplementedError

    def set_up(self, d: str) -> None:
        """Materialise the inputs under ``d`` with DuckDB."""
        w = inputs.Writer(self.cores, os.path.join(d, "duckdb_tmp"))
        try:
            self.materialise(w, d)
        finally:
            w.close()

    def expect(self, orc: oracle.Oracle) -> None:
        """Compute the expected outputs (untimed, once per benchmark run)."""

    def run(self, tag: str):
        """One untraced pass; returns what ``check`` compares."""
        raise NotImplementedError

    def check(self, out) -> None:
        """Raise ``CheckFailed`` unless ``out`` is the expected output. Runs
        before ``finish``, while what the pass left behind is still there."""
        raise NotImplementedError

    def finish(self, tag: str) -> int:
        """Release what a pass left behind; returns the bytes it left on
        storage."""
        return 0

    def traced(self, tracer: Tracer, tag: str) -> tuple[object, dict[str, dict]]:
        """One traced pass: (output, layer -> measures)."""
        raise NotImplementedError


class VerifyE1(Workload):
    """Reference lifecycle E1 over materialised raw pages and a seeded
    stored manifest, with the real parquet sinks."""

    name = "verify_e1"
    n_pages = 100_000
    # After the cold first pass, passes keep getting faster for minutes as
    # the JIT compiles more of Spark's planning code, so no affordable
    # number of warm-ups reaches a flat run. The median of four samples
    # after one warm-up sits between the third and fourth passes of the
    # run, and one contended pass does not move it far. A fifth sample
    # would cost about 3.5 s a run, which the campaign budget (see the
    # README) cannot spare.
    min_passes = 4
    warmups = 1
    layers = {
        "sources.scan": (),
        "sources.pages.text_sha256": (),
        "sources.pages.geocode_cell": (),
        "verify.verify_tree": ("report_rows",),
        "lifecycle.sinks": ("written_mb",),
    }

    def materialise(self, w: inputs.Writer, d: str) -> None:
        self.pages_path, self.man_path = f"{d}/pages", f"{d}/manifest"
        self.out_root = f"{d}/out"
        self.expected = inputs.write_verify(w, self.n_pages, self.seed, d, self.n_files)

    def live(self) -> DataFrame:
        return bench_io.read_live(self.spark, self.pages_path)

    def stored(self) -> DataFrame:
        return bench_io.read_manifest(self.spark, self.man_path)

    def run(self, tag: str) -> dict[str, int]:
        return lifecycle.run_tree_verify(
            self.live(), self.stored(), f"{self.out_root}/{tag}", run_id=tag
        ).counts

    def check(self, counts: dict[str, int]) -> None:
        if counts != self.expected:
            raise CheckFailed(f"status counts {counts} != expected {self.expected}")

    def finish(self, tag: str) -> int:
        out = f"{self.out_root}/{tag}"
        n = dir_bytes(out)
        shutil.rmtree(out)
        return n

    def plans(self) -> dict[str, DataFrame]:
        """The prefix pipelines the traced pass sinks, in order; the last
        is the report the untraced pass writes."""
        raw = self.spark.read.parquet(self.pages_path)
        live = self.live()
        return {
            "scan.pages": raw.select("url", "warc_ts", "text"),
            "scan.stored": self.stored(),
            "text_sha256": P.with_derived(raw).select(
                "url", "warc_ts", "text", "text_sha256"
            ),
            "geocode_cell": live.select("cell", "url", "text", "text_sha256"),
            "verify_tree": V.verify_tree(live, self.stored()),
        }

    def traced(self, tracer: Tracer, tag: str):
        # Each layer's measures are the difference between successive
        # prefix pipelines, every prefix sunk in full by noop.
        m = {
            name: tracer.span(tag, name, lambda df=df: noop(df))[1]
            for name, df in self.plans().items()
        }
        counts, full = tracer.span(tag, "lifecycle", lambda: self.run(tag))
        layers = {
            "sources.scan": _add(m["scan.pages"], m["scan.stored"]),
            "sources.pages.text_sha256": _sub(m["text_sha256"], m["scan.pages"]),
            "sources.pages.geocode_cell": _sub(m["geocode_cell"], m["text_sha256"]),
            "verify.verify_tree": _sub(
                m["verify_tree"], m["geocode_cell"], m["scan.stored"]
            ),
            "lifecycle.sinks": _sub(full, m["verify_tree"]),
        }
        layers["verify.verify_tree"]["report_rows"] = sum(counts.values())
        layers["lifecycle.sinks"]["written_mb"] = dir_bytes(
            f"{self.out_root}/{tag}"
        ) / 2**20
        return counts, layers


class SpatialGraph(Workload):
    """The spatial and manifest operators over materialised derived pages
    (no text column), then the host graph from a materialised link corpus
    and the two iterative graph loops over the persisted edges. No content
    hashing, no verify join and no sinks run here."""

    name = "spatial_graph"
    # Like bench_io.materialise_links, one link page per page: 50k link
    # pages give the 4096 hosts about 12 pages each, and about 105k host
    # edges in one component.
    n_pages = 50_000
    # Two rings at res 6 reach at least 5.6 degrees from every query; at
    # 50k pages that disk holds about 76 pages on average, so the 10 nearest
    # always lie inside it and knn_ring matches the brute-force mirror.
    KNN_K, KNN_RES, KNN_RINGS = 10, 6, 2
    PYRAMID = (6, 2)
    LPA_ROUNDS = 3
    layers = {
        "spatial.pip_join": ("hit_ratio",),
        "spatial.knn_ring": (),
        "spatial.raster_pyramid": (),
        "manifest.mergeable_digests": (),
        "graph.host_edges": (),
        "graph.connected_components": ("jobs",),
        "graph.lpa_communities": ("jobs",),
    }

    def materialise(self, w: inputs.Writer, d: str) -> None:
        self.pages_path, self.links_path = f"{d}/pages_derived", f"{d}/links"
        inputs.write_derived(w, self.n_pages, d, self.n_files)
        inputs.write_links(w, self.n_pages, self.seed, d, self.n_files)
        self.polys = inputs.polygons(self.seed)
        self.queries = inputs.query_points(self.seed)

    def spatial_ops(self) -> dict[str, DataFrame]:
        pages = self.spark.read.parquet(self.pages_path)
        return {
            "spatial.pip_join": S.zonal_stats(
                S.pip_join(pages, self.polys, P.LEAF_RES, keep=("lang",))
            ),
            "spatial.knn_ring": S.knn_ring(
                pages, self.queries, self.KNN_K, self.KNN_RES, self.KNN_RINGS
            ),
            "spatial.raster_pyramid": S.raster_pyramid(pages, *self.PYRAMID),
            "manifest.mergeable_digests": M.mergeable_digests(pages, P.LEAF_RES),
        }

    def _edges(self) -> DataFrame:
        self.edges = GR.host_edges(self.spark.read.parquet(self.links_path)).persist()
        noop(self.edges)
        return self.edges

    def graph_ops(self, edges: DataFrame) -> dict:
        return {
            "graph.connected_components": lambda: rows(GR.connected_components(edges)),
            "graph.lpa_communities": lambda: rows(
                GR.lpa_communities(edges, self.LPA_ROUNDS)
            ),
        }

    def expect(self, orc: oracle.Oracle) -> None:
        orc.view("pages", self.pages_path)
        orc.view("links", self.links_path)
        orc.table("host_edges", oracle.sql_host_edges("links"))
        edges = "SELECT src, dst FROM host_edges"
        components, self.facts["cc_sweeps"] = oracle.connected_components(
            orc.rows(edges)
        )
        self.expected = {
            "graph.host_edges": orc.digest("SELECT src, dst, w FROM host_edges"),
            "spatial.pip_join": orc.digest(S.sql_zonal_stats(self.polys)),
            "spatial.knn_ring": orc.digest(S.sql_knn(self.queries, self.KNN_K)),
            "spatial.raster_pyramid": orc.digest(S.sql_raster_pyramid(*self.PYRAMID)),
            "manifest.mergeable_digests": orc.digest(
                M.sql_mergeable_digests(P.LEAF_RES)
            ),
            "graph.connected_components": oracle.digest(components),
            "graph.lpa_communities": orc.digest(
                GR.sql_lpa_communities(edges, self.LPA_ROUNDS)
            ),
        }

    def run(self, tag: str) -> dict[str, list[dict]]:
        # Every output is small (a few thousand rows at most), so it is
        # collected: like a noop sink this keeps every column in the plan,
        # and it lets each pass be checked.
        outs = {name: rows(df) for name, df in self.spatial_ops().items()}
        outs.update((name, fn()) for name, fn in self.graph_ops(self._edges()).items())
        return outs

    def check(self, outs: dict[str, list[dict]]) -> None:
        # the persisted edges are read back after the pass, untimed
        got = {**outs, "graph.host_edges": self.edges.toArrow().to_pylist()}
        for name, want in self.expected.items():
            if oracle.digest(got[name]) != want:
                raise CheckFailed(
                    f"{name}: (rows, digest) {oracle.digest(got[name])} != {want}"
                )

    def finish(self, tag: str) -> int:
        self.edges.unpersist(blocking=True)
        return 0

    def traced(self, tracer: Tracer, tag: str):
        outs, layers = {}, {}
        for name, df in self.spatial_ops().items():
            outs[name], layers[name] = tracer.span(tag, name, lambda df=df: rows(df))
        edges, layers["graph.host_edges"] = tracer.span(tag, "graph.host_edges", self._edges)
        for name, fn in self.graph_ops(edges).items():
            outs[name], layers[name] = tracer.span(tag, name, fn)
        pages = self.spark.read.parquet(self.pages_path)
        candidates = S.pip_candidates(pages, self.polys, P.LEAF_RES).count()
        hits = sum(r["n_pages"] for r in outs["spatial.pip_join"])
        layers["spatial.pip_join"]["hit_ratio"] = hits / max(candidates, 1)
        return outs, layers


WORKLOADS = {w.name: w for w in (VerifyE1, SpatialGraph)}
