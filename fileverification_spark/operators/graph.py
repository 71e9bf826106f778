"""Web link graph + PageRank — the crawl-frontier analytics layer.

The reference walks a *tree* (each directory has exactly one parent —
FileVerification/PathInfo.cs:427-537 CrawlDirectory); a web corpus is a
*graph* (pages link to arbitrary pages). This module grafts the same
"derive records from content, then aggregate up the hierarchy" shape
onto the graph case:

- :func:`host_edges` — WAT-style outlink records -> weighted host-level
  edge relation ``(src, dst, w)``. One projection + one hash-groupBy;
  partial-aggregates map-side, shuffle ∝ distinct host pairs (web graphs
  have ~1e8 hosts vs 1e12 pages, so the host rollup is the 10^4x
  compression step that makes the iteration affordable).
- :func:`pagerank` — damped PageRank over the edge relation in EXACT
  64-bit integer arithmetic, so Spark and the DuckDB oracle agree
  bit-for-bit (double addition is not associative across engines; see
  BENCH/BASELINE.md float-canon notes). Ranks live at a fixed scale
  (``rank_int = rank * scale``), per-edge contributions use integer
  division, and integer sums are order-independent — no rounding canon
  needed anywhere.

Per-iteration plan (all built-ins, no UDF):

    contrib  = edges ⨝ ranks ON src   (shuffle hash join on src)
               -> groupBy(dst) SUM    (one shuffle on dst)
    dangling = ranks ⟕̸ out-degree     (anti join; 1-row agg, broadcast)
    ranks'   = nodes ⟕ contrib        (left join; codegen'd fold)

Scale shape at 10^12 pages / 1e8 hosts: the edge relation is shuffled
ONCE onto its join keys and persisted; each iteration re-uses that
partitioning (two shuffles per iteration: ranks onto src, contributions
onto dst — both over the ~1e8-row host relation, never the 1e12-row page
relation). ``ranks`` is persisted per iteration so the plan's lineage
stays linear in ``iters`` (at cluster scale swap for
``localCheckpoint()`` to truncate lineage entirely).

Overflow bound (documented, not checked per-row): all values are
non-negative and total rank mass is conserved at ``n_nodes * scale``,
so the largest intermediate is ``d_num * (rank * w)`` ≤
``d_num * n_nodes * scale * max_w``. With the default ``scale=10^9``
that stays inside int64 for ``n_nodes * max_w ≤ 9.2e7`` — lower
``scale`` (e.g. 10^6) for larger host graphs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fileverification_spark.functions import html as HT

#: host part of an http(s) URL — identical PCRE in Spark and DuckDB
#: (same pattern as curation.DOMAIN_RE but anchored without requiring a
#: trailing slash, so bare "https://host" links still resolve)
HOST_RE = "^https?://([^/?#]+)"

#: fixed-point scale of integer ranks: rank 1.0 == 10^9
RANK_SCALE = 10**9

#: host of each absolute double-quoted href, captured DIRECTLY — one
#: regexp pass instead of extract-all + per-link abs-filter + per-link
#: host extraction (7 regexp ops/page -> 2 at 3 links/page; measured on
#: the 64M-page linkgraph scaling job). Scoped (?i:) keeps the
#: attribute name case-insensitive while the scheme stays
#: case-sensitive — identical accept set to the composed form
#: (extract_links + ABS_RE + host_of).
HOST_LINK_RE = r'(?i:href)\s*=\s*"https?://([^/"?#]+)'


def host_of(url: Column) -> Column:
    """Host of an absolute http(s) URL ('' for relative links)."""
    return F.regexp_extract(url, HOST_RE, 1)


def sql_host_of(url_expr: str) -> str:
    return f"regexp_extract({url_expr}, '{HOST_RE}', 1)"


def host_edges(pages: DataFrame) -> DataFrame:
    """Weighted host-level link graph ``(src, dst, w)`` from the pages
    table's html column.

    Pipeline: decode html -> ONE :data:`HOST_LINK_RE` pass capturing the
    host of every absolute href directly -> explode -> drop self-loops
    -> ONE hash-groupBy on (src, dst). Everything before the groupBy is
    a narrow map over the scan (only url + html are read; column
    pruning keeps the scan 2-wide), so shuffle volume is distinct host
    pairs, not links. The single-pattern form halves-and-more the
    per-page regexp work vs composing extract_links + filter + host_of
    (the accept sets are identical — see HOST_LINK_RE).
    """
    links = pages.select(
        host_of(F.col("url")).alias("src"),
        F.explode(
            F.regexp_extract_all(
                F.decode(F.col("html"), "UTF-8"), F.lit(HOST_LINK_RE), 1
            )
        ).alias("dst"),
    )
    return (
        links.where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    scale: int = RANK_SCALE,
    d_num: int = 85,
    d_den: int = 100,
    persist: bool = True,
    handles: list | None = None,
) -> DataFrame:
    """Damped PageRank over ``(src, dst, w)`` in exact int64 arithmetic:
    returns ``(node, rank)`` with ``rank = true_rank * scale`` after
    ``iters`` synchronous iterations (damping ``d_num/d_den``).

    Update rule (every term exact, division = truncation toward zero,
    all values non-negative so trunc == floor == DuckDB's ``//``):

        contrib(v) = Σ_{(u,v,w)} (rank(u) * w) div total_w(u)
        dangling   = (Σ_{u: no out-edges} rank(u)) div n_nodes
        rank'(v)   = ((d_den-d_num)*scale + d_num*(contrib(v)+dangling))
                     div d_den

    Dangling mass is redistributed uniformly (the standard fix — nodes
    that only ever appear as link *targets* have no out-edges). The
    1-row dangling relation is broadcast per iteration; the invariant
    n_nodes rides along from the overflow preflight as a plan-time
    literal (one fewer broadcast exchange per iteration), so the ladder
    after the preflight is one lazy plan.

    ``handles``: pass a list to receive every internally-persisted
    DataFrame (including the returned ranks). Benchmarks that time
    repeated calls MUST unpersist them between runs — Spark's
    CacheManager matches identical logical plans, so a second call
    would silently serve the first call's caches and time nothing.
    """

    def _p(df: DataFrame) -> DataFrame:
        if persist:
            df = df.persist()
            if handles is not None:
                handles.append(df)
        return df

    nodes = _p(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outw = edges.groupBy("src").agg(
        F.sum("w").cast("long").alias("total_w")
    )
    e2 = _p(edges.join(outw, "src"))
    # Fail-loud overflow preflight (ADVICE r3): the module header's
    # int64 bound was documented but never checked, and a wrap would
    # produce silently-wrong ranks. One cheap agg over the (persisted)
    # inputs; conservative bound 2*d_num*n*scale*max_w dominates both
    # the per-edge product rank*w and the d_num*(contrib+dangling) term.
    stats = (
        nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(e2.agg(F.max("w").cast("long").alias("mw")))
        .collect()[0]
    )
    n_val, max_w = stats["n"] or 0, stats["mw"] or 1
    worst = 2 * d_num * n_val * scale * max_w
    if worst > 2**63 - 1:
        safe = (2**63 - 1) // max(1, 2 * d_num * n_val * max_w)
        raise ValueError(
            f"pagerank int64 overflow: 2*d_num*n_nodes*scale*max_w = "
            f"{worst} > 2^63-1 (n_nodes={n_val}, max_w={max_w}, "
            f"scale={scale}); rerun with scale <= {safe} in BOTH the "
            f"Spark call and its oracle"
        )
    # n_nodes is iteration-invariant and the preflight already paid the
    # count job, so the update rule gets it as a plan-time literal — one
    # fewer 1-row broadcast exchange per iteration (at 1e8 hosts the
    # ladder's per-iteration latency is stage barriers, not data).
    ranks = nodes.select(
        "node", F.lit(scale).cast("long").alias("rank")
    )
    for _ in range(iters):
        ranks = _p(
            _pagerank_step(
                nodes, e2, outw, max(n_val, 1), ranks, scale, d_num, d_den
            )
        )
    return ranks


def _pagerank_step(
    nodes: DataFrame,
    e2: DataFrame,
    outw: DataFrame,
    n_nodes: int,
    ranks: DataFrame,
    scale: int,
    d_num: int,
    d_den: int,
) -> DataFrame:
    """One synchronous PageRank update (the exact-integer rule in
    :func:`pagerank`'s docstring) — shared by the in-memory ladder and
    the snapshot-committed resumable form."""
    contrib = (
        e2.join(ranks, e2["src"] == ranks["node"])
        .select(
            F.col("dst"),
            F.expr("(rank * w) div total_w").alias("c"),
        )
        .groupBy("dst")
        .agg(F.sum("c").cast("long").alias("isum"))
    )
    dang = (
        ranks.join(outw, ranks["node"] == outw["src"], "left_anti")
        .agg(
            F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dsum")
        )
    )
    return (
        nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
        .crossJoin(F.broadcast(dang))
        .select(
            "node",
            F.expr(
                f"CAST((({d_den - d_num} * CAST({scale} AS BIGINT))"
                f" + {d_num} * (coalesce(isum, CAST(0 AS BIGINT))"
                f" + (dsum div CAST({int(n_nodes)} AS BIGINT))))"
                f" div {d_den} AS BIGINT)"
            ).alias("rank"),
        )
    )


def pagerank_resumable(
    spark,
    edges: DataFrame,
    table: str,
    iters: int = 5,
    scale: int = RANK_SCALE,
    d_num: int = 85,
    d_den: int = 100,
) -> DataFrame:
    """:func:`pagerank` with per-iteration snapshot checkpoints: after
    every iteration the rank relation is committed (operation
    ``overwrite``) to the snaplog table at ``table`` with the iteration
    number in the snapshot summary. A restarted job reads the highest
    committed iteration and runs ONLY the remaining ones — and because
    the update rule is exact int64 arithmetic and BIGINTs round-trip
    parquet losslessly, the resumed result is bit-identical to the
    straight-through run (pytest-pinned).

    This is the north-rule resumability contract applied to the
    iterative operator: the reference re-reads its manifest at startup
    instead of re-hashing the tree (CheckSumFile.cs:95-98);
    here the previous run's ranks snapshot replaces re-iterating from
    scratch. Crash-safety comes from the snaplog commit ordering (data,
    manifest, pointer swap) — a crash mid-iteration leaves the table at
    the previous iteration, never torn.

    Each iteration is one snapshot: at 1e8 hosts a ranks snapshot is a
    few GB of parquet — cheap next to recomputing lost iterations on a
    preempted cluster.
    """
    from fileverification_spark.sources import snaplog as SL

    done = 0
    sid = SL.current_snapshot_id(table)
    if sid is not None:
        snap = SL.load_snapshot(table, sid)
        done = int(snap.summary.get("iteration", 0))
        if done > iters:
            raise ValueError(
                f"table already holds iteration {done} > requested {iters}"
            )
        if done == iters:
            return SL.read(spark, table)

    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    ).distinct().persist()
    outw = edges.groupBy("src").agg(
        F.sum("w").cast("long").alias("total_w")
    )
    e2 = edges.join(outw, "src").persist()
    # one count job up front (each iteration commits a snapshot anyway,
    # so the ladder is a sequence of actions — the count is noise) and
    # the invariant n_nodes becomes a plan-time literal, matching
    # :func:`pagerank` bit-for-bit.
    n_nodes = max(nodes.count(), 1)

    if done == 0:
        ranks = nodes.select(
            "node", F.lit(scale).cast("long").alias("rank")
        )
    else:
        ranks = SL.read(spark, table)
    for i in range(done + 1, iters + 1):
        ranks = _pagerank_step(
            nodes, e2, outw, n_nodes, ranks, scale, d_num, d_den
        )
        SL.commit(
            ranks, table, operation="overwrite", summary={"iteration": i}
        )
        # read back the committed snapshot: downstream iterations plan
        # from the parquet files (lineage truncated at the checkpoint,
        # exactly like a restart would see)
        ranks = SL.read(spark, table)
    return ranks


# ---------------------------------------------------------------------------
# DuckDB oracle mirror — CTE parts for the contract's _with() assembler
# ---------------------------------------------------------------------------

#: HITS fixed-point scale. Smaller than RANK_SCALE because the
#: normalization multiplies two scaled values before dividing: the
#: preflight bound is scale^2 * max_weighted_degree < 2^63.
HITS_SCALE = 10**6


def hits(
    edges: DataFrame,
    iters: int = 3,
    scale: int = HITS_SCALE,
    persist: bool = True,
    handles: list | None = None,
    reliable_checkpoint_dir: str | None = None,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1998, JACM 46(5)) over
    ``(src, dst, w)`` in exact int64 arithmetic: returns
    ``(node, hub, auth)`` after ``iters`` synchronous rounds, each value
    in ``[0, scale]`` with the round's best hub/authority pinned at
    exactly ``scale`` (max-normalization — the integer-friendly variant:
    one multiply + one truncating divide per node, no square roots).

    Update rule (all terms non-negative, division truncates, so Spark
    ``div`` == DuckDB ``//`` exactly):

        a_raw(v) = Σ_{(u,v,w)} hub(u) * w
        auth(v)  = (a_raw(v) * scale) div max(1, max_v a_raw(v))
        h_raw(u) = Σ_{(u,v,w)} auth(v) * w
        hub(u)   = (h_raw(u) * scale) div max(1, max_u h_raw(u))

    Same distribution discipline as :func:`pagerank`: the per-iteration
    shuffles are the two edge-keyed joins + two node aggs (never the
    pages relation) and the 1-row max relations are broadcast. Unlike
    pagerank, each half-step is ``localCheckpoint``-ed rather than
    lazily persisted: HITS references the previous half-step TWICE per
    step (the contribution join AND the max broadcast), so the lazy
    logical plan grows ~4^iters and Catalyst re-analysis dominates
    (measured 11.5 s lazy vs 1.7 s checkpointed for 3 iterations on a
    130-node graph). The checkpoint truncates lineage to a node-sized
    materialized relation per half-step. ``localCheckpoint`` is
    executor-local: an executor lost mid-ladder loses its blocks with no
    lineage to recompute them — fine on local[N], fatal on a 1000-
    executor run. Pass ``reliable_checkpoint_dir`` (HDFS/S3 path) on a
    cluster and each half-step is written through
    ``RDD.checkpoint`` to shared storage instead, surviving executor
    loss (or use the snapshot-committed pattern of
    :func:`pagerank_resumable` for driver-failure durability too).
    ``handles`` receives the persisted inputs (edges/nodes)
    for the bench cache-reuse guard; checkpointed half-steps are new
    RDDs each call and can never be served from a previous run's cache.

    Fail-loud overflow preflight: the normalization product is bounded
    by ``scale^2 * max(weighted in-degree, weighted out-degree)``; if
    that exceeds int64 the call raises with the largest safe ``scale``
    instead of wrapping silently (same contract as pagerank's).
    """

    def _p(df: DataFrame) -> DataFrame:
        if persist:
            df = df.persist()
            if handles is not None:
                handles.append(df)
        return df

    e = _p(edges.select("src", "dst", "w"))
    deg = (
        e.groupBy("dst").agg(F.sum("w").cast("long").alias("d"))
        .select("d")
        .union(e.groupBy("src").agg(F.sum("w").cast("long").alias("d"))
               .select("d"))
        .agg(F.max("d").alias("md"))
        .collect()[0]
    )
    max_deg = deg["md"] or 1
    if scale * scale * max_deg > 2**63 - 1:
        import math

        safe = math.isqrt((2**63 - 1) // max_deg)
        raise ValueError(
            f"hits int64 overflow: scale^2 * max_weighted_degree = "
            f"{scale * scale * max_deg} > 2^63-1 (max_degree={max_deg}); "
            f"rerun with scale <= {safe} in BOTH the Spark call and its "
            f"oracle"
        )
    nodes = _p(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    hub = nodes.select("node", F.lit(scale).cast("long").alias("hub"))

    if reliable_checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(
            reliable_checkpoint_dir
        )

    def _ckpt(df: DataFrame) -> DataFrame:
        if reliable_checkpoint_dir is not None:
            # reliable (shared-storage) checkpoint: survives executor
            # loss mid-ladder, unlike executor-local blocks
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    def _norm(raw: DataFrame, col: str) -> DataFrame:
        mx = raw.agg(
            F.greatest(F.lit(1).cast("long"),
                       F.coalesce(F.max("raw"), F.lit(0)).cast("long"))
            .alias("mx")
        )
        out = (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.expr(
                    f"CAST((coalesce(raw, CAST(0 AS BIGINT)) * {scale})"
                    f" div mx AS BIGINT)"
                ).alias(col),
            )
        )
        # lineage truncation, NOT caching — see the docstring. Scope
        # note (r5): checkpointing only once per FULL iteration (lazy
        # auth half-step) was measured and REJECTED — the auth plan then
        # recomputes ~4x inside each hub materialization and the ladder
        # ran ~12% slower isolated (8.91 s vs 7.97 s at the sf0.1 bench
        # leg); per-half-step eager checkpoints are the floor here.
        return _ckpt(out)

    for _ in range(iters):
        a_raw = (
            e.join(hub, e["src"] == hub["node"])
            .select(F.col("dst").alias("node"),
                    F.expr("hub * w").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("raw"))
        )
        auth = _norm(a_raw, "auth")
        h_raw = (
            e.join(auth, e["dst"] == auth["node"])
            .select(F.col("src").alias("node"),
                    F.expr("auth * w").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("raw"))
        )
        hub = _norm(h_raw, "hub")
    return hub.join(auth, "node")


def sql_hits_parts(
    edges_cte: str, iters: int = 3, scale: int = HITS_SCALE
) -> list[str]:
    """CTE definitions (no WITH — the contract's ``_with()`` opens the
    clause) replaying :func:`hits`; final (node, hub, auth) in CTE
    ``hits{iters}``. Same DuckDB notes as sql_pagerank_parts: every SUM
    cast back from HUGEINT, ``//`` == Spark ``div`` on non-negatives."""
    parts = [
        f"hnodes AS (SELECT src AS node FROM {edges_cte} "
        f"UNION SELECT dst FROM {edges_cte})",
        f"h0 AS (SELECT node, CAST({scale} AS BIGINT) AS hub FROM hnodes)",
    ]
    for i in range(1, iters + 1):
        parts += [
            f"ar{i} AS (SELECT e.dst AS node, CAST(SUM(h.hub * e.w) AS"
            f" BIGINT) AS raw FROM {edges_cte} e"
            f" JOIN h{i - 1} h ON h.node = e.src GROUP BY e.dst)",
            f"am{i} AS (SELECT GREATEST(CAST(1 AS BIGINT),"
            f" CAST(COALESCE(MAX(raw), 0) AS BIGINT)) AS mx FROM ar{i})",
            f"a{i} AS (SELECT n.node, CAST((COALESCE(r.raw, CAST(0 AS"
            f" BIGINT)) * {scale}) // m.mx AS BIGINT) AS auth"
            f" FROM hnodes n LEFT JOIN ar{i} r ON n.node = r.node,"
            f" am{i} m)",
            f"hr{i} AS (SELECT e.src AS node, CAST(SUM(a.auth * e.w) AS"
            f" BIGINT) AS raw FROM {edges_cte} e"
            f" JOIN a{i} a ON a.node = e.dst GROUP BY e.src)",
            f"hm{i} AS (SELECT GREATEST(CAST(1 AS BIGINT),"
            f" CAST(COALESCE(MAX(raw), 0) AS BIGINT)) AS mx FROM hr{i})",
            f"h{i} AS (SELECT n.node, CAST((COALESCE(r.raw, CAST(0 AS"
            f" BIGINT)) * {scale}) // m.mx AS BIGINT) AS hub"
            f" FROM hnodes n LEFT JOIN hr{i} r ON n.node = r.node,"
            f" hm{i} m)",
        ]
    parts.append(
        f"hits{iters} AS (SELECT h.node, h.hub, a.auth"
        f" FROM h{iters} h JOIN a{iters} a ON h.node = a.node)"
    )
    return parts


def sql_pagerank_parts(
    edges_cte: str,
    iters: int = 5,
    scale: int = RANK_SCALE,
    d_num: int = 85,
    d_den: int = 100,
) -> list[str]:
    """CTE definitions (no WITH keyword — the contract's ``_with()``
    opens the clause) that replay :func:`pagerank` over an ``edges``
    relation provided by the caller as the CTE named in ``edges_cte``.
    Final ranks land in CTE ``r{iters}``.

    DuckDB notes: SUM(BIGINT) -> HUGEINT, so every sum is cast back;
    ``//`` is floor division == Spark's ``div`` on the non-negative
    domain.
    """
    parts = [
        f"nodes AS (SELECT src AS node FROM {edges_cte} "
        f"UNION SELECT dst FROM {edges_cte})",
        f"outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS total_w "
        f"FROM {edges_cte} GROUP BY src)",
        f"e2 AS (SELECT e.src, e.dst, e.w, o.total_w FROM {edges_cte} e "
        f"JOIN outw o ON e.src = o.src)",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes)",
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        parts.append(
            f"c{i} AS (SELECT e2.dst, CAST(SUM((r.rank * e2.w) // e2.total_w)"
            f" AS BIGINT) AS isum FROM e2 JOIN {p} r ON r.node = e2.src"
            f" GROUP BY e2.dst)"
        )
        parts.append(
            f"d{i} AS (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT)"
            f" AS dsum FROM {p} r LEFT JOIN outw o ON r.node = o.src"
            f" WHERE o.src IS NULL)"
        )
        parts.append(
            f"r{i} AS (SELECT n.node, CAST((({d_den - d_num}"
            f" * CAST({scale} AS BIGINT)) + {d_num} * (COALESCE(c.isum,"
            f" CAST(0 AS BIGINT)) + (d.dsum // nn.n_nodes))) // {d_den}"
            f" AS BIGINT) AS rank"
            f" FROM nodes n LEFT JOIN c{i} c ON n.node = c.dst,"
            f" d{i} d, nn)"
        )
    return parts


# ---------------------------------------------------------------------------
# Anchor-text aggregation + crawl frontier
# ---------------------------------------------------------------------------

#: href value AND inner text of an anchor element, non-greedy body, in the
#: Java ∩ RE2 dialect (both engines support lazy quantifiers + inline
#: flags; no backreferences). Extracted twice (group 1, group 2) and
#: zipped — regexp_extract_all returns one group per call in both engines
#: and the match ORDER is identical, so positional zip is exact.
ANCHOR_RE = r'(?is)<a\s[^>]*href\s*=\s*"([^"]*)"[^>]*>(.*?)</a>'


def anchor_pairs(pages: DataFrame) -> DataFrame:
    """(link, anchor) pairs of every absolute-href anchor element — the
    WAT-record extension that carries the link's *description*. Anchor
    text is the classic external relevance signal for the link TARGET
    (it's how pages describe each other), which is why retrieval
    pipelines index it next to the target's own text."""
    pat = F.lit(ANCHOR_RE)
    html = F.decode(F.col("html"), "UTF-8")
    zipped = F.arrays_zip(
        F.regexp_extract_all(html, pat, 1).alias("link"),
        F.regexp_extract_all(html, pat, 2).alias("anchor"),
    )
    return (
        pages.select(F.explode(zipped).alias("z"))
        .select(F.col("z.link").alias("link"), F.col("z.anchor").alias("anchor"))
        .where(F.col("link").rlike(HT.ABS_RE))
    )


def anchor_terms(pages: DataFrame) -> DataFrame:
    """Per-(target host, term) anchor-text term counts: tokenize every
    anchor's text and aggregate onto the link TARGET's host —
    ``(host, term, n)``. One projection chain + one hash-groupBy;
    shuffle ∝ distinct (host, term) pairs (partial-aggregated
    map-side), never ∝ links."""
    from fileverification_spark.functions import text as TX

    pairs = anchor_pairs(pages)
    return (
        pairs.select(
            host_of(F.col("link")).alias("host"),
            F.explode(TX.tokens(F.col("anchor"))).alias("term"),
        )
        .groupBy("host", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def sql_anchor_terms(pages_rel: str) -> str:
    """DuckDB mirror (bare SELECT). DuckDB unnests multiple lists in the
    same SELECT positionally in lockstep — the zip twin of arrays_zip."""
    from fileverification_spark.functions import text as TX

    return f"""SELECT {sql_host_of('link')} AS host, term,
       CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT link, unnest({TX.sql_tokens('anchor')}) AS term
  FROM (SELECT unnest(regexp_extract_all(html, '{ANCHOR_RE}', 1)) AS link,
               unnest(regexp_extract_all(html, '{ANCHOR_RE}', 2)) AS anchor
        FROM {pages_rel})
  WHERE regexp_matches(link, '{HT.ABS_RE}'))
GROUP BY 1, 2"""


def crawl_frontier(pages: DataFrame) -> DataFrame:
    """URLs the crawl has DISCOVERED but not yet fetched: distinct
    absolute outlinks anti-joined against the fetched url set — the
    reference's ADDED status (files on disk missing from the manifest,
    operators/verify.py J3) lifted to URL space, where it is the crawl
    scheduler's work queue.

    Scale: distinct on the link side (shuffle ∝ distinct URLs), then a
    shuffled LEFT ANTI against pages.url — both sides hash-partitioned
    on the same key, no broadcast of the 10^12-row fetched set."""
    links = pages.select(
        F.explode(HT.extract_links(F.col("html"))).alias("u")
    )
    return (
        links.where(F.col("u").rlike(HT.ABS_RE))
        .distinct()
        .join(pages.select(F.col("url").alias("u")), "u", "left_anti")
        .select(F.col("u").alias("url"))
    )


def sql_crawl_frontier(pages_rel: str) -> str:
    return f"""SELECT u AS url FROM (
  SELECT DISTINCT unnest({HT.sql_extract_links('html')}) AS u
  FROM {pages_rel}) links
WHERE regexp_matches(u, '{HT.ABS_RE}')
  AND NOT EXISTS (SELECT 1 FROM (SELECT url FROM {pages_rel}) fetched
                  WHERE fetched.url = links.u)"""


def connected_components(
    edges: DataFrame, max_iters: int = 64
) -> DataFrame:
    """Connected components of the UNDIRECTED closure of ``(src, dst)``:
    returns ``(node, component)`` with component = min node label of the
    component (lexicographic for strings — both engines agree).

    Same distributed min-label fixpoint as ``dedup.duplicate_clusters``
    / ``spatial.hotspots_distributed`` (this is the third surface the
    pattern powers — generalized here so graph consumers don't re-derive
    it): each sweep is one equi-join + one partial-aggregatable min,
    eagerly staged so lineage stays flat; convergence = changed-row
    count (one driver scalar per sweep); sweeps needed = component
    diameter, so the web-typical short-diameter host graph converges in
    a handful. ``max_iters`` bounds chain-shaped graphs and raises
    rather than returning unconverged labels."""
    from fileverification_spark.operators.spatial import _stage

    fwd = edges.select("src", "dst")
    und = _stage(
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct(),
        eager=True,
    )
    labels = _stage(
        und.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component")),
        eager=True,
    )
    for _ in range(max_iters):
        msgs = und.join(labels, und["src"] == labels["node"]).select(
            F.col("dst").alias("node"), "component"
        )
        new_labels = _stage(
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component")),
            eager=True,
        )
        n_changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if n_changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components: not converged after {max_iters} sweeps"
    )


def sql_connected_components(edges_rel: str) -> str:
    """Oracle: recursive-CTE transitive closure (own WITH — standalone)."""
    return f"""WITH RECURSIVE e0 AS (SELECT src, dst FROM ({edges_rel}) raw),
edges AS (SELECT src AS a, dst AS b FROM e0
          UNION SELECT dst, src FROM e0),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(a, b) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS node, min(b) AS component FROM reach GROUP BY a"""


def host_degrees(edges: DataFrame) -> DataFrame:
    """Per-host degree table over the weighted edge relation:
    ``(host, out_deg, in_deg, out_w, in_w)`` — the first-order graph
    features link-spam/authority heuristics consume. Two partial-
    aggregatable group-bys + one full-outer merge on the host key; at
    1e8 hosts all three shuffles carry host-sized relations."""
    out_d = edges.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("out_deg"),
        F.sum("w").cast("long").alias("out_w"),
    )
    in_d = edges.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("in_deg"),
        F.sum("w").cast("long").alias("in_w"),
    )
    z = F.lit(0).cast("long")
    return (
        out_d.join(in_d, "host", "full_outer")
        .select(
            "host",
            F.coalesce("out_deg", z).alias("out_deg"),
            F.coalesce("in_deg", z).alias("in_deg"),
            F.coalesce("out_w", z).alias("out_w"),
            F.coalesce("in_w", z).alias("in_w"),
        )
    )


def sql_host_degrees(edges_rel: str) -> str:
    return f"""SELECT COALESCE(o.host, i.host) AS host,
       COALESCE(o.out_deg, 0) AS out_deg,
       COALESCE(i.in_deg, 0) AS in_deg,
       COALESCE(o.out_w, 0) AS out_w,
       COALESCE(i.in_w, 0) AS in_w
FROM (SELECT src AS host, CAST(count(*) AS BIGINT) AS out_deg,
             CAST(sum(w) AS BIGINT) AS out_w
      FROM ({edges_rel}) e1 GROUP BY src) o
FULL JOIN (SELECT dst AS host, CAST(count(*) AS BIGINT) AS in_deg,
                  CAST(sum(w) AS BIGINT) AS in_w
           FROM ({edges_rel}) e2 GROUP BY dst) i
  ON o.host = i.host"""


def mutual_links(edges: DataFrame) -> DataFrame:
    """Reciprocal host pairs — ``(host_a, host_b, w_ab, w_ba)`` with
    ``host_a < host_b``, present only when BOTH directions exist: the
    classic link-exchange (spam ring) signal. One self-equi-join on the
    reversed pair key; output ∝ mutual pairs only."""
    a = edges.select(
        F.col("src").alias("host_a"),
        F.col("dst").alias("host_b"),
        F.col("w").alias("w_ab"),
    ).where(F.col("host_a") < F.col("host_b"))
    b = edges.select(
        F.col("dst").alias("host_a"),
        F.col("src").alias("host_b"),
        F.col("w").alias("w_ba"),
    ).where(F.col("host_a") < F.col("host_b"))
    return a.join(b, ["host_a", "host_b"])


def sql_mutual_links(edges_rel: str) -> str:
    return f"""SELECT a.host_a, a.host_b, a.w_ab, b.w_ba
FROM (SELECT src AS host_a, dst AS host_b, w AS w_ab
      FROM ({edges_rel}) e1 WHERE src < dst) a
JOIN (SELECT dst AS host_a, src AS host_b, w AS w_ba
      FROM ({edges_rel}) e2 WHERE dst < src) b
  USING (host_a, host_b)"""


#: co-citation out-neighbour cap: each citing host contributes only its
#: top-N strongest out-edges to pair generation, bounding fan-out per
#: citer at N*(N-1)/2 regardless of hub out-degree.
COCITE_CAP = 16


def cocitation(
    edges: DataFrame, cap: int = COCITE_CAP, min_common: int = 2
) -> DataFrame:
    """Host co-citation similarity (Small 1973): hosts ``(h1, h2)`` with
    ``h1 < h2`` are related when the SAME source host links to both;
    ``n_common`` counts such co-citing sources. The classic related-site
    / topic-cluster signal over the crawl link graph (complements
    :func:`mutual_links`, which needs a direct reciprocal edge).

    The naive self-join on ``src`` is quadratic in out-degree — a
    directory hub with 1e5 out-links alone yields 5e9 pairs. Candidate
    generation is therefore capped: a per-src window keeps only the
    ``cap`` strongest out-edges (weight desc, dst asc — deterministic
    under ties), so every citer contributes <= cap*(cap-1)/2 pairs and
    total pair volume is linear in hosts. Both the window and the
    self-join hash-partition on ``src`` — one shuffle, the join is
    co-partitioned — and the final pair count is a partial-aggregatable
    hash-agg on (h1, h2).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("src").orderBy(F.col("w").desc(), F.col("dst"))
    top = (
        edges.select("src", "dst", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= cap)
        .drop("rn")
    )
    a, b = top.alias("a"), top.alias("b")
    pairs = a.join(
        b,
        (F.col("a.src") == F.col("b.src")) & (F.col("a.dst") < F.col("b.dst")),
    )
    return (
        pairs.groupBy(
            F.col("a.dst").alias("h1"), F.col("b.dst").alias("h2")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )


def sql_cocitation(
    edges_rel: str, cap: int = COCITE_CAP, min_common: int = 2
) -> str:
    """Oracle: identical window cap + self-join + HAVING."""
    return f"""SELECT a.dst AS h1, b.dst AS h2,
       CAST(count(*) AS BIGINT) AS n_common
FROM (SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst) AS rn
        FROM ({edges_rel}) e) r WHERE rn <= {cap}) a
JOIN (SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst) AS rn
        FROM ({edges_rel}) e) r WHERE rn <= {cap}) b
  ON a.src = b.src AND a.dst < b.dst
GROUP BY 1, 2 HAVING count(*) >= {min_common}"""


def anchor_index(pages: DataFrame) -> DataFrame:
    """URL-level anchor index: for every FETCHED page, the terms other
    pages use in anchors pointing at it — ``(url, term, n)``. This is
    the retrieval-side materialisation of anchor text (web search
    indexes a page under the words used to link to it, which often
    describe it better than its own text — the signal anchor_terms
    aggregates at host level, here resolved to the exact target page
    via a semi-ish join against the fetched set).

    Scale shape: anchor extraction is map-side; the join keys on the
    full URL (uniform; both sides hash-partitioned), then one
    (url, term) hash-agg with map-side partials."""
    from fileverification_spark.functions import text as TX

    pairs = anchor_pairs(pages)
    fetched = pages.select("url")
    return (
        pairs.select(F.col("link").alias("url"), "anchor")
        .join(fetched, "url")
        .select("url", F.explode(TX.tokens(F.col("anchor"))).alias("term"))
        .groupBy("url", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def sql_anchor_index(pages_rel: str) -> str:
    """DuckDB mirror (bare SELECT; lockstep double unnest)."""
    from fileverification_spark.functions import text as TX

    return f"""SELECT url, term, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT a.link AS url, unnest({TX.sql_tokens('a.anchor')}) AS term
  FROM (SELECT unnest(regexp_extract_all(html, '{ANCHOR_RE}', 1)) AS link,
               unnest(regexp_extract_all(html, '{ANCHOR_RE}', 2)) AS anchor
        FROM {pages_rel}) a
  WHERE a.link IN (SELECT url FROM (SELECT url FROM {pages_rel}) f))
GROUP BY url, term"""


def fetch_schedule(frontier: DataFrame, n_shards: int = 64) -> DataFrame:
    """Politeness-complete crawl schedule ``(url, host, shard, slot)``
    over a frontier of pending URLs: ``shard`` is the deterministic
    sha256-prefix host shard (per-host rate limits serialize inside ONE
    scheduler — same hash discipline as the frontier_shards rollup,
    never Spark's murmur hash, which the oracle can't reproduce) and
    ``slot`` is the URL's 0-based position in its host's url-sorted
    fetch queue — with a one-fetch-per-politeness-tick crawler, slot IS
    the tick index, so max(slot) per host is that host's drain time.

    One shuffle on host; the row_number window runs per host partition
    (bounded by per-host frontier size, the quantity politeness caps
    anyway), so the plan never sorts the global frontier. The reference
    serializes per-directory work the same way its crawl loop walks one
    directory at a time (FV/FileSystemCrawlerLib: per-folder worker
    queues); this is that serialization contract as a relation.
    """
    from pyspark.sql.window import Window

    host = host_of(F.col("url"))
    shard = (
        F.conv(F.substring(F.sha2(host, 256), 1, 8), 16, 10)
        .cast("bigint") % n_shards
    )
    w = Window.partitionBy("host").orderBy("url")
    return (
        frontier.select("url", host.alias("host"), shard.alias("shard"))
        .withColumn(
            "slot", (F.row_number().over(w) - F.lit(1)).cast("long")
        )
    )


def sql_fetch_schedule(frontier_rel: str, n_shards: int = 64) -> str:
    """DuckDB mirror (bare SELECT over a frontier relation with url)."""
    host = sql_host_of("url")
    return f"""SELECT url, {host} AS host,
  CAST(('0x' || substr(sha256({host}), 1, 8)) AS BIGINT)
    % {n_shards} AS shard,
  CAST(row_number() OVER (PARTITION BY {host} ORDER BY url) - 1
       AS BIGINT) AS slot
FROM {frontier_rel} f"""


def rendezvous_shards(frontier: DataFrame, n_shards: int = 8) -> DataFrame:
    """Highest-random-weight (rendezvous) shard assignment per URL
    (Thaler & Ravishankar 1998, the public HRW scheme consistent-hashing
    descends from): ``shard = argmax_s sha256(host || '|' || s)``.

    This is :func:`fetch_schedule`'s mod-hash shard made RESIZE-STABLE:
    dropping shard k reassigns ONLY shard k's hosts (each survivor keeps
    its own max), where mod-hash reshuffles ~(n-1)/n of the fleet — at a
    100 TB crawl that's the difference between warming one scheduler's
    politeness state and all of them. All-hosts-same-shard skew is
    impossible by construction (uniform hash per (host, s)).

    Zero shuffle: the n_shards candidate digests unroll at plan time into
    one codegen'd greatest() over tagged strings (digest || '#' || shard,
    fixed-width tag so string order == (digest, shard) order); no UDF,
    no explode. n_shards is a plan-time constant <= 100."""
    if not 2 <= n_shards <= 100:
        raise ValueError(f"n_shards must be in [2, 100], got {n_shards}")
    host = host_of(F.col("url"))
    tagged = [
        F.concat(
            F.sha2(F.concat(host, F.lit(f"|{s}")), 256), F.lit(f"#{s:02d}")
        )
        for s in range(n_shards)
    ]
    best = F.greatest(*tagged)
    return frontier.select(
        "url",
        host.alias("host"),
        F.substring(best, 66, 2).cast("int").alias("shard"),
    )


def sql_rendezvous_shards(frontier_rel: str, n_shards: int = 8) -> str:
    """DuckDB mirror of :func:`rendezvous_shards` (same tagged-greatest)."""
    host = sql_host_of("url")
    tagged = ", ".join(
        f"sha256({host} || '|{s}') || '#{s:02d}'" for s in range(n_shards)
    )
    return f"""SELECT url, {host} AS host,
  CAST(substr(greatest({tagged}), 66, 2) AS INT) AS shard
FROM {frontier_rel} f"""


def undirected_host_edges(edges: DataFrame) -> DataFrame:
    """Distinct undirected host pairs ``(a, b)`` with ``a < b`` of the
    directed ``(src, dst, w)`` relation (self-loops dropped)."""
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def host_triangles(edges: DataFrame) -> DataFrame:
    """Every triangle of the undirected host graph as ``(a, b, c)``
    with ``a < b < c`` (lexical), enumerated with DEGREE-ORDERED
    orientation (Schank & Wagner 2005's forward algorithm, the
    standard distributed-triangle discipline):

    - orient each undirected edge from its lower-(degree, name)
      endpoint to the higher one;
    - wedges are pairs of out-edges of the SAME low vertex — so a
      degree-d hub contributes wedges only through edges where it is
      the HIGHER endpoint, bounding wedge fan-out by the (much
      smaller) oriented out-degrees instead of d^2 on raw hubs;
    - a wedge (u; v, w) closes iff the oriented edge v->w exists.

    Two self-join shuffles on the oriented relation + one closing
    equi-join — never a cartesian, and the orientation is what keeps a
    1e8-host graph with directory-hub skew joinable (the lexical
    a<b<c 3-join the DuckDB oracle runs is result-identical but
    quadratic on hubs whose names sort low). Output is the lexically
    sorted triple, so orientation never leaks into results.
    """
    u = undirected_host_edges(edges)
    deg = (
        u.select(F.col("a").alias("node"))
        .union(u.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    ud = (
        u.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("deg", "da")
        .join(
            deg.withColumnRenamed("node", "b").withColumnRenamed(
                "deg", "db"
            ),
            "b",
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ud.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dhi"),
    )
    x, y = o.alias("x"), o.alias("y")
    wedges = x.join(y, F.col("x.lo") == F.col("y.lo")).where(
        (F.col("x.dhi") < F.col("y.dhi"))
        | (
            (F.col("x.dhi") == F.col("y.dhi"))
            & (F.col("x.hi") < F.col("y.hi"))
        )
    ).select(
        F.col("x.lo").alias("apex"),
        F.col("x.hi").alias("v"),
        F.col("y.hi").alias("w"),
    )
    closed = wedges.join(
        o.select(F.col("lo").alias("v"), F.col("hi").alias("w")),
        ["v", "w"],
    )
    tri = F.array_sort(F.array("apex", "v", "w"))
    return closed.select(
        tri[0].alias("a"), tri[1].alias("b"), tri[2].alias("c")
    )


def sql_host_triangles(edges_rel: str) -> str:
    """Oracle: the lexical a<b<c 3-join (result-identical to the
    degree-oriented enumeration; bare SELECT over an edge relation)."""
    return f"""SELECT e1.a AS a, e1.b AS b, e2.b AS c
FROM (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM {edges_rel} WHERE src <> dst) e1
JOIN (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM {edges_rel} WHERE src <> dst) e2 ON e1.b = e2.a
JOIN (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM {edges_rel} WHERE src <> dst) e3
  ON e3.a = e1.a AND e3.b = e2.b"""


def host_clustering(edges: DataFrame) -> DataFrame:
    """Per-host local clustering as exact integers:
    ``(node, deg, tri, clust_milli)`` with
    ``clust_milli = (2000 * tri) div (deg * (deg - 1))`` — the local
    clustering coefficient x1000 under truncating division (all terms
    non-negative, Spark div == DuckDB //), deg >= 2 rows only (the
    coefficient is undefined below that).

    tri(v) comes from :func:`host_triangles` exploded back onto its
    three corners (triangle relation is tiny next to the edge
    relation); deg from the undirected edge set. One extra shuffle on
    node over the triangle relation — the expensive part is the
    enumeration, already degree-oriented.
    """
    u = undirected_host_edges(edges)
    deg = (
        u.select(F.col("a").alias("node"))
        .union(u.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    tri = (
        host_triangles(edges)
        .select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("tri"))
    )
    return (
        deg.where(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("tri"),
            F.expr(
                "CAST((2000 * coalesce(tri, CAST(0 AS BIGINT)))"
                " div (deg * (deg - 1)) AS BIGINT)"
            ).alias("clust_milli"),
        )
    )


def sql_host_clustering(edges_rel: str) -> str:
    """Oracle (bare SELECT): lexical triangle 3-join exploded to
    corners + undirected degrees."""
    tri = sql_host_triangles(edges_rel)
    return f"""SELECT node, deg, tri,
  CAST((2000 * tri) // (deg * (deg - 1)) AS BIGINT) AS clust_milli
FROM (
  SELECT d.node, d.deg,
         COALESCE(t.tri, CAST(0 AS BIGINT)) AS tri
  FROM (SELECT node, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT least(src, dst) AS a, greatest(src, dst) AS b
              FROM {edges_rel} WHERE src <> dst GROUP BY 1, 2) u,
             LATERAL (SELECT unnest([u.a, u.b]) AS node) n
        GROUP BY node) d
  LEFT JOIN (SELECT node, CAST(count(*) AS BIGINT) AS tri
             FROM (SELECT unnest([a, b, c]) AS node FROM ({tri}) tt) x
             GROUP BY node) t ON d.node = t.node
  WHERE d.deg >= 2) z"""


def mirror_hosts(
    edges: DataFrame,
    cap: int = COCITE_CAP,
    min_jaccard_milli: int = 200,
) -> DataFrame:
    """Mirror / near-duplicate host candidates ``(h1, h2, n_shared,
    jaccard_milli)`` with ``h1 < h2``: hosts whose (capped) OUT-link
    sets overlap — the transpose of :func:`cocitation` (shared targets
    instead of shared citers), the classic mirror-site signal: a site
    and its mirror link to the same places.

    Same skew discipline as cocitation: each host's out-links are
    capped to its ``cap`` strongest (weight desc, dst asc), so a
    popular TARGET host contributes pairs only through the capped
    lists that retained it, and the dst-keyed self-join is
    co-partitioned after one shuffle. ``jaccard_milli`` is exact
    integer: ``(1000 * shared) div (|A| + |B| - shared)`` over the
    capped sets (truncating division, Spark div == DuckDB //).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("src").orderBy(F.col("w").desc(), F.col("dst"))
    top = (
        edges.select("src", "dst", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= cap)
        .drop("rn")
    )
    sizes = top.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    a, b = top.alias("a"), top.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.dst") == F.col("b.dst"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(F.col("a.src").alias("h1"), F.col("b.src").alias("h2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("src", "h1"), "h1")
        .withColumnRenamed("sz", "s1")
        .join(
            sizes.withColumnRenamed("src", "h2").withColumnRenamed(
                "sz", "s2"
            ),
            "h2",
        )
        .select(
            "h1",
            "h2",
            "n_shared",
            F.expr(
                "CAST((1000 * n_shared) div (s1 + s2 - n_shared)"
                " AS BIGINT)"
            ).alias("jaccard_milli"),
        )
        .where(F.col("jaccard_milli") >= min_jaccard_milli)
    )


def sql_mirror_hosts(
    edges_rel: str,
    cap: int = COCITE_CAP,
    min_jaccard_milli: int = 200,
) -> str:
    """Oracle: identical capped window + dst-keyed self-join + size
    join + exact-integer Jaccard (bare SELECT)."""
    top = (
        f"SELECT src, dst FROM ("
        f"SELECT src, dst, row_number() OVER ("
        f"PARTITION BY src ORDER BY w DESC, dst) AS rn"
        f" FROM {edges_rel}) t WHERE rn <= {cap}"
    )
    return f"""SELECT h1, h2, n_shared,
  CAST((1000 * n_shared) // (s1 + s2 - n_shared) AS BIGINT)
    AS jaccard_milli
FROM (
  SELECT s.h1, s.h2, s.n_shared, z1.sz AS s1, z2.sz AS s2
  FROM (SELECT a.src AS h1, b.src AS h2,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM ({top}) a JOIN ({top}) b
          ON a.dst = b.dst AND a.src < b.src
        GROUP BY 1, 2) s
  JOIN (SELECT src, CAST(count(*) AS BIGINT) AS sz FROM ({top})
        GROUP BY src) z1 ON s.h1 = z1.src
  JOIN (SELECT src, CAST(count(*) AS BIGINT) AS sz FROM ({top})
        GROUP BY src) z2 ON s.h2 = z2.src) j
WHERE CAST((1000 * n_shared) // (s1 + s2 - n_shared) AS BIGINT)
      >= {min_jaccard_milli}"""


# ---------------------------------------------------------------------------
# TrustRank: seeded (personalized) PageRank over a curated host whitelist
# ---------------------------------------------------------------------------

def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 5,
    scale: int = RANK_SCALE,
    d_num: int = 85,
    d_den: int = 100,
    persist: bool = True,
    handles: list | None = None,
) -> DataFrame:
    """TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB 2004) over
    ``(src, dst, w)`` in the same exact-int64 arithmetic as
    :func:`pagerank`: PageRank whose teleport vector is uniform over a
    curated ``seeds`` relation (one ``node`` column) instead of uniform
    over all nodes — trust flows out from the whitelist, so spam farms
    with no seed-reachable in-links score 0.

    Exact update rule (truncating division, non-negative domain):

        contrib(v) = sum_{(u,v,w)} (rank(u) * w) div total_w(u)
        dangling   = (sum_{u: no out-edges} rank(u)) div n_seeds
        rank'(v)   = ((d_den-d_num)*scale*s(v)
                      + d_num*(contrib(v) + s(v)*dangling)) div d_den

    where ``s(v)`` is 1 for seeds, else 0: both the teleport mass and
    the dangling mass return to the SEED set (the personalized-PageRank
    fix — sending dangling mass to all nodes would leak trust to
    unlinked spam). ``rank0 = scale * s(v)``.

    Scale: the seed relation is a human-curated whitelist — tiny by
    construction — so the seed-flag join is a broadcast; everything
    else is the :func:`pagerank` ladder unchanged (two host-sized
    shuffles + one 1-row broadcast per iteration, n_seeds a plan-time
    literal from the preflight).
    """

    def _p(df: DataFrame) -> DataFrame:
        if persist:
            df = df.persist()
            if handles is not None:
                handles.append(df)
        return df

    nodes = _p(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .join(
            F.broadcast(
                seeds.select(F.col("node"), F.lit(1).alias("s")).distinct()
            ),
            "node",
            "left",
        )
        .select("node", F.coalesce("s", F.lit(0)).cast("long").alias("s"))
    )
    outw = edges.groupBy("src").agg(
        F.sum("w").cast("long").alias("total_w")
    )
    e2 = _p(edges.join(outw, "src"))
    stats = (
        nodes.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("s").cast("long").alias("ns"),
        )
        .crossJoin(e2.agg(F.max("w").cast("long").alias("mw")))
        .collect()[0]
    )
    n_val, n_seeds, max_w = stats["n"] or 0, stats["ns"] or 0, stats["mw"] or 1
    if n_seeds == 0:
        raise ValueError(
            "trustrank: no seed node appears in the edge relation — "
            "an all-zero rank vector would be silently meaningless"
        )
    worst = 2 * d_num * n_val * scale * max_w
    if worst > 2**63 - 1:
        safe = (2**63 - 1) // max(1, 2 * d_num * n_val * max_w)
        raise ValueError(
            f"trustrank int64 overflow: 2*d_num*n_nodes*scale*max_w = "
            f"{worst} > 2^63-1; rerun with scale <= {safe} in BOTH the "
            f"Spark call and its oracle"
        )
    ranks = nodes.select(
        "node", (F.lit(scale).cast("long") * F.col("s")).alias("rank")
    )
    for _ in range(iters):
        contrib = (
            e2.join(ranks, e2["src"] == ranks["node"])
            .select(
                F.col("dst"),
                F.expr("(rank * w) div total_w").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("isum"))
        )
        dang = ranks.join(
            outw, ranks["node"] == outw["src"], "left_anti"
        ).agg(
            F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("dsum")
        )
        ranks = _p(
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                F.expr(
                    f"CAST((({d_den - d_num} * CAST({scale} AS BIGINT) * s)"
                    f" + {d_num} * (coalesce(isum, CAST(0 AS BIGINT))"
                    f" + s * (dsum div CAST({int(n_seeds)} AS BIGINT))))"
                    f" div {d_den} AS BIGINT)"
                ).alias("rank"),
            )
        )
    return ranks


def sql_trustrank_parts(
    edges_cte: str,
    seeds_cte: str,
    iters: int = 5,
    scale: int = RANK_SCALE,
    d_num: int = 85,
    d_den: int = 100,
) -> list[str]:
    """CTE definitions replaying :func:`trustrank`; final ranks land in
    CTE ``t{iters}``. Same DuckDB notes as :func:`sql_pagerank_parts`."""
    parts = [
        f"tnodes AS (SELECT n.node,"
        f" CAST(CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS BIGINT) AS s"
        f" FROM (SELECT src AS node FROM {edges_cte}"
        f" UNION SELECT dst FROM {edges_cte}) n"
        f" LEFT JOIN (SELECT DISTINCT node FROM {seeds_cte}) s"
        f" ON n.node = s.node)",
        f"toutw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS total_w "
        f"FROM {edges_cte} GROUP BY src)",
        f"te2 AS (SELECT e.src, e.dst, e.w, o.total_w FROM {edges_cte} e "
        f"JOIN toutw o ON e.src = o.src)",
        "tns AS (SELECT CAST(SUM(s) AS BIGINT) AS n_seeds FROM tnodes)",
        f"t0 AS (SELECT node, CAST({scale} AS BIGINT) * s AS rank"
        f" FROM tnodes)",
    ]
    for i in range(1, iters + 1):
        p = f"t{i - 1}"
        parts.append(
            f"tc{i} AS (SELECT te2.dst,"
            f" CAST(SUM((r.rank * te2.w) // te2.total_w) AS BIGINT) AS isum"
            f" FROM te2 JOIN {p} r ON r.node = te2.src GROUP BY te2.dst)"
        )
        parts.append(
            f"td{i} AS (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT)"
            f" AS dsum FROM {p} r LEFT JOIN toutw o ON r.node = o.src"
            f" WHERE o.src IS NULL)"
        )
        parts.append(
            f"t{i} AS (SELECT n.node, CAST((({d_den - d_num}"
            f" * CAST({scale} AS BIGINT) * n.s) + {d_num}"
            f" * (COALESCE(c.isum, CAST(0 AS BIGINT))"
            f" + n.s * (d.dsum // ns.n_seeds))) // {d_den}"
            f" AS BIGINT) AS rank"
            f" FROM tnodes n LEFT JOIN tc{i} c ON n.node = c.dst,"
            f" td{i} d, tns ns)"
        )
    return parts


# ---------------------------------------------------------------------------
# BFS crawl depth from a seed set
# ---------------------------------------------------------------------------

def bfs_depth(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 4,
    persist: bool = True,
    handles: list | None = None,
) -> DataFrame:
    """Minimum link distance ``(node, depth)`` from a ``seeds`` relation
    (one ``node`` column) over the directed ``(src, dst, w)`` host
    graph, bounded at ``max_depth`` hops — the crawl-depth ordering a
    politeness-bounded breadth-first crawler assigns (seed hosts are
    depth 0; a host first reachable through d links is depth d; hosts
    not reachable within ``max_depth`` are absent).

    Synchronous relaxation, one round per hop: each round shuffles the
    current distance relation (bounded by n_hosts) into the edge
    relation and min-folds — never more than ``max_depth`` host-sized
    shuffles total, and each round's result persists so the lineage
    stays flat. At web scale the frontier is a tiny fraction of the
    graph for small depths; the min-fold over the full reached set is
    the price of determinism (identical algebra to the unrolled SQL
    oracle) and is partial-aggregatable, so the shuffle carries one row
    per reached host, not per edge.
    """

    def _p(df: DataFrame) -> DataFrame:
        if persist:
            df = df.persist()
            if handles is not None:
                handles.append(df)
        return df

    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    dist = _p(
        nodes.join(F.broadcast(seeds.select("node").distinct()), "node")
        .select("node", F.lit(0).cast("int").alias("depth"))
    )
    for _ in range(max_depth):
        step = (
            edges.join(dist, edges["src"] == dist["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("depth") + F.lit(1)).cast("int").alias("depth"),
            )
        )
        dist = _p(
            dist.union(step)
            .groupBy("node")
            .agg(F.min("depth").cast("int").alias("depth"))
        )
    return dist


def sql_bfs_depth(edges_rel: str, seeds_rel: str, max_depth: int = 4) -> str:
    """Oracle: the same relaxation unrolled into ``max_depth`` CTE
    stages (bare SELECT; composes under the caller's WITH)."""
    parts = [
        f"bnodes AS (SELECT src AS node FROM {edges_rel}"
        f" UNION SELECT dst FROM {edges_rel})",
        f"b0 AS (SELECT n.node, CAST(0 AS INT) AS depth FROM bnodes n"
        f" JOIN (SELECT DISTINCT node FROM {seeds_rel}) s"
        f" ON n.node = s.node)",
    ]
    for i in range(1, max_depth + 1):
        p = f"b{i - 1}"
        parts.append(
            f"b{i} AS (SELECT node, CAST(MIN(depth) AS INT) AS depth FROM ("
            f"SELECT node, depth FROM {p}"
            f" UNION ALL SELECT e.dst AS node, d.depth + 1 AS depth"
            f" FROM {edges_rel} e JOIN {p} d ON d.node = e.src"
            f") u GROUP BY node)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, depth FROM b{max_depth}"
    )


# ---------------------------------------------------------------------------
# k-core peeling + degree-mixing sums over the undirected host graph
# ---------------------------------------------------------------------------

def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    persist: bool = True,
    handles: list | None = None,
) -> DataFrame:
    """Hosts surviving ``rounds`` synchronous peels of the ``k``-core
    reduction over the undirected host graph, as ``(node, deg)`` with
    ``deg`` the node's degree in the subgraph induced by the survivors.

    One peel removes every node whose degree in the current induced
    subgraph is < k (the standard k-core rule; Batagelj & Zaversnik
    2003). A FIXED round count keeps the operator deterministic and
    byte-replayable by the unrolled SQL oracle; when a round removes
    nothing the remaining rounds are no-ops, so if the peel converges
    within ``rounds`` the output IS the exact k-core (pinned on the
    planted graph by test). At web scale each round is one degree
    hash-agg + one semi-join pair over the shrinking survivor set —
    the first round is the expensive one (full edge relation), every
    later round is smaller, and the peel count needed in practice is
    small for the k values crawl analysis uses.
    """

    def _p(df: DataFrame) -> DataFrame:
        if persist:
            df = df.persist()
            if handles is not None:
                handles.append(df)
        return df

    u = _p(undirected_host_edges(edges))
    alive = _p(
        u.select(F.col("a").alias("node"))
        .union(u.select(F.col("b").alias("node")))
        .distinct()
    )
    for _ in range(rounds):
        e_r = (
            u.join(alive.withColumnRenamed("node", "a"), "a")
            .join(alive.withColumnRenamed("node", "b"), "b")
        )
        deg = (
            e_r.select(F.col("a").alias("node"))
            .union(e_r.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )
        alive = _p(deg.where(F.col("deg") >= k).select("node"))
    e_fin = (
        u.join(alive.withColumnRenamed("node", "a"), "a")
        .join(alive.withColumnRenamed("node", "b"), "b")
    )
    return (
        e_fin.select(F.col("a").alias("node"))
        .union(e_fin.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )


def sql_kcore(edges_rel: str, k: int = 3, rounds: int = 4) -> str:
    """Oracle: the same peel unrolled into ``rounds`` CTE stages."""
    parts = [
        f"ku AS (SELECT DISTINCT least(src, dst) AS a,"
        f" greatest(src, dst) AS b FROM {edges_rel} WHERE src <> dst)",
        "ka0 AS (SELECT a AS node FROM ku UNION SELECT b FROM ku)",
    ]
    for i in range(1, rounds + 1):
        p = f"ka{i - 1}"
        parts.append(
            f"ke{i} AS (SELECT u.a, u.b FROM ku u"
            f" JOIN {p} x ON u.a = x.node JOIN {p} y ON u.b = y.node)"
        )
        parts.append(
            f"ka{i} AS (SELECT node FROM ("
            f"SELECT a AS node FROM ke{i}"
            f" UNION ALL SELECT b FROM ke{i}) z"
            f" GROUP BY node HAVING COUNT(*) >= {k})"
        )
    parts.append(
        f"kef AS (SELECT u.a, u.b FROM ku u"
        f" JOIN ka{rounds} x ON u.a = x.node"
        f" JOIN ka{rounds} y ON u.b = y.node)"
    )
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM ("
        "SELECT a AS node FROM kef UNION ALL SELECT b FROM kef) z"
        " GROUP BY node"
    )


def degree_mixing(edges: DataFrame) -> DataFrame:
    """One-row exact-integer degree-mixing sums over the undirected
    host graph: ``(m, s_jk, s_sum, s_sq)`` where for each undirected
    edge with endpoint degrees j, k:

        m     = edge count
        s_jk  = sum(j * k)
        s_sum = sum(j + k)
        s_sq  = sum(j^2 + k^2)

    These are the sufficient statistics of Newman's degree-assortativity
    coefficient (Phys. Rev. Lett. 89, 208701 (2002), eq. 4):
    r = (s_jk/m - (s_sum/2m)^2) / (s_sq/2m - (s_sum/2m)^2) — kept as
    exact BIGINTs so the comparison is float-free; callers divide.
    Plan: one degree hash-agg, two broadcast-or-shuffle joins back onto
    the edge list, one global agg — no windows, no collect."""
    u = undirected_host_edges(edges)
    deg = (
        u.select(F.col("a").alias("node"))
        .union(u.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    j = (
        u.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("da")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("db")),
            "b",
        )
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.col("da") * F.col("db")).cast("long").alias("s_jk"),
        F.sum(F.col("da") + F.col("db")).cast("long").alias("s_sum"),
        F.sum(
            F.col("da") * F.col("da") + F.col("db") * F.col("db")
        ).cast("long").alias("s_sq"),
    )


def sql_degree_mixing(edges_rel: str) -> str:
    """Oracle for :func:`degree_mixing` (full WITH statement)."""
    return f"""WITH mu AS (SELECT DISTINCT least(src, dst) AS a,
  greatest(src, dst) AS b FROM {edges_rel} WHERE src <> dst),
mdeg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
  SELECT a AS node FROM mu UNION ALL SELECT b FROM mu) z GROUP BY node)
SELECT CAST(COUNT(*) AS BIGINT) AS m,
  CAST(SUM(d1.deg * d2.deg) AS BIGINT) AS s_jk,
  CAST(SUM(d1.deg + d2.deg) AS BIGINT) AS s_sum,
  CAST(SUM(d1.deg * d1.deg + d2.deg * d2.deg) AS BIGINT) AS s_sq
FROM mu u JOIN mdeg d1 ON u.a = d1.node JOIN mdeg d2 ON u.b = d2.node"""


def fetch_budget(
    frontier: DataFrame, budget: int, n_shards: int = 8
) -> DataFrame:
    """Exact largest-remainder (Hamilton) apportionment of a global
    fetch ``budget`` across the HRW scheduler shards, proportional to
    each shard's pending-URL count: per shard,

        base  = (budget * pending) div total_pending
        extra = +1 for the L shards with the largest remainder
                (budget * pending) mod total_pending, L = budget -
                sum(base), ties broken shard ASC
        quota = base + extra           (sum(quota) == budget, exactly)

    Fractional-quota methods need floats and don't sum to the budget;
    Hamilton's method is the classic exact-integer fix (the US-House
    apportionment rule) and both engines replay it bit-for-bit.

    Scale note: apportionment runs at SHARD granularity (<= 100 rows —
    rendezvous_shards' bound) precisely so the rank window is over a
    plan-time-bounded relation; a per-HOST largest-remainder would need
    a global sort over ~1e8 hosts for the L-th-largest remainder. Each
    shard's scheduler subdivides its quota locally (per-host politeness
    already serializes inside a shard, see fetch_schedule). The pages
    relation itself only feeds one hash-agg."""
    if budget < 0:
        raise ValueError("budget must be >= 0")
    from pyspark.sql.window import Window

    pend = (
        rendezvous_shards(frontier, n_shards)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).cast("long").alias("pending"))
    )
    tot = pend.select(F.sum("pending").cast("long").alias("total_pending"))
    q = pend.crossJoin(F.broadcast(tot)).select(
        "shard",
        "pending",
        F.expr(f"({budget} * pending) div total_pending").alias("base"),
        F.expr(f"({budget} * pending) % total_pending").alias("rem"),
    )
    leftover = q.select(
        (F.lit(budget) - F.sum("base")).cast("long").alias("leftover")
    )
    w = Window.orderBy(F.desc("rem"), F.asc("shard"))
    return (
        q.withColumn("rem_rank", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(leftover))
        .select(
            "shard",
            "pending",
            F.col("base").cast("long").alias("base"),
            F.when(F.col("rem_rank") <= F.col("leftover"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("extra"),
        )
        .withColumn("quota", (F.col("base") + F.col("extra")).cast("long"))
    )


def sql_fetch_budget(
    frontier_rel: str, budget: int, n_shards: int = 8
) -> str:
    """DuckDB mirror of :func:`fetch_budget` (same Hamilton arithmetic)."""
    shards = sql_rendezvous_shards(frontier_rel, n_shards)
    return f"""
WITH sh AS ({shards}),
pend AS (SELECT shard, CAST(count(*) AS BIGINT) AS pending
         FROM sh GROUP BY 1),
tot AS (SELECT CAST(sum(pending) AS BIGINT) AS total_pending FROM pend),
q AS (
  SELECT shard, pending,
         ({budget} * pending) // total_pending AS base,
         ({budget} * pending) % total_pending AS rem
  FROM pend, tot),
lo AS (SELECT {budget} - sum(base) AS leftover FROM q),
r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, shard ASC) AS rem_rank
      FROM q)
SELECT shard, pending, CAST(base AS BIGINT) AS base,
       CAST(CASE WHEN rem_rank <= lo.leftover THEN 1 ELSE 0 END AS BIGINT)
         AS extra,
       CAST(base + CASE WHEN rem_rank <= lo.leftover THEN 1 ELSE 0 END
            AS BIGINT) AS quota
FROM r, lo"""


# ---------------------------------------------------------------------------
# Canonical-URL chain resolution (rel=canonical pointer chasing)
# ---------------------------------------------------------------------------


def canonical_resolve(edges: DataFrame, iters: int = 3) -> DataFrame:
    """(url, final_url, hops, resolved) — follow each page's declared
    rel=canonical target through chains of redirecting declarations
    (u1 -> u2 -> u3 ...) for up to ``2**iters`` hops.

    The reference analogue is the manifest lookup chain — directory ->
    checksum file -> record (`FV/PathInfo.cs:66`, `FV/CheckSumFile.cs:
    144-146`) — except canonical graphs on the real web have depth > 1
    and cycles, so the lookup must be iterated and bounded.

    Algorithm: **pointer doubling** (path halving): state maps
    url -> (tgt, hops); each round substitutes tgt := state(tgt) and
    adds the hops, so k rounds follow 2^k hops in k host-sized
    self-joins — resolving depth-D chains needs log2(D) shuffles, not D
    (the same reason BFS-by-doubling beats edge-at-a-time walks at
    scale). Rows whose target has no outgoing non-self declaration stop
    early and keep their exact chain length. ``resolved`` is false iff
    the final target STILL declares a non-self canonical (chain deeper
    than 2^iters, or a cycle — cycles never resolve, the bound
    guarantees termination anyway).

    Self-declarations (url == canon, the common self-canonical page)
    are dropped up front: they are terminal facts, not chain links.
    Per-iteration persist caps the self-referential plan growth exactly
    like pagerank's ladder. Input relation is page-sized; every join is
    an equi-join on url — no window, no collect."""
    if iters < 0:
        raise ValueError("iters must be >= 0")
    state = (
        edges.where(F.col("url") != F.col("canon"))
        .select("url", F.col("canon").alias("tgt"), F.lit(1).cast("bigint").alias("hops"))
        .persist()
    )
    for _ in range(iters):
        nxt = state.select(
            F.col("url").alias("t_url"),
            F.col("tgt").alias("t_tgt"),
            F.col("hops").alias("t_hops"),
        )
        state = (
            state.join(nxt, state["tgt"] == nxt["t_url"], "left")
            .select(
                "url",
                F.coalesce("t_tgt", "tgt").alias("tgt"),
                (F.col("hops") + F.coalesce("t_hops", F.lit(0)))
                .cast("bigint")
                .alias("hops"),
            )
            .persist()
        )
    heads = edges.where(F.col("url") != F.col("canon")).select(
        F.col("url").alias("h_url")
    )
    return (
        state.join(heads, state["tgt"] == heads["h_url"], "left")
        .select(
            "url",
            F.col("tgt").alias("final_url"),
            "hops",
            F.col("h_url").isNull().alias("resolved"),
        )
    )


def sql_canonical_resolve(edges_rel: str, iters: int = 3) -> str:
    """Oracle: the walk stated directly — a recursive CTE stepping one
    hop at a time, bounded at 2**iters, keeping each url's deepest row.
    Pointer doubling computes exactly this (min(chain depth, 2^k) steps;
    cycle rows run to the bound), so the two forms must agree row-for-
    row; hop values are strictly increasing per url so the deepest row
    is unique."""
    cap = 2 ** iters
    return f"""
WITH RECURSIVE nonself AS (
  SELECT url, canon FROM {edges_rel} WHERE url <> canon
),
walk(url, tgt, hops) AS (
  SELECT url, canon, CAST(1 AS BIGINT) FROM nonself
  UNION ALL
  SELECT w.url, n.canon, w.hops + 1
  FROM walk w JOIN nonself n ON n.url = w.tgt
  WHERE w.hops < {cap}
),
deepest AS (
  SELECT url, tgt, hops,
         row_number() OVER (PARTITION BY url ORDER BY hops DESC) AS rk
  FROM walk
)
SELECT url, tgt AS final_url, hops,
       tgt NOT IN (SELECT url FROM nonself) AS resolved
FROM deepest WHERE rk = 1"""


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction (Adamic & Adar 2003; Liben-Nowell &
# Kleinberg 2003)
# ---------------------------------------------------------------------------

#: integer score scale: each common neighbor z contributes
#: 1_000_000 div floor(log2(deg(z))) micro-units — the float 1/log(deg)
#: weight re-expressed in exact BIGINT arithmetic (deg(z) >= 2 whenever
#: z is a common neighbor, so the divisor is >= 1)
AA_SCALE = 1_000_000


def adamic_adar(
    edges: DataFrame, cap: int = COCITE_CAP, min_common: int = 2
) -> DataFrame:
    """Adamic-Adar link prediction over the undirected host graph:
    ``(h1, h2, n_common, aa_micro, already_linked)`` with ``h1 < h2`` —
    the classic "friends-of-friends, rare friends count more" score
    (Adamic & Adar 2003, as evaluated for link prediction by
    Liben-Nowell & Kleinberg 2003). Each common neighbor ``z``
    contributes ``AA_SCALE div floor(log2(deg(z)))`` (hub neighbors are
    near-worthless evidence, leaf-ish shared neighbors strong), floor
    integer arithmetic so both engines agree bit-for-bit;
    ``already_linked`` marks pairs with an existing direct edge (the
    prediction targets are the FALSE rows, but scoring existing edges
    too is free and lets the caller calibrate).

    Scale shape (the cocitation discipline): the per-z pair generation
    is quadratic in degree, so each z contributes pairs only from its
    ``cap`` first neighbors (name-ordered — deterministic); hubs cannot
    go quadratic and total pair volume is linear in nodes. Degrees are
    computed on the UNCAPPED adjacency (the weight must be the true
    degree). One window + one co-partitioned self-join on z + one
    (h1, h2) hash-agg + one broadcast-sized existence join.
    """
    from pyspark.sql.window import Window

    und = undirected_host_edges(edges)
    nb = und.select(
        F.col("a").alias("z"), F.col("b").alias("n")
    ).unionByName(und.select(F.col("b").alias("z"), F.col("a").alias("n")))
    deg = nb.groupBy("z").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    w = Window.partitionBy("z").orderBy("n")
    top = (
        nb.select("z", "n", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= cap)
        .drop("rn")
    )
    a, b = top.alias("a"), top.alias("b")
    pairs = a.join(
        b, (F.col("a.z") == F.col("b.z")) & (F.col("a.n") < F.col("b.n"))
    ).select(F.col("a.z").alias("z"), F.col("a.n").alias("h1"),
             F.col("b.n").alias("h2"))
    contrib = F.expr(
        f"{AA_SCALE} div (length(bin(deg)) - 1)"
    ).cast("bigint")
    scored = (
        pairs.join(deg, "z")
        .select("h1", "h2", contrib.alias("w_micro"))
        .groupBy("h1", "h2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("w_micro").cast("bigint").alias("aa_micro"),
        )
        .where(F.col("n_common") >= min_common)
    )
    linked = und.select(
        F.col("a").alias("h1"), F.col("b").alias("h2"),
        F.lit(True).alias("already_linked"),
    )
    return scored.join(linked, ["h1", "h2"], "left").select(
        "h1", "h2", "n_common", "aa_micro",
        F.coalesce("already_linked", F.lit(False)).alias("already_linked"),
    )


def sql_adamic_adar(
    edges_rel: str, cap: int = COCITE_CAP, min_common: int = 2
) -> str:
    """Oracle: identical undirected fold, cap window, degree weights,
    and integer floor-log2 scoring (standalone WITH, like the other
    graph oracles)."""
    return f"""WITH und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ({edges_rel}) e WHERE src != dst
),
nb AS (
  SELECT a AS z, b AS n FROM und
  UNION ALL
  SELECT b AS z, a AS n FROM und
),
deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg FROM nb GROUP BY z),
top AS (
  SELECT z, n FROM (
    SELECT z, n, row_number() OVER (PARTITION BY z ORDER BY n) AS rn
    FROM nb) r
  WHERE rn <= {cap}
),
scored AS (
  SELECT a.n AS h1, b.n AS h2, CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum({AA_SCALE} // (length(bin(d.deg)) - 1)) AS BIGINT)
           AS aa_micro
  FROM top a
  JOIN top b ON a.z = b.z AND a.n < b.n
  JOIN deg d ON a.z = d.z
  GROUP BY 1, 2 HAVING count(*) >= {min_common}
)
SELECT s.h1, s.h2, s.n_common, s.aa_micro,
       coalesce(l.linked, FALSE) AS already_linked
FROM scored s
LEFT JOIN (SELECT a AS h1, b AS h2, TRUE AS linked FROM und) l
  ON s.h1 = l.h1 AND s.h2 = l.h2"""


# ---------------------------------------------------------------------------
# Bow-tie decomposition (Broder et al., WWW 2000, "Graph structure in
# the Web")
# ---------------------------------------------------------------------------


def bowtie_regions(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 4,
    handles: list | None = None,
) -> DataFrame:
    """(host, region) — the Broder et al. 2000 bow-tie map of the host
    graph around a seed set known to sit in the central SCC: forward
    BFS gives SCC + OUT, backward BFS (the same relaxation over the
    reversed edge relation) gives SCC + IN, so

    - ``SCC``   reached in BOTH directions (mutually reachable with the
      seed within ``max_depth`` hops),
    - ``IN``    reaches the seed but is not reached from it,
    - ``OUT``   reached from the seed but cannot return,
    - ``OTHER`` neither (tendrils, tubes and disconnected components —
      separating those needs passes keyed off IN/OUT, out of scope).

    The depth bound makes this the crawler's-eye approximation: exact
    once ``max_depth`` reaches the graph's effective diameter (19 in
    the paper's 200M-page crawl), and every round is one host-sized
    shuffle, so cost is ``2 * max_depth`` bounded relaxations — the
    bfs_depth scale shape, twice.
    """
    fwd = bfs_depth(edges, seeds, max_depth, handles=handles).select(
        F.col("node").alias("host"), F.lit(1).alias("_f")
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
    )
    bwd = bfs_depth(rev, seeds, max_depth, handles=handles).select(
        F.col("node").alias("host"), F.lit(1).alias("_b")
    )
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    return (
        nodes.join(fwd, "host", "left")
        .join(bwd, "host", "left")
        .select(
            "host",
            F.when(
                F.col("_f").isNotNull() & F.col("_b").isNotNull(), "SCC"
            )
            .when(F.col("_b").isNotNull(), "IN")
            .when(F.col("_f").isNotNull(), "OUT")
            .otherwise("OTHER")
            .alias("region"),
        )
    )


def sql_bowtie_regions(
    edges_rel: str, seeds_rel: str, max_depth: int = 4
) -> str:
    """Oracle: both BFS relaxations unrolled (forward on (src->dst),
    backward on the reversed pair), LEFT-joined onto the node universe."""
    parts = [
        f"btnodes AS (SELECT src AS node FROM {edges_rel}"
        f" UNION SELECT dst FROM {edges_rel})",
        f"btseeds AS (SELECT DISTINCT node FROM {seeds_rel})",
        "f0 AS (SELECT n.node FROM btnodes n JOIN btseeds s"
        " ON n.node = s.node)",
        "r0 AS (SELECT node FROM f0)",
    ]
    for i in range(1, max_depth + 1):
        parts.append(
            f"f{i} AS (SELECT DISTINCT node FROM ("
            f"SELECT node FROM f{i - 1}"
            f" UNION ALL SELECT e.dst AS node FROM {edges_rel} e"
            f" JOIN f{i - 1} d ON d.node = e.src) u)"
        )
        parts.append(
            f"r{i} AS (SELECT DISTINCT node FROM ("
            f"SELECT node FROM r{i - 1}"
            f" UNION ALL SELECT e.src AS node FROM {edges_rel} e"
            f" JOIN r{i - 1} d ON d.node = e.dst) u)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT n.node AS host,
       CASE WHEN f.node IS NOT NULL AND r.node IS NOT NULL THEN 'SCC'
            WHEN r.node IS NOT NULL THEN 'IN'
            WHEN f.node IS NOT NULL THEN 'OUT'
            ELSE 'OTHER' END AS region
FROM btnodes n
LEFT JOIN f{max_depth} f ON n.node = f.node
LEFT JOIN r{max_depth} r ON n.node = r.node"""
    )


# ---------------------------------------------------------------------------
# Label-propagation communities (Raghavan, Albert & Kumara 2007)
# ---------------------------------------------------------------------------


def lpa_communities(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """``(host, community)`` after ``rounds`` SYNCHRONOUS label-
    propagation sweeps over the undirected host graph (Raghavan et al.
    2007, Phys. Rev. E 76): every node simultaneously adopts the label
    carried by the plurality of its neighbors. Classic LPA breaks
    plurality ties randomly; this variant is made engine-exact by the
    deterministic canon used everywhere else in the repo — highest
    neighbor count wins, ties go to the LEXICOGRAPHICALLY SMALLEST
    label — so the label relation is bit-identical across engines and
    runs, and the oracle replays the same sweeps as a CTE ladder.

    The result is labels AFTER EXACTLY ``rounds`` sweeps (a plan-time
    constant), not a converged fixpoint: synchronous LPA can oscillate
    on bipartite structures, so a bounded-round contract is the only
    deterministic one. Web-typical host communities (mirror families,
    link farms, CMS clusters) crystallize in 2-3 sweeps.

    Scale shape: per sweep ONE host-sized equi-join (labels onto the
    undirected edge relation) + two partial-aggregatable hash-aggs
    ((node, label) counts, then the per-node argmax via min(struct(-c,
    label)) — never a window over the edge stream). Each sweep is
    eagerly staged (the connected_components discipline) so lineage
    stays flat; hub skew is absorbed by the map-side partial agg on
    (node, label)."""
    und = undirected_host_edges(edges)
    both = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    from fileverification_spark.operators.spatial import _stage

    both = _stage(both, eager=True)
    labels = _stage(
        both.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("community")),
        eager=True,
    )
    for _ in range(rounds):
        msgs = (
            both.join(labels, both["a"] == labels["node"])
            .select(F.col("b").alias("node"), "community")
            .groupBy("node", "community")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        labels = _stage(
            msgs.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("community"))
                ).alias("best")
            )
            .select("node", F.col("best.community").alias("community")),
            eager=True,
        )
    return labels.select(F.col("node").alias("host"), "community")


def sql_lpa_communities(edges_rel: str, rounds: int = 3) -> str:
    """Oracle: the same sweeps as a CTE ladder (own WITH — standalone).
    Plurality argmax spelled as max-count window + min(label), the
    tie canon :func:`lpa_communities` encodes via min(struct)."""
    parts = [
        f"""e0 AS (SELECT src, dst FROM ({edges_rel}) raw WHERE src != dst),
und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b FROM e0
        GROUP BY 1, 2),
edges AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
l0 AS (SELECT DISTINCT a AS node, a AS community FROM edges)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""m{t} AS (
  SELECT e.b AS node, l.community, CAST(count(*) AS BIGINT) AS c
  FROM edges e JOIN l{t - 1} l ON e.a = l.node
  GROUP BY 1, 2
),
l{t} AS (
  SELECT node, min(community) AS community
  FROM (SELECT node, community, c, max(c) OVER (PARTITION BY node) AS mc
        FROM m{t}) q
  WHERE c = mc GROUP BY node
)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node AS host, community FROM l{rounds}"
    )


# ---------------------------------------------------------------------------
# HyperBall neighborhood function (Boldi & Vigna 2013)
# ---------------------------------------------------------------------------

#: register-index bits for the per-node ball sketches: m = 2^6 = 64
#: registers per node (HyperBall's own small-m regime — Boldi & Vigna
#: ran p in [4, 12]; 64 registers give ~13% rse, enough to rank hosts
#: by reach and to shape the distance distribution, at 64 relation rows
#: per node instead of the 256 the per-cell HLL uses)
HB_P = 6
HB_M = 1 << HB_P
_HB_WBITS = 60 - HB_P
_HB_SCALE = _HB_WBITS + 1
#: alpha_64 * m^2 * 2^_HB_SCALE (alpha_64 = 0.709 — the small-m constant
#: from Flajolet et al. 2007 Fig. 3, NOT the asymptotic formula, which
#: only holds for m >= 128), folded into ONE float literal so the
#: estimate is a single double division of a constant by an exact
#: BIGINT — no order-dependent float summation anywhere
_HB_NUM = 0.709 * HB_M * HB_M * float(1 << _HB_SCALE)

#: Small-range linear-counting table: LC(V) = m * ln(m / V) for V (the
#: number of ZERO registers) in 1..m-1, applied when the raw estimate
#: is <= 2.5m (Flajolet et al. 2007 §4 — without it the raw estimator
#: reads a singleton ball as ~alpha*m/(m-1)*m ~= 46, useless for the
#: small balls every radius-0/1 neighborhood is). The transcendental
#: ln would break the cross-engine value-hash canon (last-ulp behavior
#: is libm-specific — the reason sketch.hll_estimate omits LC and
#: exports n_regs_set for consumers instead), but V has only m-1
#: possible values, so the correction is a PRECOMPUTED literal lookup
#: table shipped identically to both engines: no libm call exists in
#: any query plan. Entries round HALF_UP at 4 decimals from the shortest
#: repr, the same rounding Spark's round(double, 4) applies to every other
#: 4-decimal estimate.
import math as _math
from decimal import ROUND_HALF_UP as _HALF_UP, Decimal as _Decimal

_HB_LC = tuple(
    float(
        _Decimal(repr(HB_M * _math.log(HB_M / v))).quantize(
            _Decimal("0.0001"), rounding=_HALF_UP
        )
    )
    for v in range(1, HB_M)
)
#: LC applies when the raw estimate is at or below this (2.5 * m)
_HB_LC_BAR = 2.5 * HB_M


def _hb_own_sketch(nodes: DataFrame) -> DataFrame:
    """(node, reg, rho_max): each node's singleton-set HLL registers —
    exactly one row per node (its own 60-bit hash split into HB_P index
    bits + rank bits, the hll_cells arithmetic)."""
    from fileverification_spark.operators.sketch import kmv_hash

    h = kmv_hash(F.col("node"))
    w = F.shiftright(h, HB_P)
    rho = (
        F.when(w == 0, F.lit(_HB_WBITS + 1))
        .otherwise(F.lit(_HB_WBITS) - (F.length(F.bin(w)) - F.lit(1)))
        .cast("bigint")
    )
    return nodes.select(
        "node",
        h.bitwiseAND(F.lit(HB_M - 1)).cast("bigint").alias("reg"),
        rho.alias("rho_max"),
    )


def _hb_estimate(sketch: DataFrame, t: int) -> DataFrame:
    """(node, t, n_regs_set, sum_scaled, est) view of a per-node register
    relation — the hll_estimate algebra keyed by node, stamped with the
    radius ``t``. ``sum_scaled`` is the exact BIGINT indicator sum
    (absent registers carry rank 0), so the relation value-hashes
    identically across engines; ``est`` is the full HLL estimator of
    |ball(node, t)|: the one-division raw form, switched to the
    ``_HB_LC`` linear-counting literal when the raw estimate is at or
    below 2.5m and zero registers remain (both branches engine-exact —
    see the table's comment)."""
    raw = F.lit(_HB_NUM) / F.col("sum_scaled")
    v_zero = (F.lit(HB_M) - F.col("n_regs_set")).cast("int")
    lc = F.element_at(F.array(*[F.lit(x) for x in _HB_LC]), v_zero)
    return (
        sketch.groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_regs_set"),
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HB_SCALE} - rho_max)")
            ).cast("bigint").alias("present"),
        )
        .select(
            "node",
            F.lit(t).cast("int").alias("t"),
            "n_regs_set",
            (
                F.col("present")
                + (F.lit(HB_M) - F.col("n_regs_set"))
                * F.lit(1 << _HB_SCALE).cast("bigint")
            ).alias("sum_scaled"),
        )
        .select(
            "node",
            "t",
            "n_regs_set",
            "sum_scaled",
            F.when(
                (v_zero > 0) & (raw <= F.lit(_HB_LC_BAR)), lc
            ).otherwise(F.round(raw, 4)).alias("est"),
        )
    )


def hyperball(edges: DataFrame, t_max: int = 3) -> DataFrame:
    """Per-host OUT-ball sizes ``(node, t, n_regs_set, sum_scaled, est)``
    for every radius ``t`` in ``0..t_max`` — the neighborhood function
    N(v, t) = |{w : dist(v, w) <= t}| of the directed host graph,
    HLL-approximated exactly as HyperBall computes it (Boldi & Vigna
    2013, "HyperBall: counting the right way" — built FOR web graphs;
    the same machinery produced the Facebook four-degrees result).
    Successive-t deltas give the distance distribution; summing
    (N(t) - N(t-1)) / t gives harmonic centrality, reach at t_max ranks
    hosts by influence — all derivable from this one relation.

    Algebra: B(v, 0) = sketch({v}); B(v, t) = B(v, t-1) max-merged with
    B(w, t-1) over every edge v -> w. Registers are MAX-mergeable (the
    hll_cells/hll_rollup identity), so the whole relaxation is: per
    round, ONE equi-join of the edge relation onto the sketch relation
    + one (node, reg) hash-agg with map-side partial max — never a
    frontier set, never a window. Round results are eagerly staged (the
    lpa/connected_components discipline) so lineage stays flat at
    exactly ``t_max`` joins.

    Scale shape: the sketch relation is HB_M rows per node (bounded by
    hosts x 64, NOT by edges or pages); the join fan-out is edges x 64
    with partial max absorbing it map-side. The production layout packs
    the 64 registers into one array column merged with zip_with(max) —
    one row per node — but the register-relation form keeps the algebra
    transparent and byte-replayable by the unrolled SQL oracle; the
    packing is a representation change, not an algebra change. Exact
    BFS (bfs_depth) is per-seed; this is ALL-pairs reach in t_max
    host-sized rounds — the trade HyperBall exists to make."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    from fileverification_spark.operators.spatial import _stage

    sk = _stage(_hb_own_sketch(nodes), eager=True)
    out = _hb_estimate(sk, 0)
    for t in range(1, t_max + 1):
        msgs = edges.join(sk, edges["dst"] == sk["node"]).select(
            edges["src"].alias("node"), sk["reg"], sk["rho_max"]
        )
        sk = _stage(
            sk.union(msgs)
            .groupBy("node", "reg")
            .agg(F.max("rho_max").alias("rho_max")),
            eager=True,
        )
        out = out.union(_hb_estimate(sk, t))
    return out


def sql_hyperball(edges_rel: str, t_max: int = 3) -> str:
    """Oracle: the same register relaxation unrolled as a CTE ladder
    (own WITH — standalone), same hash split / rank arithmetic /
    indicator sum / single division as :func:`hyperball`."""
    scale_one = 1 << _HB_SCALE
    lc_list = "[" + ", ".join(repr(x) for x in _HB_LC) + "]"
    est = (
        f"SELECT node, {{t}} AS t, n_regs_set, sum_scaled,\n"
        f"       CASE WHEN n_regs_set < {HB_M}\n"
        f"                 AND {_HB_NUM!r} / sum_scaled <= {_HB_LC_BAR!r}\n"
        f"            THEN ({lc_list})[CAST({HB_M} - n_regs_set AS INT)]\n"
        f"            ELSE round({_HB_NUM!r} / sum_scaled, 4) END AS est\n"
        f"FROM (SELECT node, CAST(count(*) AS BIGINT) AS n_regs_set,\n"
        f"             CAST(sum(1::BIGINT << ({_HB_SCALE} - rho_max))\n"
        f"                  + ({HB_M} - count(*)) * {scale_one} AS BIGINT)"
        f" AS sum_scaled\n"
        f"      FROM s{{t}} GROUP BY node) g{{t}}"
    )
    parts = [
        f"hedges AS (SELECT src, dst FROM ({edges_rel}) he)",
        "hnodes AS (SELECT src AS node FROM hedges"
        " UNION SELECT dst FROM hedges)",
        f"""s0 AS (
  SELECT node, h & {HB_M - 1} AS reg,
         CAST(CASE WHEN (h >> {HB_P}) = 0 THEN {_HB_WBITS + 1}
              ELSE {_HB_WBITS} - (length(bin(h >> {HB_P})) - 1)
         END AS BIGINT) AS rho_max
  FROM (SELECT node,
               CAST(('0x' || substr(sha256(node), 1, 15)) AS BIGINT) AS h
        FROM hnodes) hh)""",
    ]
    for t in range(1, t_max + 1):
        parts.append(
            f"""s{t} AS (
  SELECT node, reg, max(rho_max) AS rho_max
  FROM (SELECT node, reg, rho_max FROM s{t - 1}
        UNION ALL
        SELECT e.src AS node, s.reg, s.rho_max
        FROM hedges e JOIN s{t - 1} s ON s.node = e.dst) u
  GROUP BY node, reg)"""
        )
    sel = "\nUNION ALL\n".join(
        est.format(t=t) for t in range(0, t_max + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + sel


def harmonic_centrality(edges: DataFrame, t_max: int = 3) -> DataFrame:
    """Per-host truncated harmonic centrality + reach from the HyperBall
    ladder — the centrality HyperBall was built to compute (Boldi &
    Vigna 2013 §4; Boldi & Vigna 2014, "Axioms for centrality", argue
    harmonic is THE principled closeness variant for the web's
    disconnected digraphs because unreachable nodes contribute 0, not
    infinity):

        H_T(v) = sum_{t=1..T} ( N(v, t) - N(v, t-1) ) / t

    i.e. every node first reached at distance t contributes 1/t, nodes
    beyond radius T contribute nothing (the standard truncated form —
    exact once T >= diameter, a lower bound before that).

    Determinism canon: the per-radius estimates ``est`` are already
    engine-pinned doubles (one constant/BIGINT division + round(,4) —
    see :func:`hyperball`); this operator combines the T+1 values of
    ONE node with a FIXED left-fold expression tree
    ``((e1-e0)/1 + (e2-e1)/2) + ...`` so no float reordering exists for
    an aggregate to introduce — both engines evaluate byte-identical
    IEEE-754 plans. Registers only accumulate, so each branch of est
    (linear counting, raw estimate) is non-decreasing in t on its own,
    but the switch between them is not strictly monotone: a delta can
    in principle go negative for a pathological register state. In
    practice the deltas are non-negative, and nothing clamps them —
    both engines evaluate the same plan, so they agree either way.

    Output: ``(node, reach, harmonic)`` — reach = est at T (ball size
    incl. self), harmonic = round(H_T, 4).

    Scale shape: the hyperball ladder (hosts x 64 register rows, t_max
    edge-onto-sketch joins) + ONE (node)-keyed pivot hash-agg (the
    max-of-CASE per t is partial-aggregatable; T+1 rows in, 1 row out
    per node). Nothing beyond the ladder's own cost."""
    hb = hyperball(edges, t_max)
    wide = hb.groupBy("node").agg(
        *[
            F.max(F.when(F.col("t") == t, F.col("est"))).alias(f"e{t}")
            for t in range(t_max + 1)
        ]
    )
    harm = None
    for t in range(1, t_max + 1):
        term = (F.col(f"e{t}") - F.col(f"e{t-1}")) / F.lit(float(t))
        harm = term if harm is None else harm + term
    return wide.select(
        "node",
        F.col(f"e{t_max}").alias("reach"),
        F.round(harm, 4).alias("harmonic"),
    )


def distance_distribution(edges: DataFrame, t_max: int = 3) -> DataFrame:
    """Graph-level distance distribution from the HyperBall ladder —
    the "degrees of separation" curve (Backstrom et al. 2012 computed
    exactly this over the Facebook graph with HyperANF): for each
    radius t, how many ordered (v, w) pairs have dist(v, w) <= t, and
    how many are first connected AT t. Effective diameter (the radius
    covering 90% of connected pairs) reads straight off the relation.

    Determinism canon: per-node ball estimates are engine-pinned
    doubles (see :func:`hyperball`); each is independently snapped to
    the nearest integer BEFORE the cross-node sum, so the aggregate is
    an exact BIGINT sum — no float summation order exists. new_pairs
    comes from a self-join on t-1 over the (t_max+1)-row relation.

    Output: ``(t, n_nodes, pairs_within, new_pairs)`` — pairs include
    self-pairs at t=0 (each ball contains its own node), matching the
    neighborhood-function convention N(v, 0) = 1.

    Scale shape: the hyperball ladder + ONE radius-keyed hash-agg
    (t_max+1 groups) + a (t_max+1)-row self-join. Nothing beyond the
    ladder's own cost."""
    hb = hyperball(edges, t_max)
    per_t = hb.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.round(F.col("est"), 0).cast("bigint")).cast("long").alias(
            "pairs_within"
        ),
    )
    prev = per_t.select(
        (F.col("t") + 1).alias("t"), F.col("pairs_within").alias("prev_p")
    )
    return per_t.join(prev, "t", "left").select(
        "t",
        "n_nodes",
        "pairs_within",
        (F.col("pairs_within") - F.coalesce(F.col("prev_p"), F.lit(0)))
        .cast("long")
        .alias("new_pairs"),
    )


def sql_distance_distribution(edges_rel: str, t_max: int = 3) -> str:
    """Oracle for :func:`distance_distribution` (own WITH —
    standalone): hyperball oracle as a derived table, same snap-then-
    exact-sum, same t-1 self-join."""
    inner = sql_hyperball(edges_rel, t_max=t_max)
    return f"""
WITH ddh AS ({inner}),
ddt AS (SELECT t, CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(CAST(round(est, 0) AS BIGINT)) AS BIGINT)
                 AS pairs_within
        FROM ddh GROUP BY t)
SELECT a.t, a.n_nodes, a.pairs_within,
       CAST(a.pairs_within - coalesce(b.pairs_within, 0) AS BIGINT)
         AS new_pairs
FROM ddt a LEFT JOIN ddt b ON b.t = a.t - 1"""


def sql_harmonic_centrality(edges_rel: str, t_max: int = 3) -> str:
    """Oracle for :func:`harmonic_centrality`: the hyperball oracle as a
    derived table, then the same fixed left-fold over per-t CASE pivots
    (own WITH — standalone)."""
    inner = sql_hyperball(edges_rel, t_max=t_max)
    pivots = ",\n       ".join(
        f"max(CASE WHEN t = {t} THEN est END) AS e{t}"
        for t in range(t_max + 1)
    )
    fold = " + ".join(
        f"(e{t} - e{t-1}) / {float(t)!r}" for t in range(1, t_max + 1)
    )
    return f"""
WITH hbc AS ({inner}),
hbw AS (SELECT node,
       {pivots}
FROM hbc GROUP BY node)
SELECT node, e{t_max} AS reach, round({fold}, 4) AS harmonic
FROM hbw"""


# ---------------------------------------------------------------------------
# Newman modularity of a host partition (Newman & Girvan 2004)
# ---------------------------------------------------------------------------

def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community EXACT-integer modularity terms of a host partition
    (e.g. :func:`lpa_communities` output ``(host, community)``) over the
    undirected host graph — the standard quality score for a community
    assignment (Newman & Girvan 2004, Phys. Rev. E 69).

    For undirected simple graph with m edges, community c with m_c
    intra-community edges and total degree d_c:

        Q = sum_c [ m_c / m  -  (d_c / 2m)^2 ]
          = sum_c (4 * m * m_c - d_c^2) / (4 * m^2)

    The per-community numerator ``q_num = 4*m*m_c - d_c^2`` and the
    shared denominator ``4*m^2`` are exact BIGINTs, so the relation is
    engine-exact (no float Q to drift); callers fold Q in one division.
    Output: ``(community, n_nodes, m_in, d_tot, q_num, m_edges)`` sorted
    by the grouping key — nodes whose community label never touches an
    edge keep d_tot = 0 rows only if they appear in ``labels`` AND the
    edge relation (isolated labeled hosts are absent, matching the
    undirected-graph domain every other graph operator uses).

    Precondition: ``labels`` must cover every endpoint of ``edges``.
    ``m_edges`` counts every undirected edge, but the label joins drop
    an edge with an unlabeled endpoint from ``m_in`` and ``d_tot``, so a
    partial labelling yields ``q_num`` terms over a smaller edge domain
    than ``m_edges``. :func:`lpa_communities` labels every node.

    Scale shape: ONE distinct-pair reduction (undirected_host_edges),
    TWO host-sized label equi-joins onto it, then partial-aggregatable
    hash-aggs on community — state bounded by |communities|; m arrives
    as a 1-row broadcast. No windows, no collects, no floats."""
    und = undirected_host_edges(edges)
    la = labels.select(
        F.col("host").alias("a"), F.col("community").alias("ca")
    )
    lb = labels.select(
        F.col("host").alias("b"), F.col("community").alias("cb")
    )
    tagged = und.join(la, "a").join(lb, "b")
    m_tot = und.agg(F.count(F.lit(1)).cast("long").alias("m_edges"))
    # intra-community edge counts
    m_in = (
        tagged.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("m_in"))
    )
    # degree mass per community: each endpoint contributes 1 to its
    # community's total degree (loops were dropped by the undirected canon)
    d_tot = (
        tagged.select(F.col("ca").alias("community"))
        .union(tagged.select(F.col("cb").alias("community")))
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("long").alias("d_tot"))
    )
    n_nodes = labels.groupBy(F.col("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    out = (
        d_tot.join(m_in, "community", "left")
        .join(n_nodes, "community", "left")
        .crossJoin(F.broadcast(m_tot))
        .select(
            "community",
            F.coalesce(F.col("n_nodes"), F.lit(0)).cast("long").alias(
                "n_nodes"
            ),
            F.coalesce(F.col("m_in"), F.lit(0)).cast("long").alias("m_in"),
            "d_tot",
            "m_edges",
        )
    )
    q_num = (
        F.lit(4).cast("long") * F.col("m_edges") * F.col("m_in")
        - F.col("d_tot") * F.col("d_tot")
    ).cast("long")
    return out.select(
        "community", "n_nodes", "m_in", "d_tot", q_num.alias("q_num"),
        "m_edges",
    )


def sql_modularity(edges_rel: str, labels_rel: str) -> str:
    """Oracle for :func:`modularity` (own WITH — standalone);
    ``labels_rel`` must expose ``(host, community)``."""
    return f"""
WITH qe0 AS (SELECT src, dst FROM ({edges_rel}) qe WHERE src != dst),
qund AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
         FROM qe0 GROUP BY 1, 2),
ql AS (SELECT host, community FROM ({labels_rel}) lr),
qtag AS (SELECT u.a, u.b, la.community AS ca, lb.community AS cb
         FROM qund u JOIN ql la ON u.a = la.host
                     JOIN ql lb ON u.b = lb.host),
qm AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM qund),
qmin AS (SELECT ca AS community, CAST(count(*) AS BIGINT) AS m_in
         FROM qtag WHERE ca = cb GROUP BY 1),
qdeg AS (SELECT community, CAST(count(*) AS BIGINT) AS d_tot
         FROM (SELECT ca AS community FROM qtag
               UNION ALL SELECT cb FROM qtag) qd GROUP BY 1),
qn AS (SELECT community, CAST(count(*) AS BIGINT) AS n_nodes
       FROM ql GROUP BY 1)
SELECT d.community,
       CAST(coalesce(n.n_nodes, 0) AS BIGINT) AS n_nodes,
       CAST(coalesce(i.m_in, 0) AS BIGINT) AS m_in,
       d.d_tot,
       CAST(4 * m.m_edges * coalesce(i.m_in, 0)
            - d.d_tot * d.d_tot AS BIGINT) AS q_num,
       m.m_edges
FROM qdeg d
LEFT JOIN qmin i ON d.community = i.community
LEFT JOIN qn n ON d.community = n.community
CROSS JOIN qm m"""
