"""Iterate-to-fixpoint machinery shared by the iterative operators.

- :func:`stage` — the one staging policy: every loop round is
  materialised through it, so lineage stays flat whatever the round
  count.
- :func:`stage_labels` — stages a loop's initial label relation and
  decides, once, whether later rounds may broadcast it.
- :func:`min_labels` — connected components by min-label propagation,
  the fixpoint behind ``graph.connected_components``,
  ``dedup.duplicate_clusters`` and ``spatial.hotspots_distributed``.

Round shape of :func:`min_labels`: one eager staging action per sweep.
The sweep's messages carry every node's own label next to its
neighbours' labels, so the ``min`` aggregate sees the old label, and
whether it moved, without a second join against the previous labels.
The changed-row count is read from an :class:`Observation` that fills
during that same staging action, so convergence costs no extra job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType


def stage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Lineage barrier for multi-consumer intermediates: a RELIABLE
    checkpoint when the session has a checkpoint dir configured (the
    cluster deployment — survives executor loss and truncates lineage in
    the persisted plan, the staged-table materialisation between passes),
    else a localCheckpoint (the local/test default, executor-local
    blocks only). ``eager=True`` for iterate-to-fixpoint loops where the
    round must materialise before the next one (or the driver) reads it;
    an :class:`Observation` on ``df`` fills during that action."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _row_bytes(df: DataFrame):
    """Per-row size of ``df`` as an UnsafeRow: an 8-byte null word, one
    8-byte slot per field, plus the payload of variable-length fields."""
    size = F.lit(8 * (1 + len(df.schema.fields)))
    for f in df.schema.fields:
        if isinstance(f.dataType, (StringType, BinaryType)):
            size = size + F.coalesce(F.octet_length(f.name), F.lit(0))
    return size


def stage_labels(labels: DataFrame) -> tuple[DataFrame, bool]:
    """Eagerly stage a loop's initial label relation and observe its
    byte size on that action. Returns the staged relation and whether
    rounds may join it as ``F.broadcast``: by Spark's own rule, its size
    is at most ``spark.sql.autoBroadcastJoinThreshold`` (−1 disables
    broadcast). A label relation keeps its row set from round to round,
    so one measurement holds for the whole loop; above the threshold the
    label side is shuffled like any equi-join side."""
    obs = Observation()
    staged = stage(
        labels.observe(obs, F.sum(_row_bytes(labels)).alias("bytes")),
        eager=True,
    )
    size = obs.get["bytes"] or 0
    spark = labels.sparkSession
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return staged, 0 <= size <= limit


def min_label_sweep(
    edges: DataFrame, labels: DataFrame, broadcast: bool
) -> DataFrame:
    """One min-label sweep over symmetric ``edges (node, dst)`` and
    ``labels (node, label)``: returns ``(node, label, moved)`` with
    ``label`` = min of the node's own label and its neighbours' labels,
    ``moved`` = 1 iff that is smaller than the old label.

    One equi-join (labels onto the edge sources; the label side is
    broadcast when ``broadcast``) and one partial-aggregatable min. The
    node's own row is a message with ``moved = 0``, neighbours' rows
    carry ``moved = 1``; ``min(struct(label, moved))`` therefore picks
    the own row whenever no neighbour label is strictly smaller, so
    isolated nodes keep their label and ``moved`` is the changed flag."""
    side = F.broadcast(labels) if broadcast else labels
    msgs = edges.join(side, "node").select(
        F.col("dst").alias("node"), "label", F.lit(1).alias("moved")
    )
    own = labels.select("node", "label", F.lit(0).alias("moved"))
    return (
        own.unionByName(msgs)
        .groupBy("node")
        .agg(F.min(F.struct("label", "moved")).alias("m"))
        .select("node", "m.label", "m.moved")
    )


def min_labels(
    edges: DataFrame,
    what: str,
    max_iters: int,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Connected components of the undirected closure of
    ``edges (src, dst)``: returns ``(node, label)`` with label = the
    minimum node of the node's component.

    ``nodes`` (one ``node`` column) adds nodes that may have no edge;
    by default the nodes are the edge endpoints. The loop runs one
    :func:`min_label_sweep` per round, each one eager :func:`stage`
    whose Observation counts the moved labels; it stops at the first
    sweep that moves none (sweeps = component diameter + 1). After
    ``max_iters`` sweeps without convergence it raises: an unconverged
    label is a wrong component id, not a timeout."""
    fwd = edges.select(F.col("src").alias("node"), "dst")
    rev = fwd.select(F.col("dst").alias("node"), F.col("node").alias("dst"))
    und = stage(fwd.unionByName(rev).distinct(), eager=True)
    if nodes is None:
        nodes = und.select("node").distinct()
    labels, broadcast = stage_labels(
        nodes.select("node", F.col("node").alias("label"))
    )
    for _ in range(max_iters):
        obs = Observation()
        labels = stage(
            min_label_sweep(und, labels, broadcast)
            .observe(obs, F.sum("moved").alias("changed"))
            .select("node", "label"),
            eager=True,
        )
        if not obs.get["changed"]:
            return labels
    raise RuntimeError(
        f"{what}: labels not converged after {max_iters} sweeps "
        "(component diameter exceeds max_iters)"
    )
