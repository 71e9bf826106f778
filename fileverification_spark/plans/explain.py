"""Physical-plan inspection helpers — the ".explain and iterate" loop as
assertable checks, used by tests to pin scale-critical plan properties:

- filters reach the parquet scan (PushedFilters),
- scans read only the columns the query needs (ReadSchema),
- small-side joins actually broadcast (BroadcastHashJoin),
- the hot path stays inside WholeStageCodegen.

It also reads the JVM's code-generation counters, so a run can report
how much generated code it compiled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the scan node pushes a filter mentioning ``fragment``."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def has_partition_filter(df: DataFrame, fragment: str) -> bool:
    """True if a scan carries a non-empty PartitionFilters entry
    mentioning ``fragment`` — i.e. the predicate prunes DIRECTORIES of a
    partitioned layout before file listing, not rows after the scan."""
    for line in formatted_plan(df).splitlines():
        if "PartitionFilters" in line and fragment in line:
            # non-empty: the bracket list has content
            detail = line.split("PartitionFilters:", 1)[1].strip()
            if detail not in ("[]", ""):
                return True
    return False


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns in the first scan's ReadSchema — what actually gets read."""
    import re

    plan = formatted_plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    if not m:
        return []
    return [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]


def uses_broadcast_join(df: DataFrame) -> bool:
    """True if any join broadcasts its build side (hash join for equi
    keys, nested-loop for broadcast cross joins — both avoid shuffling
    the big side)."""
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the physical plan — the
    scale currency: every one is a full network materialisation at 100 TB."""
    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(")
        and "Exchange" in line
        and "Reused" not in line
    )


def shuffle_exchange_count(df: DataFrame) -> int:
    """Shuffle (hash/range) Exchange nodes only — BroadcastExchange moves
    a small relation, not the big side, so it doesn't count against the
    'no shuffle' claims (e.g. bucketed co-located joins)."""
    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(")
        and "Exchange" in line
        and "Broadcast" not in line
        and "Reused" not in line
    )


def has_partial_aggregate(df: DataFrame) -> bool:
    """True if the plan contains a map-side (partial) HashAggregate —
    i.e. combining happens before the shuffle, so skewed groups cannot
    concentrate raw rows on one reducer. Matches the ``partial_``-mode
    aggregate *functions* the formatted plan prints inside HashAggregate
    detail sections (e.g. ``Functions [1]: [partial_count(1)]``) — a
    stray 'partial' elsewhere in the plan no longer passes (ADVICE r01)."""
    import re

    return re.search(r"\bpartial_\w+\(", formatted_plan(df)) is not None


def codegen_stage_count(df: DataFrame) -> int:
    """Number of distinct whole-stage-codegen spans (formatted plans mark
    nodes with '[codegen id : N]')."""
    import re

    return len(set(re.findall(r"codegen id : (\d+)", formatted_plan(df))))


def codegen_counters(spark: SparkSession) -> dict[str, int]:
    """Cumulative code-generation counters of the session's JVM, for
    before/after deltas around a run:

    - ``compiles``: Janino compilations — each is a miss in Spark's
      generated-code cache (``spark.sql.codegen.cache.maxEntries``);
    - ``compile_ms``: total Janino compile time;
    - ``classes``: generated classes handed to the JVM (a compile yields
      its outer class plus any split-out inner classes);
    - ``jit_ms``: the JVM's total JIT compile time, which every new
      generated class pays again.

    The counters are JVM-local: in local mode that covers driver and
    executors; on a cluster it covers the driver only."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return {
        "compiles": metrics.METRIC_COMPILATION_TIME().getCount(),
        "compile_ms": codegen.compileTime() // 1_000_000,
        "classes": metrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getCount(),
        "jit_ms": jit.getTotalCompilationTime(),
    }
