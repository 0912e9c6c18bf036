"""Plan inspection helpers: the engine's equivalent of the reference's
golden-plan tests (fe/src/test/.../planner/PlannerTest.java against
testdata/workloads/functional-planner/) — assert that Catalyst produced the
physical plan the operator was designed for (pushdown reached the scan, the
small side broadcast, top-k became TakeOrderedAndProject, aggs are 2-phase).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "simple"
    )


def has_pushed_filter(df: DataFrame, column: str) -> bool:
    """True if the parquet scan carries a pushed filter on `column`
    (PushedFilters: [... IsNotNull(col), GreaterThan(col, ...) ...])."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and column in line:
            return True
    return False


def scan_read_schema(df: DataFrame, table_hint: str = "") -> list[str]:
    """Columns actually read from the (first matching) parquet scan —
    verifies column pruning (ReadSchema)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line and (table_hint in line or not table_hint):
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema.split("<", 1)[1].rsplit(">", 1)[0]
            return [f.split(":")[0] for f in inner.split(",")]
    return []


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in simple_plan(df) or "BroadcastNestedLoopJoin" in simple_plan(df)


def uses_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in simple_plan(df)


def has_partial_aggregate(df: DataFrame) -> bool:
    """2-phase (partial + final) hash aggregation — the reference's
    pre-agg/merge-agg split (DistributedPlanner.java:676-810)."""
    plan = formatted_plan(df)
    return "partial_" in plan or plan.count("HashAggregate") >= 2


def count_shuffles(df: DataFrame) -> int:
    return simple_plan(df).count("Exchange")


def codegen_operator_count(df: DataFrame) -> int:
    """Operators inside WholeStageCodegen spans (the `*`-starred nodes in the
    formatted plan). Under AQE the final plan only exists after execution, so
    materialize first."""
    import re

    df.collect()
    plan = formatted_plan(df)
    return len(re.findall(r"\*\s+\w", plan))


def executed_metrics(df: DataFrame) -> list[tuple[int, str, dict]]:
    """Per-operator runtime metrics of the EXECUTED plan — (depth, node name,
    {metric description: value}) rows in pre-order.

    This is the engine's runtime-profile surface, approximating the
    reference's per-node counter tree (be/src/service/query-exec-state.h:
    65-91 RuntimeProfile): rows produced, shuffle bytes/records, spill
    sizes, scan output — whatever each physical node registered. Metrics are
    populated by EXECUTION: call after an action, else values are zero.
    AdaptiveSparkPlanExec hides its final plan behind executedPlan —
    unwrapped explicitly so AQE queries profile the plan that actually ran.
    """
    out: list[tuple[int, str, dict]] = []

    def walk(node, depth: int) -> None:
        name = node.nodeName()
        if "AdaptiveSparkPlan" in name:
            walk(node.executedPlan(), depth)
            return
        if name == "CommandResult":
            # DML/DDL: the write command's physical plan (with the
            # InsertIntoHadoopFsRelationCommand write metrics — rows
            # written, files, dynamic partitions) hangs off the result
            # node, not children()
            try:
                walk(node.commandPhysicalPlan(), depth)
                return
            except Exception:
                pass
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metric = kv._2()  # each py4j call is a round trip
            label = metric.name()
            vals[str(label.get()) if label.isDefined()
                 else str(kv._1())] = metric.value()
        out.append((depth, str(name), vals))
        # InputAdapter / QueryStage wrappers keep real children one level down
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), depth + 1)
        if "QueryStage" in name:  # nodeName strips the Exec suffix
            walk(node.plan(), depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)  # noqa: SLF001
    return out


def shuffle_write_bytes(df: DataFrame) -> int:
    """Total 'shuffle bytes written' across the EXECUTED plan — the
    quantitative scale signal (a per-key blowup that plan-shape asserts
    can't see shows up here first; the r02 ER-blocking cliff was exactly a
    shuffle-write explosion). Call after an action."""
    return sum(int(vals.get("shuffle bytes written", 0) or 0)
               for _, _, vals in executed_metrics(df))


def dml_rows_appended(metrics_rows) -> int | None:
    """Rows written by a DML statement, read from the executed write
    command's metrics (the reference's TInsertResult.rows_appended source,
    be/src/exec/hdfs-table-sink.cc per-partition counters). None when the
    plan has no write command node."""
    for _, name, vals in metrics_rows:
        if name.startswith("Execute ") and "number of output rows" in vals:
            return int(vals["number of output rows"] or 0)
    return None


def scan_input_bytes(df: DataFrame) -> int:
    """Total 'size of files read' across the executed plan's scans — the
    input-size denominator for shuffle budgets."""
    return sum(int(vals.get("size of files read", 0) or 0)
               for _, name, vals in executed_metrics(df)
               if name.startswith("Scan"))


def profile_text(metrics_rows) -> str:
    """Render executed_metrics rows as the indented profile tree the shell's
    `profile` command prints (the caller walks the plan once and keeps the
    rows for the exec summary too)."""
    lines = []
    for depth, name, vals in metrics_rows:
        shown = ", ".join(f"{k}: {v:,}" for k, v in sorted(vals.items())
                          if isinstance(v, int))
        lines.append("  " * depth + f"{name}" + (f"  [{shown}]" if shown else ""))
    return "\n".join(lines)
