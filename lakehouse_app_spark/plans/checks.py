"""Physical-plan shape assertions.

Correctness says the answer is right; these checks say the *plan* is
the one that survives 100 TB (SURVEY.md §4.2): filters and column
pruning reach the parquet scan, small sides broadcast, sort+limit
compiles to TakeOrderedAndProject, expressions stay inside
whole-stage codegen. Used by tests/test_plan_shapes.py so plan
regressions fail CI, not the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    # Wrap in a no-op projection (collapsed by the optimizer) so the
    # explain always renders the *initial* physical plan: the shared
    # prepared-plan DataFrame may already have executed, and explain
    # on an executed AQE plan shows the final adaptive rewrite
    # (ShuffleQueryStage/AQEShuffleRead) instead of the shape under test.
    fresh = df.select("*")
    return fresh._sc._jvm.PythonSQLUtils.explainString(
        fresh._jdf.queryExecution(), "formatted"
    )


def assert_in_plan(df: DataFrame, *needles: str) -> str:
    plan = formatted_plan(df)
    for needle in needles:
        assert needle in plan, f"plan missing {needle!r}:\n{plan}"
    return plan


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters: [...] line(s) of the scan nodes."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    )


def read_schema_width(df: DataFrame) -> list[str]:
    """ReadSchema lines — how many columns actually leave parquet."""
    return [
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "ReadSchema" in line
    ]


def _seq(jseq) -> list:
    it = jseq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def file_scans(df: DataFrame) -> list[tuple[list[str], str]]:
    """(root paths, partition filters) of every file scan in the
    initial physical plan, read off the FileSourceScanExec nodes: the
    rendered plan truncates a long location, so a path check against
    explain text depends on where the data lives."""
    todo = [df.select("*")._jdf.queryExecution().executedPlan()]
    scans = []
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind == "FileSourceScanExec":
            roots = [p.toString() for p in _seq(node.relation().location().rootPaths())]
            scans.append((roots, node.partitionFilters().mkString(", ")))
        todo.extend(_seq(node.children()))
    return scans
