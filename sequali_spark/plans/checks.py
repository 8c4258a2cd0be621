"""Physical-plan assertions.

The reference hand-fuses its plan at authoring time; here Catalyst owns
the plan, so the discipline moves into *checks*: tests assert the plan
has the shape a 100 TB run needs (single Python stage, filters pushed
to the scan, pruned read schema, broadcast where intended).  These run
in CI (tests/test_plans.py) so a regression in plan shape fails the
build, not the cluster bill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def count_python_stages(df: DataFrame) -> int:
    """Number of Arrow/Python eval nodes that would EXECUTE — the
    one-pass discipline (SURVEY.md §7.4): the metric battery must be
    ONE stage.  Text under an InMemoryRelation describes the cached
    plan (already executed) and is excluded."""
    plan = physical_plan(df).split("InMemoryRelation", 1)[0]
    return sum(plan.count(tag) for tag in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"))


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan node (empty string if the
    scan reports none)."""
    plan = physical_plan(df)
    out = []
    for line in plan.splitlines():
        if "PushedFilters" in line:
            out.append(line.strip())
    return "\n".join(out)


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names in the parquet ReadSchema — column pruning proof."""
    plan = physical_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema" in line:
            seg = line.split("ReadSchema:", 1)[1]
            inner = seg[seg.find("<") + 1 : seg.rfind(">")]
            for field in inner.split(","):
                name = field.split(":", 1)[0].strip()
                if name:
                    cols.append(name)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df) or "BroadcastNestedLoopJoin" in physical_plan(df)


def shuffle_count(df: DataFrame) -> int:
    return physical_plan(df).count("Exchange")
