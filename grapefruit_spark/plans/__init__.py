"""Plan inspection helpers — the engine's "did Catalyst do the right
thing" toolkit. Used by tests to pin plan quality (pushdown, pruning,
broadcast, codegen) so perf regressions fail CI, not the bench."""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the scan nodes."""
    plan = executed_plan(df)
    return "\n".join(
        seg.split("]", 1)[0] for seg in plan.split("PushedFilters: [")[1:]
    )


def read_schemas(df: DataFrame) -> str:
    plan = executed_plan(df)
    return "\n".join(seg.split(">", 1)[0] for seg in plan.split("ReadSchema: ")[1:])


def assert_filter_pushed(df: DataFrame, column: str) -> None:
    pf = pushed_filters(df)
    assert column in pf, f"filter on {column!r} not pushed to scan; got: {pf!r}"


def assert_column_pruned(df: DataFrame, column: str) -> None:
    rs = read_schemas(df)
    assert column not in rs, f"column {column!r} should be pruned from scan: {rs!r}"


def assert_broadcast_join(df: DataFrame) -> None:
    assert "BroadcastHashJoin" in executed_plan(df), "expected a broadcast hash join"


def assert_no_python_row_udf(df: DataFrame) -> None:
    """Hot paths must stay JVM-side: Arrow-batched pandas ops are allowed
    (explicit escape hatch), row-at-a-time Python UDFs are not."""
    plan = executed_plan(df)
    assert "BatchEvalPython" not in plan, "row-at-a-time Python UDF in plan"
