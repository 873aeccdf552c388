"""Plan inspection helpers: assert the physical plan has the shape the
engine promises (pushdown reached the scan, join went broadcast, no
round-robin sorts before Python stages). Used by tests and by humans
iterating on operators ("explain until it's the plan you want")."""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan node (empty string if the
    plan has no file scan)."""
    plan = physical_plan(df)
    out = []
    for line in plan.splitlines():
        if "PushedFilters" in line:
            out.append(line.strip())
    return "\n".join(out)


def assert_broadcast_join(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        "expected a broadcast join:\n" + plan[:2000]
    )


def assert_no_python_in_scan_path(df: DataFrame) -> None:
    """No Python eval node below the first aggregation — used to pin that
    scalar functions stayed JVM-side."""
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan, (
        "row-at-a-time Python UDF in plan:\n" + plan[:2000]
    )


def whole_stage_codegen_spans(df: DataFrame, execute: bool = True) -> int:
    """Number of WholeStageCodegen spans. Under AQE the markers only show
    on the final plan, so this triggers execution by default.

    TEST-ONLY introspection: ``execute=True`` runs ``df.collect()`` to
    finalize the AQE plan — never call it on a data-sized frame outside a
    test fixture (its sole in-repo caller is tests/test_plans.py, on
    sf0.001 frames); pass ``execute=False`` to inspect the pre-AQE plan
    without running a job."""
    if execute:
        # count() would execute a different (wrapped) plan; AQE finalizes
        # only the plan object actually executed
        df.collect()
    import re

    plan = physical_plan(df)
    # codegen'd operators print as `*(n) OpName` in the tree string
    ids = set(re.findall(r"\*\((\d+)\)", plan))
    for line in plan.splitlines():
        if "WholeStageCodegen" in line:
            ids.add(line.split("WholeStageCodegen")[1][:6])
    return len(ids)
