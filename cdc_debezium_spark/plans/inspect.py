"""Physical-plan introspection utilities (the 100 TB audit surface).

Thin wrappers over queryExecution for asserting plan SHAPE — broadcast
choice, pushdown, pruning, shuffle count. Used by tests/test_plans.py
and usable interactively while tuning: a correct result with the wrong
plan is a 100× cost regression at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The physical plan Spark chose for `df`. An adaptive plan is given
    as planned, before any run: once run, its tree also prints the
    final plan, which would show every exchange twice."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    return plan.toString()


def count_shuffles(df: DataFrame) -> int:
    """Hash-partitioning exchanges in the plan (each is a full shuffle
    of its input at scale)."""
    return physical_plan(df).count("Exchange hashpartitioning")


def uses_broadcast(df: DataFrame) -> bool:
    return "Broadcast" in physical_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters clause of the first scan ('' if none)."""
    plan = physical_plan(df)
    if "PushedFilters" not in plan:
        return ""
    return plan.split("PushedFilters:")[1].split("]")[0] + "]"


def read_schema(df: DataFrame) -> str:
    """The ReadSchema clause of the first scan — what actually gets
    read off disk after column pruning."""
    plan = physical_plan(df)
    if "ReadSchema" not in plan:
        return ""
    return plan.split("ReadSchema:")[1].splitlines()[0].strip()
