"""Physical-plan inspection helpers.

The engine's performance contract is expressed as plan-shape assertions
(tests/test_plans.py): filters reach the parquet scan (``PushedFilters``),
projections prune the read schema, small dimensions broadcast, top-k plans
as ``TakeOrderedAndProject``, and hot expressions stay inside whole-stage
codegen. These helpers turn ``.explain`` output into checkable values, so a
plan regression fails CI instead of silently costing 10× at scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The physical plan as text — NOTE: on an UNEXECUTED AQE query this
    prints ``AdaptiveSparkPlan isFinalPlan=false`` without the ``*(n)``
    whole-stage-codegen markers (the r14 PLANS.md regression: 158/191
    digest rows read 0 spans and the codegen column carried no signal).
    Use :func:`final_executed_plan` when span counts matter."""
    return df._jdf.queryExecution().executedPlan().toString()


def final_executed_plan(df: DataFrame) -> str:
    """The FINAL (post-AQE-execution) physical plan: when the plan is not
    yet final, execute the DataFrame's OWN plan once (``collect`` on the
    same Dataset drives the same QueryExecution, so AQE finalizes in
    place — a ``count()`` would execute a different, wrapped plan) and
    re-read it. The final tree carries real ``*(n)`` codegen spans and
    the join strategies AQE actually chose at runtime."""
    plan = executed_plan(df)
    if "isFinalPlan=false" in plan:
        df.collect()
        plan = executed_plan(df)
    return plan


def formatted_plan(df: DataFrame) -> str:
    """``explain("formatted")`` as a string — unlike the compact tree,
    scan details (PushedFilters / ReadSchema) are never truncated here."""
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), "formatted"
    )


def explain_summary(df: DataFrame, materialize: bool = False) -> dict[str, object]:
    """Digest of the physical plan: operators, exchanges, codegen spans.
    ``materialize=True`` digests the FINAL AQE plan (executes the query
    once — see :func:`final_executed_plan`); the default digests the
    pre-execution plan, whose ``wholestage_spans`` is 0 under AQE."""
    plan = final_executed_plan(df) if materialize else executed_plan(df)
    return {
        "n_exchanges": plan.count("Exchange"),
        "n_broadcast_joins": plan.count("BroadcastHashJoin"),
        "n_sortmerge_joins": plan.count("SortMergeJoin"),
        "has_take_ordered": "TakeOrderedAndProject" in plan,
        "wholestage_spans": len(re.findall(r"\*\(\d+\)", plan)),
        "pushed_filters": pushed_filters(df),
    }


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters pushed into the parquet scan (empty list = nothing pushed)."""
    plan = formatted_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def read_schema_columns(df: DataFrame) -> list[set[str]]:
    """Column sets actually read by each parquet scan (pruning check)."""
    plan = formatted_plan(df)
    out = []
    for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        out.append({c.split(":")[0].strip() for c in m.split(",") if c.strip()})
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)
