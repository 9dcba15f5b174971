"""Physical-plan assertions — the "would this survive a 100x scale-up" checks.

The reference has no planner (SURVEY.md §4); Catalyst is ours for free, but
only if the DataFrame program doesn't defeat it. These helpers let tests (and
reviews) assert the plan properties that matter at 100 TB:

- filters/column pruning reach the parquet scan (PushedFilters / ReadSchema)
- small dims broadcast (BroadcastHashJoin, not SortMergeJoin)
- a pipeline has exactly the shuffles it should (count Exchange nodes)
- per-document work stays in ONE Arrow stage (count the plan's
  Python-worker nodes)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count (excluding broadcast exchanges — those are the point)."""
    plan = physical_plan(df)
    return len(re.findall(r"\bExchange hashpartitioning|\bExchange rangepartitioning|\bExchange RoundRobinPartitioning", plan))


# Physical operators that run Python workers (Spark 4.1 class names).
PYTHON_EXECS = frozenset(
    {
        "ArrowAggregatePythonExec",
        "ArrowEvalPythonExec",
        "ArrowEvalPythonUDTFExec",
        "ArrowWindowPythonExec",
        "BatchEvalPythonExec",
        "BatchEvalPythonUDTFExec",
        "FlatMapCoGroupsInArrowExec",
        "FlatMapCoGroupsInPandasExec",
        "FlatMapGroupsInArrowExec",
        "FlatMapGroupsInPandasExec",
        "FlatMapGroupsInPandasWithStateExec",
        "MapInArrowExec",
        "MapInPandasExec",
        "TransformWithStateInPySparkExec",
    }
)


def plan_node_names(plan) -> list[str]:
    """Class names of every node of a JVM physical plan, walking into
    adaptive plans (their current plan) and query stages (the plan each
    stage ran); a reused exchange is not walked twice."""
    out: list[str] = []
    todo = [plan]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        out.append(kind)
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif kind != "ReusedExchangeExec":
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def python_nodes(df_or_plan) -> list[str]:
    """The Python-worker operators (``PYTHON_EXECS``) of a DataFrame's
    executed plan, or of a JVM physical plan (e.g. one a
    QueryExecutionListener was handed)."""
    plan = (
        df_or_plan._jdf.queryExecution().executedPlan()
        if isinstance(df_or_plan, DataFrame)
        else df_or_plan
    )
    return [n for n in plan_node_names(plan) if n in PYTHON_EXECS]


def count_python_stages(df_or_plan) -> int:
    return len(python_nodes(df_or_plan))


def has_row_python_udf(df: DataFrame) -> bool:
    """True if any slow-path row-at-a-time Python UDF is in the plan
    (BatchEvalPython = pickled row UDF, the thing the north rule bans)."""
    return "BatchEvalPythonExec" in python_nodes(df)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def pushed_filters(df: DataFrame) -> str:
    plan = formatted_plan(df)
    return "\n".join(ln.strip() for ln in plan.splitlines() if "PushedFilters" in ln)


def read_schema(df: DataFrame) -> str:
    plan = formatted_plan(df)
    return "\n".join(ln.strip() for ln in plan.splitlines() if "ReadSchema" in ln)
