"""Plan-inspection helpers used by tests and scale audits.

The reference prints its plan via ``topology.describe()``
(dsl/PriceAlertsApp.java:43); ours is ``df.explain``. These helpers
make plan properties assertable: tests verify that dimension joins are
broadcast, that scans prune columns, and that no hot path falls out of
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan."""
    plan = physical_plan(df)
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df) or "BroadcastNestedLoopJoin" in physical_plan(df)
