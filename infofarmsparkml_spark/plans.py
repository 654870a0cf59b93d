"""Physical-plan inspection helpers — used by the plan-shape tests
(SURVEY.md §5.7) to assert that Catalyst produced the plan we'd
want at 100 TB: filters pushed into the parquet scan, columns
pruned, small sides broadcast, top-k as TakeOrderedAndProject,
wide WholeStageCodegen spans. `plan_nodes` is the one node counter:
the plan pins and `scripts/measure.py contract` both read it.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (df.explain prints JVM-side)."""
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    explain_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return jdf.queryExecution().explainString(explain_mode)


def plan_nodes(df: DataFrame) -> tuple[Counter, list[list[str]]]:
    """Node counts by name in ``df``'s physical plan tree, and the UDF
    names each ``ArrowEvalPython`` node evaluates, in plan order.

    The walk: an ``AdaptiveSparkPlan`` descends into its current plan
    (the initial plan before the query runs, the final one after); a
    ``*QueryStage`` into its stage plan; any other node into its inner
    children (subqueries, cached plans) and then its children — the
    order explain prints them in. A node's name is the first word of
    its ``simpleString`` (past the ``!`` Spark puts before a node with
    missing input), so ``ReusedExchange``, ``BroadcastExchange``
    and ``WindowGroupLimit`` never count as ``Exchange`` or ``Window``,
    and each executed node counts once (an executed adaptive explain
    prints the final and the initial plan)."""
    counts: Counter = Counter()
    udfs: list[list[str]] = []

    def seq(s) -> list:
        return [s.apply(i) for i in range(s.size())]

    def walk(node) -> None:
        name = re.search(r"\w+", node.simpleString(0)).group()
        counts[name] += 1
        if name == "ArrowEvalPython":
            udfs.append([u.name() for u in seq(node.udfs())])
        if name == "AdaptiveSparkPlan":
            kids = [node.executedPlan()]
        elif name.endswith("QueryStage"):
            kids = [node.plan()]
        else:
            kids = seq(node.innerChildren()) + seq(node.children())
        for kid in kids:
            walk(kid)

    walk(df._jdf.queryExecution().executedPlan())
    return counts, udfs
