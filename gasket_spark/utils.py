"""Small engine utilities."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame


def plan_nodes(df: DataFrame) -> Counter:
    """Count the physical node classes of ``df``'s executed plan,
    keyed by class name without the ``Exec`` suffix
    (``ShuffleExchange``, ``BroadcastExchange``, ``ArrowEvalPython``,
    ``InMemoryTableScan``, ...).

    The walk descends into adaptive plans and their query stages,
    into subqueries, and into the plan of every cached relation a
    scan reads, counting each cached plan once however many scans
    share it. A reused exchange or subquery is counted as its
    ``Reused*`` node, not again as what it reuses. Unlike substring
    counts on explain text, a cached subplan that the explain output
    repeats is not counted twice."""
    jvm = df.sparkSession._jvm
    counts: Counter = Counter()
    seen_cached: set[int] = set()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def walk(node):
        name = node.getClass().getSimpleName()
        counts[name.removesuffix("Exec")] += 1
        if name == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif name.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif name.startswith("Reused"):
            kids = []
        else:
            kids = seq(node.children()) + seq(node.subqueries())
        if name == "InMemoryTableScanExec":
            builder = node.relation().cacheBuilder()
            key = jvm.System.identityHashCode(builder)
            if key not in seen_cached:
                seen_cached.add(key)
                kids.append(builder.cachedPlan())
        for kid in kids:
            walk(kid)

    walk(df._jdf.queryExecution().executedPlan())
    return counts
