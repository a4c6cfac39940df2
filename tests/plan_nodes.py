"""Plan-shape assertions on the physical plan TREE, not on ``explain`` text.

The walk enters AQE's ``AdaptiveSparkPlanExec`` through its current
``executedPlan`` (the final plan once the frame has run) and each
``QueryStageExec`` through its ``plan``, so a stage's subtree counts once.
``codegen_compiles`` counts the generated classes Spark compiles (Janino).
"""

from __future__ import annotations

from contextlib import contextmanager

# every physical node whose explain name contains "Exchange"
EXCHANGES = ("ShuffleExchangeExec", "BroadcastExchangeExec", "ReusedExchangeExec")


def count_nodes(df, *class_names: str, partitioning: str | None = None) -> int:
    """Number of physical-plan nodes of ``df`` whose JVM class simple name is
    one of ``class_names`` (e.g. ``"ShuffleExchangeExec"``,
    ``"ArrowEvalPythonExec"``). With ``partitioning`` (e.g.
    ``"HashPartitioning"``) only nodes whose output partitioning has that
    class simple name count."""
    wanted = set(class_names)

    def matches(node, name: str) -> bool:
        return name in wanted and (
            partitioning is None
            or node.outputPartitioning().getClass().getSimpleName() == partitioning
        )

    def walk(node) -> int:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        children = node.children()
        return matches(node, name) + sum(
            walk(children.apply(i)) for i in range(children.size())
        )

    return walk(df._jdf.queryExecution().executedPlan())


@contextmanager
def codegen_compiles(spark):
    """Yield a dict whose ``"n"`` is, once the block exits, the number of
    generated classes Spark compiled inside it (the delta of the JVM-wide
    ``CodegenMetrics`` compilation counter; a class served from Spark's
    generated-code cache is not compiled and does not count)."""
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    out = {"n": None}
    before = timer.getCount()
    yield out
    out["n"] = timer.getCount() - before
