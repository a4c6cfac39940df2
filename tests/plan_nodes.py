"""Plan-shape assertions on the physical plan TREE, not on ``explain`` text.

The walk enters AQE's ``AdaptiveSparkPlanExec`` through its current
``executedPlan`` (the final plan once the frame has run) and each
``QueryStageExec`` through its ``plan``, so a stage's subtree counts once.
"""

from __future__ import annotations


def count_nodes(df, *class_names: str) -> int:
    """Number of physical-plan nodes of ``df`` whose JVM class simple name is
    one of ``class_names`` (e.g. ``"ShuffleExchangeExec"``,
    ``"ArrowEvalPythonExec"``)."""
    wanted = set(class_names)

    def walk(node) -> int:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        children = node.children()
        return (name in wanted) + sum(
            walk(children.apply(i)) for i in range(children.size())
        )

    return walk(df._jdf.queryExecution().executedPlan())
