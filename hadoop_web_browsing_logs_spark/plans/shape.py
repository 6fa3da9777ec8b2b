"""A physical plan's shape: how many of each scale-relevant node kind it has.

The shape is what the engine claims about a query at scale: which sides
broadcast, how many shuffles and of which partitioning, which scans,
windows, sorts and aggregates run, and where Python evaluates. It holds
no column names, expression ids or column order, so two sessions of the
same code give the same shape even where Catalyst orders columns
differently. ``tests/plan_shapes.json`` records the shape of every
registered query and ``tests/test_plans.py`` checks it.
"""

from __future__ import annotations

import re
from collections import Counter

#: Spark's physical Python evaluation nodes: the row-at-a-time and Arrow
#: UDF evaluators, the UDTF evaluators and the grouped/mapped Pandas and
#: Arrow operators.
PYTHON_NODES = (
    "ArrowAggregatePython", "ArrowEvalPython", "ArrowEvalPythonUDTF",
    "ArrowWindowPython", "BatchEvalPython", "BatchEvalPythonUDTF",
    "FlatMapCoGroupsInArrow", "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState", "MapInArrow",
    "MapInPandas",
)

_KINDS = (
    "BroadcastExchange", "ReusedExchange",
    "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "ShuffledHashJoin", "SortMergeJoin",
    "FileScan", "Scan ExistingRDD", "InMemoryTableScan",
    "Window", "Expand", "Generate", "Sort", "TakeOrderedAndProject",
    "HashAggregate", "ObjectHashAggregate", "SortAggregate",
) + PYTHON_NODES

# a node's text: the optional codegen stage id, then the node name; a
# shuffle Exchange is keyed by its partitioning
_NODE = re.compile(
    r"(?:\*\(\d+\) )?!?(Exchange \w+|InMemoryRelation|" + "|".join(_KINDS) + r")\b"
)


def plan_shape(executed_plan: str) -> dict[str, int]:
    """Count the node kinds of ``executedPlan().toString()``; kinds with a
    zero count are left out. The plan a cached table was built from (the
    subtree under ``InMemoryRelation``) is not counted: it prints as a
    final adaptive plan once the cache is filled, so it would change with
    what ran before, not with the query."""
    shape: Counter[str] = Counter()
    cached_depth = None
    for line in executed_plan.splitlines():
        node = line.lstrip(" :|+-")
        depth = len(line) - len(node)
        if cached_depth is not None and depth > cached_depth:
            continue
        cached_depth = None
        m = _NODE.match(node)
        if m and m[1] == "InMemoryRelation":
            cached_depth = depth
        elif m:
            shape[m[1]] += 1
    return dict(sorted(shape.items()))
