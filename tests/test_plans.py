"""Plan facts: each query's final adaptive plan, checked node by node.

Every query runs once at sf0.001; the test then walks the executed plan,
through AQE query stages, and asserts the facts the design relies on:
how many shuffles it does, which joins it picks, which filters reach the
parquet scan, and what crosses the shuffle where that was narrowed on
purpose.  The facts hold at sf0.1 too; a setting or rewrite that changes
one of them has to change this table.
"""

from __future__ import annotations

from collections import Counter
from typing import NamedTuple

import pytest

from graft import QUERIES
from tests.conftest import SF0001


class Facts(NamedTuple):
    exchanges: int  # ShuffleExchangeExec nodes
    broadcast_joins: int = 0  # the only join allowed: BroadcastHashJoinExec
    pushed: tuple[str, ...] = ()  # substrings of some scan's PushedFilters
    has: tuple[str, ...] = ()  # node classes that must appear
    # for a single-Exchange plan: (its input columns or None, [(key, type)])
    shuffle: tuple[tuple[str, ...] | None, list[tuple[str, str]]] | None = None


PLAN_FACTS = {
    "ticks_range": Facts(0, pushed=(
        "GreaterThanOrEqual(ts,2024-01-08T00:00)", "LessThan(ts,2024-01-15T00:00)",
        "EqualTo(event_type,purchase)")),
    "candles_hourly": Facts(1),
    "vwap_daily": Facts(1),
    "type_stats": Facts(2),
    "user_sessions": Facts(1, shuffle=(("user_id", "us", "value"), [("user_id", "bigint")])),
    "top_users": Facts(1, has=("TakeOrderedAndProjectExec",),
                       pushed=("EqualTo(event_type,purchase)",)),
    "pricing_summary": Facts(1, pushed=("LessThanOrEqual(l_shipdate,",)),
    "revenue_by_nation": Facts(2, broadcast_joins=4, pushed=(
        "EqualTo(r_name,EUROPE)", "GreaterThanOrEqual(o_orderdate,1996-01-01T00:00)",
        "LessThan(o_orderdate,1997-01-01T00:00)")),
    "brand_volume": Facts(1, broadcast_joins=1, pushed=("LessThanOrEqual(p_size,25)",)),
    "priority_backlog": Facts(1, broadcast_joins=1, pushed=("EqualTo(l_returnflag,R)",)),
    "doc_dedup": Facts(1, shuffle=(None, [("h", "binary")])),
    "doc_stats": Facts(2),
    "vector_knn": Facts(0, has=("MapInArrowExec",)),
    "label_profile": Facts(2, broadcast_joins=1),
}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _nodes(node):
    """Yield every node of an executed plan, through AQE query stages."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        kids = _seq(node.children())
    for kid in kids:
        yield from _nodes(kid)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_facts(spark, name):
    facts = PLAN_FACTS[name]
    df = QUERIES[name](spark, SF0001)
    df.collect()  # runs the DataFrame's own QueryExecution to its final plan
    nodes = list(_nodes(df._jdf.queryExecution().executedPlan()))
    classes = Counter(n.getClass().getSimpleName() for n in nodes)

    assert classes["ShuffleExchangeExec"] == facts.exchanges, classes
    joins = {c: k for c, k in classes.items()
             if c.endswith("JoinExec") or c == "CartesianProductExec"}
    assert joins == ({"BroadcastHashJoinExec": facts.broadcast_joins}
                     if facts.broadcast_joins else {})
    for cls in facts.has:
        assert classes[cls] >= 1, classes

    pushed = [n.metadata().apply("PushedFilters") for n in nodes
              if n.getClass().getSimpleName() == "FileSourceScanExec"]
    for f in facts.pushed:
        assert any(f in p for p in pushed), (f, pushed)

    if facts.shuffle is not None:
        cols, keys = facts.shuffle
        (exchange,) = [n for n in nodes if n.getClass().getSimpleName() == "ShuffleExchangeExec"]
        if cols is not None:
            assert tuple(a.name() for a in _seq(exchange.child().output())) == cols
        part = exchange.outputPartitioning()
        assert part.getClass().getSimpleName() == "HashPartitioning"
        assert [(e.name(), e.dataType().simpleString())
                for e in _seq(part.expressions())] == keys
