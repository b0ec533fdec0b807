"""Plan facts: each query's final adaptive plan, checked node by node.

At sf0.001, sf0.01 and sf0.1 the test takes the query's one seed run, the
run whose toArrow() result tests/test_queries.py checks against the oracle
(conftest's ``seed_run``), walks its executed plan through AQE query stages
with perfbench's ``_plan_nodes``, and asserts the facts the design relies on:
how many shuffles it does, which joins it picks, which filters reach the
parquet scan, what crosses the shuffle where that was narrowed on
purpose, that no aggregate sums into a decimal (dec_sum's sum is a
BIGINT of micro-units), and that no result column is a zoned TIMESTAMP,
whose value would depend on the session time zone.  A setting or rewrite
that changes one of them has to change this table.
"""

from __future__ import annotations

from collections import Counter
from typing import NamedTuple

import pytest
from pyspark.sql.types import TimestampType

from graft import QUERIES
from perfbench.layers import _plan_nodes, _seq
from tests.conftest import SF0001, SF001, SF01


class Facts(NamedTuple):
    exchanges: int  # ShuffleExchangeExec nodes
    broadcast_joins: int = 0  # the only join allowed: BroadcastHashJoinExec
    pushed: tuple[str, ...] = ()  # substrings of some scan's PushedFilters
    has: tuple[str, ...] = ()  # node classes that must appear
    # for a single-Exchange plan: (its input columns, [(key, type)])
    shuffle: tuple[tuple[str, ...], list[tuple[str, str]]] | None = None


PLAN_FACTS = {
    "ticks_range": Facts(0, pushed=(
        "GreaterThanOrEqual(ts,2024-01-08T00:00)", "LessThan(ts,2024-01-15T00:00)",
        "EqualTo(event_type,purchase)")),
    "candles_hourly": Facts(1),
    "vwap_daily": Facts(1),
    "type_stats": Facts(2),
    "user_sessions": Facts(1, shuffle=(("ts", "user_id", "value"), [("user_id", "bigint")])),
    "top_users": Facts(1, has=("TakeOrderedAndProjectExec",),
                       pushed=("EqualTo(event_type,purchase)",)),
    "pricing_summary": Facts(1, pushed=("LessThanOrEqual(l_shipdate,",)),
    "revenue_by_nation": Facts(2, broadcast_joins=4, pushed=(
        "EqualTo(r_name,EUROPE)", "GreaterThanOrEqual(o_orderdate,1996-01-01T00:00)",
        "LessThan(o_orderdate,1997-01-01T00:00)")),
    "brand_volume": Facts(1, broadcast_joins=1, pushed=("LessThanOrEqual(p_size,25)",)),
    "priority_backlog": Facts(1, broadcast_joins=1, pushed=("EqualTo(l_returnflag,R)",)),
    "doc_dedup": Facts(1, shuffle=(("h", "min", "count"), [("h", "binary")])),
    "doc_stats": Facts(2),
    "vector_knn": Facts(0, has=("MapInArrowExec",)),
    "label_profile": Facts(2, broadcast_joins=1),
}


def _assert_plan_facts(name, df):
    """PLAN_FACTS[name] on the final plan of df's own QueryExecution, which
    an action on df must already have run."""
    facts = PLAN_FACTS[name]
    # TimestampNTZType is not a TimestampType subclass
    zoned = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampType)]
    assert not zoned, zoned
    nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan()))
    classes = Counter(n.getClass().getSimpleName() for n in nodes)

    assert classes["ShuffleExchangeExec"] == facts.exchanges, classes
    joins = {c: k for c, k in classes.items()
             if c.endswith("JoinExec") or c == "CartesianProductExec"}
    assert joins == ({"BroadcastHashJoinExec": facts.broadcast_joins}
                     if facts.broadcast_joins else {})
    for cls in facts.has:
        assert classes[cls] >= 1, classes

    aggs = [(n.getClass().getSimpleName(), ae.aggregateFunction().dataType().simpleString())
            for n in nodes if n.getClass().getSimpleName().endswith("AggregateExec")
            for ae in _seq(n.aggregateExpressions())]
    assert not [a for a in aggs if a[1].startswith("decimal")], aggs

    pushed = [n.metadata().apply("PushedFilters") for n in nodes
              if n.getClass().getSimpleName() == "FileSourceScanExec"]
    for f in facts.pushed:
        assert any(f in p for p in pushed), (f, pushed)

    if facts.shuffle is not None:
        cols, keys = facts.shuffle
        (exchange,) = [n for n in nodes if n.getClass().getSimpleName() == "ShuffleExchangeExec"]
        assert tuple(a.name() for a in _seq(exchange.child().output())) == cols
        part = exchange.outputPartitioning()
        assert part.getClass().getSimpleName() == "HashPartitioning"
        assert [(e.name(), e.dataType().simpleString())
                for e in _seq(part.expressions())] == keys


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_facts(seed_run, name):
    _assert_plan_facts(name, seed_run(name, SF0001)[0])


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_facts_sf001(seed_run, name):
    _assert_plan_facts(name, seed_run(name, SF001)[0])


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_facts_sf01(seed_run, name):
    _assert_plan_facts(name, seed_run(name, SF01)[0])
