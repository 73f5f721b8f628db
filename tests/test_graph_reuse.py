"""Per-graph structure is derived once: ``JoinGraph.key_for`` memoizes per
instance, and ``ParkSession.reset`` reuses one graph per query SQL.
Spark-free."""

import dataclasses
import importlib.util
import os
import random

import pytest

from query_optimizer_spark import park_api, workload
from query_optimizer_spark.costmodels import get_cost_model
from query_optimizer_spark.joingraph import JoinGraph
from query_optimizer_spark.oracle import TrueCountOracle
from query_optimizer_spark.park_api import ParkSession
from query_optimizer_spark.planners import PLANNERS
from query_optimizer_spark.sqlparse import ParseError, parse

from .conftest import SF_DIR
from .fixtures import ALL


def _train_agent():
    spec = importlib.util.spec_from_file_location(
        "train_agent",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "train_agent.py",
        ),
    )
    ta = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ta)
    return ta


def _graphs(ta):
    for name, sql in workload.FIXTURES.items():
        yield name, JoinGraph.from_query(parse(sql))
    rng = random.Random(7)
    for kind, sizes in ta.SYNTH_TOPOLOGIES.items():
        for n in sizes:
            graph, _ = ta.synth_graph(kind, n, rng)
            yield f"synth_{kind}_{n}", graph


def test_key_memo_matches_fresh_build():
    """Every mask's memoized key is the key an un-memoized fresh instance
    builds, whatever order the masks are first asked in."""
    ta = _train_agent()
    seen = 0
    for name, g in _graphs(ta):
        masks = list(range(1, 1 << g.n))
        random.Random(name).shuffle(masks)
        warm = {m: g.key_for(m) for m in masks}
        assert len(g._keys) == len(masks), name
        fresh = dataclasses.replace(g)
        assert "_keys" not in vars(fresh), name
        for m in masks:
            assert g.key_for(m) == warm[m] == fresh._build_key(m), (name, m)
        seen += 1
    assert seen == len(workload.FIXTURES) + sum(map(len, ta.SYNTH_TOPOLOGIES.values()))


def test_replace_starts_with_empty_memo():
    """A rewrite builds a new graph; ``dataclasses.replace`` must not carry
    the inner-typed keys of a warm memo over to an outer-typed graph."""
    g = JoinGraph.from_query(parse(workload.FIXTURES["join_chain_3"]))
    last = 1 << (g.n - 1)
    inner = {m: g.key_for(m) for m in range(1, 1 << g.n)}
    assert not any("left:" in k for k in inner.values())
    og = dataclasses.replace(g, null_generating=last)
    for m in range(1, 1 << g.n):
        key = og.key_for(m)
        if m & last:
            assert "left:" in key and key != inner[m], m
        else:
            assert key == inner[m], m
    assert g.key_for(last) == inner[last]


@pytest.fixture
def parse_calls(monkeypatch):
    calls = []

    def counting_parse(sql):
        calls.append(sql)
        return parse(sql)

    monkeypatch.setattr(park_api, "parse", counting_parse)
    return calls


def _play(s: ParkSession) -> int:
    """One episode with the first action each step; its vertex count."""
    n = len(s.reset()["vertices"])
    while not s.isDone():
        s.step(s.getActions()[0])
    return n


def _opt_order(sql: str, oracle) -> str:
    graph = JoinGraph.from_query(parse(sql))
    return PLANNERS["dp_ccp"](graph, oracle, get_cost_model("cm1")).order_str()


def test_park_reset_parses_each_query_once(parse_calls):
    oracle = TrueCountOracle(SF_DIR)
    s = ParkSession(oracle=oracle)
    s.setQueries("train", {"q": ALL["q_chain_3"]})
    for _ in range(5):
        assert _play(s) == 3
        assert s.getOptPlan() == _opt_order(ALL["q_chain_3"], oracle)
    assert parse_calls == [ALL["q_chain_3"]]

    # same name, new SQL: the next reset plays the new graph
    s.setQueries("train", {"q": ALL["q_star_4"]})
    assert _play(s) == 4
    assert s.getOptPlan() == _opt_order(ALL["q_star_4"], oracle)
    assert _play(s) == 4
    assert parse_calls == [ALL["q_chain_3"], ALL["q_star_4"]]

    # setQueries drops the graphs of earlier query sets
    s.setQueries("train", {"q": ALL["q_chain_3"]})
    assert _play(s) == 3
    assert parse_calls == [ALL["q_chain_3"], ALL["q_star_4"], ALL["q_chain_3"]]


def test_park_bad_sql_raises_at_reset():
    s = ParkSession(oracle=TrueCountOracle(SF_DIR))
    s.setQueries("train", {"bad": "SELECT * FROM a WHERE a.x = 1 OR a.y = 2"})
    with pytest.raises(ParseError):
        s.reset()
