"""``JoinOrderEnv.state`` builds each vertex and edge record once, a state
only when read, and each join's price once per env; the park session
keeps one env per query SQL.  Every state, key, reward and plan must
still be the one a from-scratch build gives.  Spark-free."""

import json
import os
import random

import duckdb
import pytest

from query_optimizer_spark import TABLES, park_api, workload
from query_optimizer_spark.agents import action_features, load_policy
from query_optimizer_spark.catalog import Catalog
from query_optimizer_spark.costmodels import get_cost_model
from query_optimizer_spark.env import JoinOrderEnv
from query_optimizer_spark.joingraph import JoinGraph, bits, make_join
from query_optimizer_spark.oracle import CardinalityOracle
from query_optimizer_spark.park_api import ParkSession
from query_optimizer_spark.sqlparse import parse

from .conftest import SF_DIR
from .test_graph_reuse import _train_agent

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CM = get_cost_model("cm1")
RANDOM_EPISODES = 4


class _SchemaCatalog(Catalog):
    """The catalog's attribute offsets, read from the parquet schemas
    without Spark, so states carry real ``visibleAttributes``."""

    def __init__(self, sf_dir: str):
        con = duckdb.connect()
        self.offsets, self.columns, off = {}, {}, 0
        for t in TABLES:
            path = f"{sf_dir}/{t}.parquet"
            if not os.path.exists(path):
                continue
            rows = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{path}')")
            self.columns[t] = [r[0] for r in rows.fetchall()]
            self.offsets[t] = off
            off += len(self.columns[t])
        self.attr_count = off


def _state_from_scratch(env: JoinOrderEnv) -> dict:
    """The state as the env built it before it kept records: every
    vertex and edge derived again from the graph and the oracle."""
    verts = []
    for v in env.vertices:
        if v.node is None:
            continue
        d = {
            "id": v.vid,
            "estimated_cardinality": env.oracle.card(env.graph, v.node.factors),
            "factors": sorted(bits(v.node.factors)),
            "visibleAttributes": sorted(
                env._vertex_attrs(v.node) & env._visible
            )
            if env._visible
            else [],
        }
        if v.left is not None:
            d["leftFactor"] = v.left
            d["rightFactor"] = v.right
        verts.append(d)
    edges = []
    for va, vb in env.live_edges:
        na, nb = env.vertices[va].node, env.vertices[vb].node
        preds = [
            p for e in env.graph.edges_between(na.factors, nb.factors) for p in e.preds
        ]
        edges.append(
            {
                "factors": [va, vb],
                "joinAttributes": sorted(str(p.col) for p in preds)
                + sorted(str(p.operand) for p in preds),
            }
        )
    return {"vertices": verts, "edges": edges, "done": env.done}


def _cases():
    """(name, env factory) for every inner-join fixture, with and without
    the highest factor masked out, and every synthetic topology shape."""
    stats = workload.stats_oracle(SF_DIR)
    catalog = _SchemaCatalog(SF_DIR)
    for name, sql in workload.FIXTURES.items():
        graph = JoinGraph.from_query(parse(sql))
        if graph.null_generating:
            continue
        masks = [None]
        if graph.n > 2:
            masks.append(graph.all_factors & ~(1 << (graph.n - 1)))
        for mask in masks:
            yield f"{name}/{mask}", lambda g=graph, m=mask: JoinOrderEnv(
                g, stats, CM, catalog=catalog, seed=3, factors=m
            )
    ta = _train_agent()
    rng = random.Random(11)
    for kind, sizes in ta.SYNTH_TOPOLOGIES.items():
        for n in sizes:
            graph, oracle = ta.synth_graph(kind, n, rng)
            yield f"synth_{kind}_{n}", lambda g=graph, o=oracle: JoinOrderEnv(
                g, o, CM, seed=3
            )


def test_states_match_from_scratch_build():
    """At every step of random and ``POLICY.json`` episodes the state is
    byte-identical to a from-scratch build; a state held from one step
    is unchanged by the next step and by ``reset``; the first state after
    ``reset`` is a fresh env's first state."""
    policy = load_policy(os.path.join(REPO, "POLICY.json"))
    covered, n_steps = set(), 0
    for name, make_env in _cases():
        env = make_env()
        first = json.dumps(make_env().state())
        rng = random.Random(name)
        for ep in range(1 + RANDOM_EPISODES):
            state = env.reset()
            assert json.dumps(state) == first, (name, ep)
            held = []
            while not env.done:
                assert json.dumps(state) == json.dumps(_state_from_scratch(env)), (name, ep)
                assert env.state() is state, (name, ep)
                held.append((state, json.dumps(state)))
                action = policy.act(env) if ep == 0 else rng.randrange(len(env.actions()))
                state = env.step(action)[0]
                assert env.state() is state, (name, ep)
                for old, dumped in held:
                    assert json.dumps(old) == dumped, (name, ep)
                n_steps += 1
            assert json.dumps(state) == json.dumps(_state_from_scratch(env)), (name, ep)
            held.append((state, json.dumps(state)))
            env.reset()
            for old, dumped in held:
                assert json.dumps(old) == dumped, (name, ep)
        covered.add(name.split("/")[0])
    inner = {
        n for n, sql in workload.FIXTURES.items()
        if not JoinGraph.from_query(parse(sql)).null_generating
    }
    shapes = {
        f"synth_{kind}_{n}"
        for kind, sizes in _train_agent().SYNTH_TOPOLOGIES.items()
        for n in sizes
    }
    assert covered == inner | shapes
    assert n_steps > 1000


# --- state keys and the join memo -------------------------------------------


def _state_key(state: dict) -> tuple:
    """The REINFORCE memo key as it was derived from a state dict: the
    live vertices' factor sets in id order and each live edge's two sets
    in action order."""
    sets = {v["id"]: tuple(v["factors"]) for v in state["vertices"]}
    edges = [e["factors"] for e in state["edges"]]
    return (
        tuple([sets[v] for v in sorted(sets)]),
        tuple([(sets[a], sets[b]) for a, b in edges]),
    )


def _as_sets(key: tuple) -> tuple:
    """``env.state_key()`` with each factor mask as its sorted factor ids."""
    verts, edges = key
    return (
        tuple([tuple(bits(m)) for m in verts]),
        tuple([(tuple(bits(a)), tuple(bits(b))) for a, b in edges]),
    )


class _MemoFreeEnv(JoinOrderEnv):
    """Every join priced afresh with ``make_join`` and ``node_cost``."""

    def _price(self, left, right):
        join = make_join(self.graph, left, right)
        return join.preds, join.how, self.cm.node_cost(self.graph, join, self.oracle)


def _property_cases():
    """(name, graph, oracle, factor mask) for every fixture's inner core
    and every synthetic chain/star/cycle/clique shape."""
    stats = workload.stats_oracle(SF_DIR)
    for name, sql in workload.FIXTURES.items():
        graph = JoinGraph.from_query(parse(sql))
        core = graph.all_factors & ~graph.null_generating
        if core & (core - 1):  # two or more factors
            yield name, graph, stats, core
    ta = _train_agent()
    rng = random.Random(17)
    for kind, sizes in ta.SYNTH_TOPOLOGIES.items():
        for n in sizes:
            graph, oracle = ta.synth_graph(kind, n, rng)
            yield f"synth_{kind}_{n}", graph, oracle, None


@pytest.mark.parametrize("cm_name", ["cm1", "mm"])
def test_keys_and_join_memo_match_references(cm_name):
    """Over seeded random episodes of one reused env per case:
    ``state_key()`` names the state the old dict-derived key named, and
    equal keys give equal features; rewards, ``cost_so_far``, ``info``
    and ``final_plan()`` equal those of an env that prices every join
    afresh, whether played by ``step`` or ``advance``; and the state
    after a mid-episode ``reset`` is a fresh env's first state."""
    cm = get_cost_model(cm_name)
    cases, n_steps = 0, 0
    for name, graph, oracle, mask in _property_cases():
        env = JoinOrderEnv(graph, oracle, cm, seed=5, factors=mask)
        ref = _MemoFreeEnv(graph, oracle, cm, seed=5, factors=mask)
        first = JoinOrderEnv(graph, oracle, cm, seed=5, factors=mask)
        first_key, first_state = first.state_key(), json.dumps(first.state())
        feats_of: dict[tuple, list] = {}
        rng = random.Random(f"{name}/{cm_name}")
        for ep in range(8):
            assert json.dumps(env.reset()) == json.dumps(ref.reset()) == first_state
            assert env.state_key() == first_key, name
            stop = rng.randrange(1, graph.n) if ep % 4 == 3 else None
            k = 0
            while not env.done and k != stop:
                state = env.state()
                key = env.state_key()
                assert _as_sets(key) == _state_key(state), (name, k)
                feats = action_features(state, len(env.actions()))
                assert feats_of.setdefault(key, feats) == feats, (name, k)
                action = rng.randrange(len(env.actions()))
                if ep % 2:
                    got = env.advance(action), env.cost_so_far, env.done
                    want = ref.step(action)[1], ref.cost_so_far, ref.done
                else:
                    got = env.step(action)[1:] + (env.cost_so_far,)
                    want = ref.step(action)[1:] + (ref.cost_so_far,)
                assert got == want, (name, ep, k)
                k += 1
            n_steps += k
            if stop is None:
                assert env.final_plan() == ref.final_plan(), name
                assert env.final_plan().order_str() == ref.final_plan().order_str()
            else:  # abandoned mid-episode
                assert json.dumps(env.reset()) == first_state, name
                assert env.state_key() == first_key, name
        cases += 1
    assert cases == 14 + 28 and n_steps > 1500


@pytest.mark.parametrize("fixture", ["join_outer_3", "join_outer_mixed_5"])
def test_invalid_outer_placement_raises_on_every_repeat(fixture):
    """An action that would put a null-generating factor on a join's LHS
    or mix it into an inner RHS raises each time it is played or priced,
    and leaves the env as it was: the join memo stores nothing for it."""
    graph = JoinGraph.from_query(parse(workload.FIXTURES[fixture]))
    env = JoinOrderEnv(graph, workload.stats_oracle(SF_DIR), CM)
    rng = random.Random(fixture)
    raised = 0
    for _ in range(8):
        env.restart()
        while not env.done:
            valid = []
            for a in env.actions():
                va, vb = env.live_edges[a]
                try:
                    make_join(graph, env.vertices[va].node, env.vertices[vb].node)
                except AssertionError:
                    before = (env.state_key(), json.dumps(env.state()), env.cost_so_far)
                    for play in (env.action_cost, env.advance, env.step) * 2:
                        with pytest.raises(AssertionError, match="null-generating"):
                            play(a)
                        assert (
                            env.state_key(), json.dumps(env.state()), env.cost_so_far
                        ) == before
                    raised += 1
                else:
                    valid.append(a)
            if not valid:
                break
            env.advance(rng.choice(valid))
    assert raised > 0


CHAIN_4 = (
    "SELECT MIN(n.n_name) AS m FROM region r, nation n, customer c, orders o "
    "WHERE r.r_regionkey = n.n_regionkey AND n.n_nationkey = c.c_nationkey "
    "AND c.c_custkey = o.o_custkey"
)


@pytest.mark.parametrize(
    "sql", [CHAIN_4, workload.FIXTURES["join_cross_2"]], ids=["chain_4", "cross_2"]
)
def test_step_rejects_out_of_range_actions(sql):
    """A negative or too-large action raises ``ValueError`` naming the
    valid range and leaves the env as it was, for edge and cross-join
    actions alike.  ``step(-1)`` used to join the last live edge."""
    graph = JoinGraph.from_query(parse(sql))
    env = JoinOrderEnv(graph, workload.stats_oracle(SF_DIR), CM)
    while not env.done:
        n = len(env.actions())
        before = (json.dumps(env.state()), list(env.live_edges), len(env.vertices))
        for bad in (-1, n):
            with pytest.raises(ValueError, match=rf"0\.\.{n - 1}"):
                env.step(bad)
            after = (json.dumps(env.state()), list(env.live_edges), len(env.vertices))
            assert after == before
            assert json.dumps(_state_from_scratch(env)) == before[0]
        env.step(n - 1)
    env.final_plan()


# --- the park session keeps one env per query SQL ---------------------------


def _all_cards(graph: JoinGraph, oracle) -> dict[str, float]:
    return {graph.key_for(m): oracle.card(graph, m) for m in range(1, 1 << graph.n)}


@pytest.fixture
def built_envs(monkeypatch):
    """Every ``JoinOrderEnv`` the park session builds, and every parse."""
    envs, parsed = [], []

    class CountingEnv(JoinOrderEnv):
        def __init__(self, *args, **kw):
            envs.append(self)
            super().__init__(*args, **kw)

    def counting_parse(sql):
        parsed.append(sql)
        return parse(sql)

    monkeypatch.setattr(park_api, "JoinOrderEnv", CountingEnv)
    monkeypatch.setattr(park_api, "parse", counting_parse)
    return envs, parsed


def _play(s: ParkSession) -> dict:
    state = s.reset()
    while not s.isDone():
        s.step(s.getActions()[-1])
    return state


def test_park_reuses_one_env_per_query(built_envs):
    envs, parsed = built_envs
    sql = workload.FIXTURES["join_cycle_7"]
    s = ParkSession(oracle=workload.stats_oracle(SF_DIR), seed=5)
    s.setQueries("train", {"q": sql})
    orders = set()
    for _ in range(5):
        _play(s)
        orders.add(s.joinOrderSeq())
    assert len(envs) == 1 and parsed == [sql]
    assert len(orders) == 1


def test_park_set_cardinalities_builds_a_new_env(built_envs):
    envs, _ = built_envs
    sql = workload.FIXTURES["join_star_4"]
    graph = JoinGraph.from_query(parse(sql))
    cards = _all_cards(graph, workload.stats_oracle(SF_DIR))
    s = ParkSession(seed=5)
    s.setQueries("train", {"q": sql})
    s.setCardinalities(cards)
    first = _play(s)
    _play(s)
    assert len(envs) == 1
    s.setCardinalities({k: v * 10 for k, v in cards.items()})
    scaled = _play(s)
    assert len(envs) == 2
    assert len(first["vertices"]) == len(scaled["vertices"]) == 4
    for old, new in zip(first["vertices"], scaled["vertices"]):
        assert new["estimated_cardinality"] == old["estimated_cardinality"] * 10
    last = s.getQueryGraph()
    assert last["done"] and last["vertices"][0]["estimated_cardinality"] == (
        CardinalityOracle(cards).card(graph, graph.all_factors) * 10
    )


def test_park_mid_episode_reset_finishes_like_a_fresh_env(built_envs, monkeypatch):
    """Every abandoned episode of a reused env is finished with the random
    actions a freshly built env with the session's seed plays."""
    envs, _ = built_envs
    finished = []
    finish = JoinOrderEnv.finish_random

    def recording_finish(self):
        finish(self)
        finished.append(self.final_plan().order_str())

    monkeypatch.setattr(JoinOrderEnv, "finish_random", recording_finish)
    stats = workload.stats_oracle(SF_DIR)
    queries = {n: workload.FIXTURES[n] for n in ("join_cycle_7", "join_events_8")}
    s = ParkSession(oracle=stats, seed=9)
    s.setQueries("train", queries)
    played = []
    for ep in range(8):
        s.reset()
        action = ep % len(s.getActions())
        s.step(action)
        played.append((s.curQuery(), action))
    s.reset()
    assert len(envs) == 2 and len(finished) == len(played)
    for (sql, action), order in zip(played, finished):
        fresh = JoinOrderEnv(JoinGraph.from_query(parse(sql)), stats, CM, seed=9)
        fresh.step(action)
        finish(fresh)
        assert fresh.final_plan().order_str() == order
