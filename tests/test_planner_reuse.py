"""A planner call reuses its own work and changes no decision: a per-call
cardinality memo in front of every planner, branch-and-bound over factor
masks, and REINFORCE features scored once per state and batch.  The
searches as they recomputed everything are kept here as references.
Spark-free."""

import hashlib
import math
import random

import pytest

from query_optimizer_spark import planners, rewrites, workload
from query_optimizer_spark.agents import ReinforceAgent, train_reinforce
from query_optimizer_spark.costmodels import get_cost_model
from query_optimizer_spark.env import JoinOrderEnv
from query_optimizer_spark.joingraph import make_join, validate_tree
from query_optimizer_spark.oracle import OverlayOracle, SparkStatsOracle
from query_optimizer_spark.planners import PLANNERS
from query_optimizer_spark.sqlparse import parse

from .test_graph_reuse import _train_agent

COST_MODELS = ("cm1", "mm", "cm2")
# sf0.01 row counts, fixed so the pinned digests below do not depend on
# which test data is installed
BASE_ROWS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}
# the pinned branch-and-bound digest covers the synthetic shapes of up to
# 8 relations.  The reference recursion enumerates edge sequences without
# memory: it takes 1-5 s per call on the shapes of 9 relations, so those
# are compared against it too, and seconds to minutes from 10 on.  The
# planner itself remembers each forest it has searched and plans the
# shapes of 10-12 relations in under a second each; those are checked
# against ``dp_ccp``.
BNB_MAX_SYNTH_RELATIONS = 8
BNB_REFERENCE_MAX_RELATIONS = 9
# sha256 per planner of every (graph, cost model, order, repr(cost)) of
# ``_graphs()``, as the planners gave them when every call recomputed its
# cardinalities and branch-and-bound built a tree in every branch
PINNED = {
    "greedy": "9589fb88fcff2399047b5d888c911f7e9aae2ef8d690894f214faf6bed2dc1f4",
    "dp_ccp": "3ffca0f60587ccf421af1a94c414393a5ceebac60c1be693b96716bcd92fdeff",
    "left_deep": "71fcb461907a95efa7394393e8ed9fdda11d7eee3c5b4bf25181ac2935a6e36e",
    "branch_and_bound": "11d9b7e35e289171237ef41c5df1ad27305b9f316185c4961c28ad2df7b618f6",
    "bushy": "c8ad17c9829faac909d09dd9d891bfe39c9cde0fe21f828c386e57fd6f6a8fee",
    "ikkbz": "f7e26c0de79c53e6f57abe982e0013ae6d8b86d0e4786c246cf2bdcec47c43bc",
    "random": "bca21b25efb784d92e0954d6c2529ac8b28da88be5c9e6e772d9f32479cf4cf4",
    "reinforce": "a41c5f356acb69d6189a293942349ed8fecce48033fa211dd95e476e237711f9",
    "reinforce_pretrained": "20e09befec2e71a547ce9f0340420e83a9a0ecbc3bd31154059612551230a772",
}


def _graphs():
    """(name, graph, oracle) for the 16 SQL fixtures (parse -> simplify,
    stats oracle) and the 28 synthetic topology shapes."""
    stats = SparkStatsOracle(BASE_ROWS)
    for name, sql in workload.FIXTURES.items():
        yield name, rewrites.simplify(parse(sql), stats), stats
    ta = _train_agent()
    for kind, sizes in ta.SYNTH_TOPOLOGIES.items():
        for n in sizes:
            graph, oracle = ta.synth_graph(kind, n, random.Random(f"{kind}-{n}"))
            yield f"synth_{kind}_{n}", graph, oracle


def _bnb_in_scope(name, graph, max_relations=BNB_MAX_SYNTH_RELATIONS) -> bool:
    return not name.startswith("synth_") or graph.n <= max_relations


@pytest.fixture(scope="module")
def graphs():
    return list(_graphs())


# --- references: the searches as they recomputed everything ------------------


def _reference_branch_and_bound(graph, oracle, cm):
    """Branch and bound over a forest of trees: joinability by
    ``edges_between``, a ``make_join`` and a ``node_cost`` in every
    branch."""
    if len(graph.edges) >= planners.BNB_EDGE_GUARD:
        return None

    def component(comp):
        leaves = {1 << i: planners._leaf(graph, i) for i in planners.bits(comp)}
        leaf_cost = sum(cm.node_cost(graph, leaf, oracle) for leaf in leaves.values())
        best_cost = float("inf")
        best_tree = None

        def recurse(forest, cost_so_far):
            nonlocal best_cost, best_tree
            if cost_so_far >= best_cost:
                return
            if len(forest) == 1:
                (tree,) = forest.values()
                best_cost, best_tree = cost_so_far, tree
                return
            roots = list(forest)
            joinable = [
                (a, b)
                for ai, a in enumerate(roots)
                for b in roots[ai + 1:]
                if graph.edges_between(a, b)
            ]
            if not joinable:
                joinable = [(roots[0], roots[1])]
            for a, b in joinable:
                tree = make_join(graph, forest[a], forest[b])
                nf = {k: v for k, v in forest.items() if k not in (a, b)}
                nf[tree.factors] = tree
                recurse(nf, cost_so_far + cm.node_cost(graph, tree, oracle))

        recurse(dict(leaves), leaf_cost)
        return best_tree

    return planners._plan_components(graph, oracle, cm, component)


class _ReferenceAgent(ReinforceAgent):
    """Sampling and update as they scored every visited state afresh."""

    def act_sample(self, env, state):
        feats, probs = self._scores(env, state)
        r = self.rng.random()
        acc = 0.0
        for a, p in enumerate(probs):
            acc += p
            if r <= acc:
                return a, feats, probs
        return len(probs) - 1, feats, probs

    def play_episode(self, env):
        state = env.reset()
        steps, rewards = [], []
        while not env.done:
            a, feats, probs = self.act_sample(env, state)
            state, reward, _, _ = env.step(a)
            steps.append((feats, probs, a))
            rewards.append(-math.log10(1.0 - reward))
        return steps, rewards, env.cost_so_far

    def update(self, batch):
        for name, steps, rewards in batch:
            adv = self._advantage(name, sum(rewards))
            for feats, probs, a in steps:
                mean_f = [
                    sum(p * fv[i] for p, fv in zip(probs, feats))
                    for i in range(len(self.theta))
                ]
                for i in range(len(self.theta)):
                    self.theta[i] += self.lr * adv * (feats[a][i] - mean_f[i])


def _reference_train(env, episodes=192, batch_size=16, seed=0):
    agent = _ReferenceAgent(seed=seed)
    batch = []
    for _ in range(episodes):
        steps, rewards, _ = agent.play_episode(env)
        batch.append(("env", steps, rewards))
        if len(batch) >= batch_size:
            agent.update(batch)
            batch = []
    if batch:
        agent.update(batch)
    return agent


# --- same decisions ------------------------------------------------------------


def test_branch_and_bound_matches_reference(graphs):
    """Mask-only branch and bound picks the reference's tree at the
    reference's cost, bit for bit, and declines the same graphs."""
    compared = 0
    for name, graph, oracle in graphs:
        if not _bnb_in_scope(name, graph, BNB_REFERENCE_MAX_RELATIONS):
            continue
        for cm_name in COST_MODELS:
            cm = get_cost_model(cm_name)
            res = PLANNERS["branch_and_bound"](graph, oracle, cm)
            ref = _reference_branch_and_bound(graph, oracle, cm)
            if ref is None:
                assert res is None, (name, cm_name)
                continue
            tree, cost = ref
            got = (res.order_str(), repr(res.cost))
            assert got == (tree.order_str(), repr(cost)), (name, cm_name)
            compared += 1
    assert compared >= 80 + 9


def test_branch_and_bound_plans_large_sparse_graphs(graphs):
    """Every synthetic shape of 10-12 relations under the 12-edge guard
    gets a valid plan that costs no less than ``dp_ccp``'s optimum."""
    planned = 0
    for name, graph, oracle in graphs:
        if not name.startswith("synth_") or graph.n < 10:
            continue
        if len(graph.edges) >= planners.BNB_EDGE_GUARD:
            continue
        for cm_name in COST_MODELS:
            cm = get_cost_model(cm_name)
            res = PLANNERS["branch_and_bound"](graph, oracle, cm)
            assert res is not None, (name, cm_name)
            validate_tree(graph, res.tree)
            assert res.cost >= PLANNERS["dp_ccp"](graph, oracle, cm).cost, (
                name,
                cm_name,
            )
            planned += 1
    assert planned == 3 * 8


def test_trained_theta_matches_reference(graphs):
    """Training with the per-batch memo learns the reference's ``theta``
    exactly on every inner component of every graph and cost model."""
    trained = 0
    for name, graph, oracle in graphs:
        inner = graph.all_factors & ~graph.null_generating
        comps = [c for c in graph.components_of(inner) if c & (c - 1)]
        for cm_name in COST_MODELS:
            cm = get_cost_model(cm_name)
            for comp in comps:
                env = JoinOrderEnv(graph, oracle, cm, seed=0, factors=comp)
                ref_env = JoinOrderEnv(graph, oracle, cm, seed=0, factors=comp)
                theta = train_reinforce(env).theta
                assert theta == _reference_train(ref_env).theta, (name, cm_name, comp)
                trained += 1
    assert trained >= 3 * 40


def _digests(graphs) -> dict[str, str]:
    out = {}
    for pname, planner in PLANNERS.items():
        h = hashlib.sha256()
        for name, graph, oracle in graphs:
            if pname == "branch_and_bound" and not _bnb_in_scope(name, graph):
                continue
            for cm_name in COST_MODELS:
                res = planner(graph, oracle, get_cost_model(cm_name))
                rec = None if res is None else (res.order_str(), repr(res.cost))
                h.update(repr((name, cm_name, rec)).encode())
        out[pname] = h.hexdigest()
    return out


def test_every_planner_keeps_its_decisions(graphs):
    """Every planner returns the plan and cost it returned before the
    reuse, on every graph and cost model."""
    assert _digests(graphs) == PINNED


# --- the memo's lifetime -------------------------------------------------------


class _CountingOracle:
    def __init__(self, inner):
        self.inner = inner
        self.asked: dict[int, int] = {}

    def card(self, graph, s):
        self.asked[s] = self.asked.get(s, 0) + 1
        return self.inner.card(graph, s)

    def __getattr__(self, name):
        return getattr(self.inner, name)


@pytest.mark.parametrize("pname", list(PLANNERS))
def test_one_call_asks_each_factor_set_once(graphs, pname):
    """Within one call a planner asks the oracle for a factor set's
    cardinality at most once; a second call asks again."""
    _, graph, oracle = next(g for g in graphs if g[0] == "join_cycle_7")
    counting = _CountingOracle(oracle)
    for cm_name in COST_MODELS:
        counting.asked.clear()
        PLANNERS[pname](graph, counting, get_cost_model(cm_name))
        assert counting.asked and max(counting.asked.values()) == 1, (pname, cm_name)
        first = dict(counting.asked)
        counting.asked.clear()
        PLANNERS[pname](graph, counting, get_cost_model(cm_name))
        assert counting.asked == first, (pname, cm_name)


def test_observation_between_calls_reprices(graphs):
    """Two ``dp_ccp`` calls on one ``OverlayOracle``: an observation
    recorded between them prices the second call, exactly as a fresh
    overlay holding that observation does."""
    cm = get_cost_model("mm")
    for name in ("join_cycle_7", "join_galaxy_10", "synth_chain_6"):
        _, graph, base = next(g for g in graphs if g[0] == name)
        overlay = OverlayOracle(base, {})
        first = PLANNERS["dp_ccp"](graph, overlay, cm)
        # the root's larger child, a join of the first plan
        inner = max(
            first.tree.left, first.tree.right, key=lambda t: t.factors.bit_count()
        )
        observed = {inner.factors: base.card(graph, inner.factors) * 1e6}
        overlay.observed.update(observed)
        second = PLANNERS["dp_ccp"](graph, overlay, cm)
        fresh = PLANNERS["dp_ccp"](graph, OverlayOracle(base, observed), cm)
        got = (second.order_str(), repr(second.cost))
        assert got == (fresh.order_str(), repr(fresh.cost)), name
        assert second.cost != first.cost, name
