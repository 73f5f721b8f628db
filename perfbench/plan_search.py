"""plan_search: the join-order search path, with no SparkSession.

Every input graph is one item.  Processing an item plans it with every
planner in ``planners.PLANNERS`` under each of its cost models, checks the
plans, and drives episodes for it over one loopback ``ParkServer``
connection with ZMTP framing: the frozen ``POLICY.json`` agent once, then
seeded random agents.  Items are the 16 SQL join fixtures of
``workload.FIXTURES`` (parse -> ``rewrites.simplify`` -> graph, stats
oracle; ``cm1`` and ``mm``) and one synthetic graph per topology and size
from ``scripts/train_agent.synth_graph`` (``cm1``).

Every pass repeats the same work, random agents included, so each timed
unit (a planner call, an episode, a step) is keyed and measured several
times; its time is the minimum of its measurements, on the process's CPU
clock (``stats.cpu_clock``).  A pass has five rounds: each plans every
item with the cheap planners, a fifth of the items with the costly ones
(``COSTLY_PLANNERS``), and runs every item's episodes.  The ``mm`` plans
of the fixtures are made the first time only.  The CPU's speed on a
shared host swings by half within seconds, and the minimum of a unit
measured at many moments is steadier than a few measurements.
"""

from __future__ import annotations

import contextlib
import gc
import math
import os
import random
from collections import defaultdict
from dataclasses import dataclass, field

from query_optimizer_spark import agents, executor, rewrites, sqlparse, workload
from query_optimizer_spark.costmodels import get_cost_model
from query_optimizer_spark.joingraph import JoinGraph, validate_tree
from query_optimizer_spark.park_api import ParkSession
from query_optimizer_spark.park_server import ParkClient, ParkServer
from query_optimizer_spark.planners import PLANNERS

from stats import cpu_clock, geomean, percentile
from tracer import CountingOracle, timed_cost_model
from train_agent import synth_graph

FIXTURE_COST_MODELS = ("cm1", "mm")
SYNTH_COST_MODELS = ("cm1",)
# branch_and_bound enumerates edge sequences exhaustively under its
# 12-edge guard: a seconds-long call from 8 relations on a sparse graph,
# minutes from 10.  Cliques pass the guard from 6 relations and stop at 8,
# where dp_ccp is at its slowest.
SYNTH_SHAPES = tuple(
    (kind, n) for kind in ("chain", "star", "cycle") for n in range(5, 8)
) + tuple(("clique", n) for n in range(5, 9))
RANDOM_EPISODES = 9
# planners whose calls take tens to hundreds of milliseconds: planned once
# per pass, the others once per round
COSTLY_PLANNERS = ("reinforce", "branch_and_bound")
# the probe leaves out the 10-relation galaxy: its branch_and_bound call
# alone outweighs the rest of a probe pass
PROBE_MAX_RELATIONS = 8
ROUNDS = 5
REL_TOL = 1e-9


@dataclass
class Item:
    name: str
    sql: str
    oracle: object
    cost_models: tuple[str, ...]
    cards: dict[str, float]
    opt_order: str
    graph: JoinGraph | None = None  # synthetic graphs are built once
    # the env accepts actions that put a null-generating factor on a
    # join's left side and then raises, so outer-join graphs get no episodes
    wire: bool = True


@dataclass
class Samples:
    """Times keyed by unit, one entry per measurement."""

    # (item, cost model, planner) -> one planner call
    plan_s: dict[tuple, list[float]] = field(default_factory=lambda: defaultdict(list))
    # item -> parse and simplify, the planning work outside the planners
    prep_s: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    # cost / dp_ccp cost of the other planners' plans, from their first call
    ratios: list[float] = field(default_factory=list)
    # (item, episode, step) -> one client-side step RPC
    step_s: dict[tuple, list[float]] = field(default_factory=lambda: defaultdict(list))
    # (item, episode) -> one wire episode, ``reset`` to ``getReward``: it
    # plans one query end to end, so these are the workload's "query" times
    query_s: dict[tuple, list[float]] = field(default_factory=lambda: defaultdict(list))
    passes: int = 0


def best(keyed: dict) -> dict:
    """Each unit's time: the minimum over the passes that measured it."""
    return {k: min(v) for k, v in keyed.items()}


def _all_cards(graph: JoinGraph, oracle) -> dict[str, float]:
    """The stats oracle's estimate for every factor subset, keyed for
    ``setCardinalities`` (cross products included: disconnected graphs
    cost them too)."""
    return {graph.key_for(m): oracle.card(graph, m) for m in range(1, 1 << graph.n)}


def make_inputs(data_dir: str, seed: int, probe: bool = False) -> list[Item]:
    """The items of one run in a seed-shuffled visiting order: the
    fixtures plus the seeded synthetic graphs, or for join_exec's
    ``probe`` the fixtures of at most ``PROBE_MAX_RELATIONS`` relations
    under ``cm1``."""
    cm1 = get_cost_model("cm1")
    fixture_cms = ("cm1",) if probe else FIXTURE_COST_MODELS
    stats = workload.stats_oracle(data_dir)
    items = []
    for name, sql in workload.FIXTURES.items():
        graph = JoinGraph.from_query(sqlparse.parse(sql))
        if probe and graph.n > PROBE_MAX_RELATIONS:
            continue
        opt = PLANNERS["dp_ccp"](graph, stats, cm1).order_str()
        items.append(Item(
            name, sql, stats, fixture_cms, _all_cards(graph, stats), opt,
            wire=not graph.null_generating,
        ))
    if not probe:
        rng = random.Random(seed)
        for kind, n in SYNTH_SHAPES:
            graph, oracle = synth_graph(kind, n, rng)
            opt = PLANNERS["dp_ccp"](graph, oracle, cm1).order_str()
            items.append(Item(
                f"synth_{kind}_{n}", executor.query_to_sql(graph.query), oracle,
                SYNTH_COST_MODELS, dict(oracle.cards), opt, graph,
            ))
    random.Random(seed).shuffle(items)
    return items


@contextlib.contextmanager
def one_cpu():
    """Run on one CPU: the client and the in-process server thread then
    hand the wire over by a context switch, not by waking another core,
    whose latency varies several-fold on a virtual machine."""
    cpus = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {min(cpus)})
    try:
        yield
    finally:
        os.sched_setaffinity(0, cpus)


class Search:
    """Plans items and drives their episodes over one wire connection.

    Each item is one checked unit of ``run``, named ``unit_prefix`` plus
    the item's name."""

    def __init__(
        self, items: list[Item], seed: int, tracer, policy_path: str, run,
        random_episodes: int = RANDOM_EPISODES, planners: dict = PLANNERS,
        unit_prefix: str = "",
    ):
        self.items = items
        self.planners = planners
        # names, looked up per call: the traced run wraps ``planners`` in place
        self.cheap = [k for k in planners if k not in COSTLY_PLANNERS]
        self.costly = [k for k in planners if k in COSTLY_PLANNERS]
        self.random_episodes = random_episodes
        self.tracer = tracer
        self.run = run
        self.unit_prefix = unit_prefix
        for item in items:
            run.attempt(unit_prefix + item.name)
        self.seed = seed
        self.policy = agents.load_policy(policy_path)
        self.samples = Samples()
        self.checked: set[tuple[str, str]] = set()  # (item, planner) checked
        # (item, cost model) -> {planner: cost}, compared in check_costs
        self.costs: dict[tuple[str, str], dict[str, float]] = defaultdict(dict)
        self.server = ParkServer(ParkSession(cost_model="cm1")).serve_in_background()
        self.client = ParkClient(self.server.host, self.server.port, framing="zmtp")

    def close(self) -> None:
        self.client.end()
        self.server._thread.join(timeout=10)

    def run_pass(self) -> None:
        """Every round plans every item with the cheap planners, a share of
        the items with the costly ones, and runs every item's episodes, so
        that the cheap units get a sample per round, spread over the pass,
        for a steady minimum."""
        share = -(-len(self.items) // ROUNDS)
        for rnd in range(ROUNDS):
            for item in self.items:
                self.plan(item, self.cheap)
            for item in self.items[rnd * share:(rnd + 1) * share]:
                self.plan(item, self.costly)
            self.episode_round(check=self.samples.passes == 0 and rnd == 0)
        self.samples.passes += 1

    def episode_round(self, check: bool) -> None:
        """Every wire item's episodes; ``check`` also compares the wire's
        ``getOptPlan`` with the in-process plan."""
        # planning's garbage is collected here, not inside a step
        gc.collect()
        for item in self.items:
            if item.wire:
                self.episodes(item, check)

    def fail(self, item_name: str, what: str) -> None:
        self.run.fail(self.unit_prefix + item_name, what)

    def plan(self, item: Item, names: list[str]) -> None:
        tr = self.tracer
        s = self.samples
        if item.graph is None:
            t0 = cpu_clock()
            graph = rewrites.simplify(sqlparse.parse(item.sql), item.oracle)
            s.prep_s[item.name].append(cpu_clock() - t0)
        else:
            graph = item.graph
        # the proxies only when tracing: they would cost the planners an
        # extra call per lookup and per node
        oracle = CountingOracle(item.oracle, tr) if tr.enabled else item.oracle
        for pname in names:
            planner = self.planners[pname]
            # a planner's plans are the same every time: check the first.
            # The second cost model is planned and timed then only: it
            # doubles the planning work
            first = (item.name, pname) not in self.checked
            self.checked.add((item.name, pname))
            for cm_name in item.cost_models if first else item.cost_models[:1]:
                base_cm = get_cost_model(cm_name)
                cm = timed_cost_model(base_cm, tr) if tr.enabled else base_cm
                p0 = cpu_clock()
                res = planner(graph, oracle, cm)
                s.plan_s[item.name, cm_name, pname].append(cpu_clock() - p0)
                if first:
                    self._check_plan(item, graph, pname, cm_name, base_cm, res)

    def _check_plan(self, item, graph, pname, cm_name, base_cm, res) -> None:
        if res is None:
            if pname != "branch_and_bound":
                self.fail(item.name, f"{pname}/{cm_name}: no plan")
            return
        try:
            validate_tree(graph, res.tree)
        except AssertionError as exc:
            self.fail(item.name, f"{pname}/{cm_name}: invalid tree: {exc}")
            return
        recomputed = base_cm.cumulative(graph, res.tree, item.oracle)
        if not math.isclose(res.cost, recomputed, rel_tol=REL_TOL):
            self.fail(item.name, f"{pname}/{cm_name}: cost {res.cost} != {recomputed}")
        self.costs[item.name, cm_name][pname] = res.cost

    def check_costs(self) -> None:
        """``dp_ccp`` costs no more than any other planner on the same
        graph and cost model; the other plans' cost ratios to it."""
        for (item_name, cm_name), costs in self.costs.items():
            opt = costs.get("dp_ccp")
            if opt is None:
                self.fail(item_name, f"{cm_name}: dp_ccp produced no plan")
                continue
            for pname, cost in costs.items():
                if cost < opt * (1 - REL_TOL):
                    self.fail(item_name, f"{pname}/{cm_name}: beats dp_ccp ({cost} < {opt})")
                if pname != "dp_ccp":
                    self.samples.ratios.append(max(cost, 1.0) / max(opt, 1.0))

    def _policy_action(self, vertices, edges, n_actions: int) -> int:
        with self.tracer.span("agents.act"):
            feats = agents.action_features({"vertices": vertices, "edges": edges}, n_actions)
            scores = [sum(t * f for t, f in zip(self.policy.theta, fv)) for fv in feats]
            return max(range(len(scores)), key=scores.__getitem__)

    def episodes(self, item: Item, check: bool) -> None:
        c, s = self.client, self.samples
        c.setQueries("train", {item.name: item.sql})
        c.setCardinalities(item.cards)
        for ep in range(1 + self.random_episodes):
            # the same actions on every pass, different ones per seed
            rng = random.Random(f"{self.seed}/{item.name}/{ep}")
            e0 = cpu_clock()
            c.reset()
            n_steps = 0
            while not c.isDone():
                vertices, edges = c.getQueryGraph()
                n_actions = len(c.getActions())
                if ep == 0:
                    action = self._policy_action(vertices, edges, n_actions)
                else:
                    action = rng.randrange(n_actions)
                s0 = cpu_clock()
                c.step(action)
                s.step_s[item.name, ep, n_steps].append(cpu_clock() - s0)
                n_steps += 1
            reward = c.getReward()
            s.query_s[item.name, ep].append(cpu_clock() - e0)
            if not math.isfinite(reward):
                self.fail(item.name, f"reward {reward}")
        if not check:
            return
        # the server plans with dp_ccp on every call: once per pass is enough
        opt = c.getOptPlan("dp_ccp")
        if opt != item.opt_order:
            self.fail(item.name, f"wire getOptPlan {opt} != in-process {item.opt_order}")


def search_metrics(s: Samples) -> tuple[dict, dict]:
    """The planner and env end-to-end metrics, plus their sample counts.

    Rates are units over the sum of the units' times: ``plans_per_s``
    counts parse and simplify as planning time, ``env_steps_per_s`` every
    RPC and agent choice of an episode."""
    plan = list(best(s.plan_s).values())
    steps = list(best(s.step_s).values())
    p50, p50_at, n_plans = percentile(plan, 50)
    p95, p95_at, _ = percentile(plan, 95)
    s50, s50_at, n_steps = percentile(steps, 50)
    s99, s99_at, _ = percentile(steps, 99)
    metrics = {
        "plans_per_s": (n_plans / (sum(plan) + sum(best(s.prep_s).values())), "1/s"),
        "plan_p50_ms": (p50 * 1e3, "ms"),
        "plan_p95_ms": (p95 * 1e3, "ms"),
        "plan_cost_ratio_geomean": (geomean(s.ratios), "ratio"),
        "env_steps_per_s": (n_steps / sum(best(s.query_s).values()), "1/s"),
        "env_step_p50_ms": (s50 * 1e3, "ms"),
        "env_step_p99_ms": (s99 * 1e3, "ms"),
    }
    samples = {
        "plans": n_plans, "plan_p50_at": p50_at, "plan_p95_at": p95_at,
        "cost_ratios": len(s.ratios),
        "steps": n_steps, "env_step_p50_at": s50_at, "env_step_p99_at": s99_at,
        "search_passes": s.passes,
    }
    return metrics, samples
