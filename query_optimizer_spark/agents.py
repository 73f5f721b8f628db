"""Scripted agents over JoinOrderEnv -- the reconstructed 'learning half'.

The reference's Python RL agent is absent from its snapshot (SURVEY.md:
"the agent side must be reconstructed from the ZMQ protocol").  These
scripted agents prove the environment loop end-to-end and provide the
baselines a learned policy is measured against:

- RandomAgent      : uniform action choice (the reference's
                     finish-on-reset behavior, RLJoinOrderRule.java:167-171).
- GreedyRewardAgent: one-step lookahead -- pick the action with the best
                     immediate reward (cost of the join just made, C10).
                     This is exactly 'greedy by reward' from SURVEY §7
                     build-plan step 5.
"""

from __future__ import annotations

import json
import math
import random

from .env import JoinOrderEnv


class RandomAgent:
    def __init__(self, seed: int = 0):
        self.rng = random.Random(seed)

    def act(self, env: JoinOrderEnv) -> int:
        return self.rng.choice(env.actions())


class GreedyRewardAgent:
    """Chooses the action whose immediate join cost is lowest (peeking
    through the env's own join pricing -- the in-process analog of an
    agent that queries getJoinsCost per action); ties go to the lowest
    action."""

    def act(self, env: JoinOrderEnv) -> int:
        return min(env.actions(), key=env.action_cost)


def run_episode(env: JoinOrderEnv, agent) -> dict:
    """Play one episode to completion; returns the episode record."""
    env.restart()
    rewards = []
    while not env.done:
        rewards.append(env.advance(agent.act(env)))
    plan = env.final_plan()
    return {
        "total_reward": sum(rewards),
        "cost": env.cost_so_far,
        "n_steps": len(rewards),
        "plan": plan,
        "order": plan.order_str(),
    }


# --- learned policy (REINFORCE) ---------------------------------------------------


def _rank(vals: list[float]) -> list[float]:
    """Rank in [0,1] of each value within the candidate set (ties share
    the lower rank).  Rank-relative features transfer across queries
    whose absolute cardinalities differ by orders of magnitude; an
    absolute-feature linear policy plateaus because 'log-card 4.2' is a
    big vertex in one query and a small one in another."""
    if len(vals) <= 1:
        return [0.0] * len(vals)
    n = len(vals) - 1
    rank_of: dict[float, int] = {}
    for i, v in enumerate(sorted(vals)):
        rank_of.setdefault(v, i)  # ties share the lower rank
    return [rank_of[v] / n for v in vals]


N_FEATS = 12


def action_features(state: dict, n_actions: int) -> list[list[float]]:
    """Feature vectors for ALL candidate actions, computed from the
    state JSON the protocol exposes (§2.9 -- vertex
    estimated_cardinality/factors, edge joinAttributes) plus the
    action count (``getActions()``) -- nothing env-internal, so the
    same policy drives the wire front-end (park_server.ParkClient)
    unchanged; proven by tests/test_park_api.py's wire-portability
    test.

    Features 9-11 (new r7, VERDICT r6 #6) carry the global-topology
    signal the rank features lacked: per-endpoint DEGREE in the live
    edge graph, and degree-SKEW interactions.  skew = 1 - mean/max
    live-vertex degree separates star-shaped states (one hub touches
    every edge, skew high) from chains/cycles/cliques (regular degree,
    skew ~0); a per-state scalar alone would cancel in the softmax, so
    it enters MULTIPLIED by the card-rank features -- the linear policy
    can then weight cardinality ranks differently on skewed topologies
    (measured on the synthetic star ensemble: ascending-satellite-card
    ordering reaches 1.04x optimal where random sits at 1.12x, so the
    signal is observable; the skew interaction lets the policy express
    it without hurting the regular classes)."""
    verts = {v["id"]: v for v in state["vertices"]}
    deg: dict[int, int] = {v: 0 for v in verts}
    for e in state["edges"]:
        for v in e["factors"]:
            deg[v] = deg.get(v, 0) + 1
    max_deg = max(deg.values(), default=0)
    live_deg = [d for d in deg.values()]
    skew = (
        1.0 - (sum(live_deg) / len(live_deg)) / max_deg
        if max_deg > 0
        else 0.0
    )
    raws = []
    for action in range(n_actions):
        if state["edges"]:
            va, vb = state["edges"][action]["factors"]
            n_attrs = len(state["edges"][action]["joinAttributes"])
        else:  # cross-join fallback over live vertices
            live = sorted(verts)
            va, vb = live[0], live[action + 1]
            n_attrs = 0
        ca = math.log10(1.0 + verts[va]["estimated_cardinality"])
        cb = math.log10(1.0 + verts[vb]["estimated_cardinality"])
        fa = len(verts[va]["factors"])
        fb = len(verts[vb]["factors"])
        d = deg.get(va, 0) + deg.get(vb, 0)
        raws.append((min(ca, cb), max(ca, cb), ca + cb, n_attrs, fa + fb, d))
    rk_min = _rank([r[0] for r in raws])
    rk_max = _rank([r[1] for r in raws])
    rk_sum = _rank([r[2] for r in raws])
    feats = []
    for i, (mn, mx, sm, n_attrs, f, d) in enumerate(raws):
        feats.append(
            [
                1.0,
                mn / 6.0,
                mx / 6.0,
                sm / 12.0,
                n_attrs / 4.0,
                f / 8.0,
                rk_min[i],
                rk_max[i],
                rk_sum[i],
                d / (2.0 * max_deg) if max_deg else 0.0,
                skew * rk_min[i],
                skew * rk_max[i],
            ]
        )
    return feats


class ReinforceAgent:
    """Linear softmax policy + episodic REINFORCE with a per-fixture
    running baseline (costs span orders of magnitude across queries, so
    a shared normalization would encode query identity, not action
    quality).  Deterministic under a fixed seed.  Training harness:
    scripts/train_agent.py (writes AGENT_TRAINING.md).

    ``theta`` is fixed within a batch, so sampling scores each state of
    an env once per batch: ``act_sample`` keeps (features, probabilities,
    their mean feature vector) per (env, ``env.state_key()``) until
    ``update`` changes ``theta``, and builds the state only to score it.
    Equal keys of one env give equal features: ``action_features`` reads
    vertex cardinalities and edge join attributes, functions of the
    factor masks the key names (env.py).  Assign ``theta`` only between
    batches."""

    def __init__(self, lr: float = 0.2, seed: int = 0, temp: float = 1.0):
        self.theta = [0.0] * N_FEATS
        self.lr = lr
        self.temp = temp
        self.rng = random.Random(seed)
        self.base: dict[str, tuple[float, float, int]] = {}
        self._scored: dict[tuple, tuple] = {}

    def _advantage(self, name: str, ret: float) -> float:
        mean, var, n = self.base.get(name, (ret, 1.0, 0))
        sd = math.sqrt(var) if n > 1 else 1.0
        # ret = -sum(log10(1+step_cost)): HIGHER is better, so the
        # standard (return - baseline) advantage rewards cheap plans
        adv = (ret - mean) / max(sd, 1e-3)
        alpha = 0.1  # EMA update of the per-fixture baseline
        if n == 0:
            self.base[name] = (ret, 1.0, 1)
        else:
            d = ret - mean
            self.base[name] = (
                mean + alpha * d,
                (1 - alpha) * (var + alpha * d * d),
                n + 1,
            )
        return max(-3.0, min(3.0, adv))

    def _scores(self, env, state):
        feats = action_features(state, len(env.actions()))
        scores = [
            sum(t * f for t, f in zip(self.theta, fv)) / self.temp
            for fv in feats
        ]
        m = max(scores)
        exps = [math.exp(s - m) for s in scores]
        z = sum(exps)
        return feats, [e / z for e in exps]

    def act_sample(self, env: JoinOrderEnv):
        """(action, scored): a sampled action and the current state's
        (features, probabilities, mean feature vector)."""
        key = (env, env.state_key())
        scored = self._scored.get(key)
        if scored is None:
            feats, probs = self._scores(env, env.state())
            # sum_b pi(b) f(b), the baseline term of update's gradient
            mean_f = [
                sum(p * fv[i] for p, fv in zip(probs, feats))
                for i in range(N_FEATS)
            ]
            scored = self._scored[key] = (feats, probs, mean_f)
        probs = scored[1]
        r = self.rng.random()
        acc = 0.0
        for a, p in enumerate(probs):
            acc += p
            if r <= acc:
                return a, scored
        return len(probs) - 1, scored

    def act(self, env: JoinOrderEnv) -> int:
        """Greedy argmax -- the deployment policy (run_episode compat)."""
        _, probs = self._scores(env, env.state())
        return max(range(len(probs)), key=lambda a: probs[a])

    def play_episode(self, env: JoinOrderEnv):
        env.restart()
        steps = []  # (scored, action)
        rewards = []
        while not env.done:
            a, scored = self.act_sample(env)
            reward = env.advance(a)
            steps.append((scored, a))
            # log-compress the step cost: returns add like log-costs
            rewards.append(-math.log10(1.0 - reward))  # reward = -cost
        return steps, rewards, env.cost_so_far

    def update(self, batch):
        """batch: list of (fixture_name, steps, rewards) episodes.
        Episode-level REINFORCE against the per-fixture baseline."""
        theta = self.theta
        for name, steps, rewards in batch:
            step_size = self.lr * self._advantage(name, sum(rewards))
            for (feats, _, mean_f), a in steps:
                # grad log pi(a) = f(a) - sum_b pi(b) f(b)
                f_a = feats[a]
                for i in range(N_FEATS):
                    theta[i] += step_size * (f_a[i] - mean_f[i])
        self._scored.clear()  # scored under the old theta


def train_reinforce(
    env: JoinOrderEnv,
    episodes: int = 192,
    batch_size: int = 16,
    seed: int = 0,
) -> ReinforceAgent:
    """Train a fresh policy on ONE env (deterministic).  Pure planning:
    no SparkSession, no data scan -- milliseconds per episode."""
    agent = ReinforceAgent(seed=seed)
    batch = []
    for _ in range(episodes):
        steps, rewards, _ = agent.play_episode(env)
        batch.append(("env", steps, rewards))
        if len(batch) >= batch_size:
            agent.update(batch)
            batch = []
    if batch:  # flush the trailing partial batch
        agent.update(batch)
    return agent


def load_policy(path: str) -> ReinforceAgent:
    """Deployment path: an agent with FROZEN weights trained offline
    (scripts/train_agent.py --save-policy).  No training at plan time;
    act() is pure argmax over the protocol-observable features."""
    with open(path) as fh:
        doc = json.load(fh)
    theta = doc["theta"]
    if len(theta) != N_FEATS:
        raise ValueError(
            f"policy has {len(theta)} weights, expected {N_FEATS}"
        )
    agent = ReinforceAgent()
    agent.theta = list(theta)
    return agent
