"""Gym-style join-order environment (J7).

The reference exposes join ordering to a Python RL agent over a ZeroMQ PAIR
socket (``ZeroMQServer.java:56-100``; the comments call it "the park API").
Both sides of our rebuild are Python, so the entire RPC layer collapses
into this in-process class with identical observable semantics
(SURVEY.md §2.8):

- state   = vertex/edge JSON per §2.9 (QueryGraph.java:223-231, :251-260,
  :296-302): vertices ``{id, estimated_cardinality, factors,
  visibleAttributes}`` (+ ``leftFactor``/``rightFactor`` for join
  vertices), edges ``{factors, joinAttributes}``.
- actions = indices into the live edge list (one action per remaining
  edge, RLJoinOrderRule.java:120-133).
- step    = collapse the chosen edge: vertices are never removed -- the
  joined pair is nulled and a new vertex appended so indices stay stable
  (QueryGraph.java:44-63 invariant, updateGraph :343-418).
- reward  = -cost of the join just made (C10, RLJoinOrderRule.java:125-132).
- done    = no edges remain; a disconnected remainder is finished with
  cross-join actions (chooseNextEdge fallback :152-159).

The reference updates its graph in place on each collapse (updateGraph)
rather than re-deriving it; likewise the env keeps what it has built:

- a state is built only when read.  ``advance`` checks the action,
  collapses and updates ``done`` and builds no state; ``step`` is
  ``advance`` plus ``state()`` plus ``info``, and ``reset`` is
  ``restart`` plus ``state()``.  ``state_key()`` names a
  state without building it: the live vertices' factor masks in id
  order and each live edge's two masks in action order -- everything a
  state record is a function of (see the last bullet).
- each vertex's and each edge's state record is built once, the first
  time it is live, and ``state()`` only assembles the live records into
  lists, at most once between two collapses.  Leaf and base-edge
  records depend only on what the env was built with (graph, oracle,
  factor mask, catalog), so ``reset`` keeps them; it drops the records
  of join vertices and of the edges that touch one, whose ids the next
  episode reuses.  ``reset`` starts from the leaf vertices and masked
  base edges built once in ``__init__``.
- each join is priced once per env: ``(left mask, right mask) ->
  (preds, how, node cost)``.  ``make_join``'s predicates, join type and
  outer-join checks and ``CostModel.node_cost``'s inputs (three
  cardinalities, and whether the right side is a leaf) are functions of
  the two masks alone, so a later join of the same two masks builds its
  ``Join`` node from the memo.  A pair whose ``make_join`` raises stores
  nothing and raises again.

Two consequences:

- a state is a read-only snapshot: its records are shared with later
  states, so a caller must not mutate it; a state returned at step k is
  never changed by step k+1 or by ``reset``;
- the oracle's answer for a factor set must not change during the env's
  life (records and join prices keep it).  Every env in the repo is
  built per planner call or per wire query set, and
  ``ParkSession.setCardinalities`` drops its envs.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from .costmodels import CostModel
from .joingraph import (
    Join,
    JoinGraph,
    Leaf,
    PlanNode,
    bits,
    make_join,
    validate_tree,
)


@dataclass
class _Vertex:
    vid: int
    node: PlanNode | None  # None once collapsed (reference nulls them)
    left: int | None = None   # child vertex ids for join vertices
    right: int | None = None


class JoinOrderEnv:
    def __init__(
        self,
        graph: JoinGraph,
        oracle,
        cost_model: CostModel,
        catalog=None,
        seed: int = 0,
        factors: int | None = None,
    ):
        self.graph = graph
        self.oracle = oracle
        self.cm = cost_model
        self.catalog = catalog
        self.seed = seed
        # optional factor mask: restrict the episode to a subset of the
        # graph (planners use this to order each INNER component, the
        # reference's RLJoinOrderRule scope; outer typing stays
        # rule-side).  None = all factors.
        self.factors_mask = (
            factors if factors is not None else graph.all_factors
        )
        self._visible = (
            catalog.query_visible_attrs(graph.query)
            if catalog is not None and graph.query is not None
            else set()
        )
        # the episode start: one leaf (or None if masked out) per factor,
        # and the live edges as (vid_a, vid_b), vid_a < vid_b, for the
        # edges inside the mask; preds resolve via factor sets
        self._leaves = [
            Leaf(i, a) if (self.factors_mask >> i) & 1 else None
            for i, a in enumerate(graph.aliases)
        ]
        self._leaf_masks = {
            leaf.factor: leaf.factors for leaf in self._leaves if leaf is not None
        }
        self._base_edges = [
            tuple(bits(e.factors))
            for e in graph.edges
            if not e.factors & ~self.factors_mask
        ]
        # vid -> vertex record and (vid_a, vid_b) -> edge record, built
        # the first time the vertex or edge is live
        self._vertex_recs: dict[int, dict] = {}
        self._edge_recs: dict[tuple[int, int], dict] = {}
        # (left mask, right mask) -> (preds, how, node cost)
        self._joins: dict[tuple[int, int], tuple] = {}
        self.restart()

    # --- protocol --------------------------------------------------------
    def reset(self) -> dict:
        self.restart()
        return self.state()

    def restart(self) -> None:
        """Start a new episode without building a state; ``reset`` is
        this plus ``state()``."""
        self.vertices: list[_Vertex] = [
            _Vertex(i, leaf) for i, leaf in enumerate(self._leaves)
        ]
        # live vertex id -> factor mask, in id order (a join's id is
        # the largest yet)
        self._live: dict[int, int] = dict(self._leaf_masks)
        self.live_edges: list[tuple[int, int]] = list(self._base_edges)
        # this episode reuses the join vertex ids (>= n) for other joins:
        # drop their records and those of the edges that touch one
        n = self.graph.n
        self._vertex_recs = {v: r for v, r in self._vertex_recs.items() if v < n}
        self._edge_recs = {e: r for e, r in self._edge_recs.items() if e[1] < n}
        self._state = self._key = None
        self.cost_so_far = 0.0
        self.last_reward = 0.0
        self.done = len(self._live) == 1

    def actions(self) -> list[int]:
        if self.live_edges:
            return list(range(len(self.live_edges)))
        # disconnected remainder -> cross-join actions over live pairs
        n_live = len(self._live)
        return list(range(n_live - 1)) if n_live > 1 else []

    def advance(self, action: int) -> float:
        """Play ``action`` without building a state; returns the reward.
        ``step`` is this plus ``state()`` plus ``info``."""
        if self.done:
            raise RuntimeError("episode is done; call reset()")
        self._collapse(*self._pair(action))
        self.done = len(self._live) == 1
        return self.last_reward

    def step(self, action: int) -> tuple[dict, float, bool, dict]:
        reward = self.advance(action)
        new = self.vertices[-1]
        info = {
            "joined": (new.left, new.right),
            "new_vertex": new.vid,
            "cost_so_far": self.cost_so_far,
            "join_order": self._root_node().order_str() if self.done else None,
        }
        return self.state(), reward, self.done, info

    def action_cost(self, action: int) -> float:
        """The cost of the join ``action`` would make (minus its
        reward), priced through the env's join memo; plays nothing."""
        va, vb = self._pair(action)
        return self._price(self.vertices[va].node, self.vertices[vb].node)[2]

    def finish_random(self) -> None:
        """Reference behavior on agent ``reset`` mid-episode: finish the
        episode with random actions (RLJoinOrderRule.java:167-171),
        seeded afresh each episode, as a freshly built env plays."""
        rng = random.Random(self.seed)
        while not self.done:
            self.advance(rng.choice(self.actions()))

    # --- state encoding (§2.9) -------------------------------------------
    def state(self) -> dict:
        """The current state, a read-only snapshot (see module doc)."""
        if self._state is None:
            self._state = {
                "vertices": [
                    self._vertex_record(self.vertices[v]) for v in self._live
                ],
                "edges": [self._edge_record(e) for e in self.live_edges],
                "done": self.done,
            }
        return self._state

    def state_key(self) -> tuple:
        """The current state's identity, without building it: the live
        vertices' factor masks in id order and each live edge's two
        masks in action order.  Two states of one env with equal keys
        are equal apart from vertex ids (module doc)."""
        if self._key is None:
            live = self._live
            self._key = (
                tuple(live.values()),
                tuple([(live[a], live[b]) for a, b in self.live_edges]),
            )
        return self._key

    def live_ids(self) -> list[int]:
        """Vertex ids still live (un-merged) this episode -- public so
        agents can map disconnected-graph action indices to vertices
        without reaching into internals."""
        return list(self._live)

    # --- internals ---------------------------------------------------------
    def _root_node(self) -> PlanNode:
        (root,) = self._live
        return self.vertices[root].node

    def final_plan(self) -> PlanNode:
        """The finished tree, VALIDATED: an agent ordering a graph with
        null-generating (outer) factors can produce a sequence that
        puts one on the join LHS, which is semantically invalid -- the
        reference scopes RL to the inner core (RLJoinOrderRule) and so
        do we (plan_reinforce masks outers out); raising here turns a
        silently-wrong episode into a loud error."""
        if not self.done:
            raise RuntimeError("episode not finished")
        root = self._root_node()
        if root.factors != self.factors_mask:
            raise AssertionError("episode did not cover the masked factors")
        if self.factors_mask == self.graph.all_factors:
            validate_tree(self.graph, root)
        return root

    def _pair(self, action: int) -> tuple[int, int]:
        """The two live vertex ids ``action`` joins."""
        if self.live_edges:
            pairs = self.live_edges
        else:
            # cross-join: lowest-index live vertex with the (action+1)-th
            live = self.live_ids()
            pairs = [(live[0], vb) for vb in live[1:]]
        # a negative index would silently pick from the end of the list
        if not 0 <= action < len(pairs):
            raise ValueError(
                f"action {action} out of range: valid actions are "
                f"0..{len(pairs) - 1}"
            )
        return pairs[action]

    def _vertex_record(self, v: _Vertex) -> dict:
        rec = self._vertex_recs.get(v.vid)
        if rec is None:
            rec = {
                "id": v.vid,
                "estimated_cardinality": self.oracle.card(
                    self.graph, v.node.factors
                ),
                "factors": sorted(bits(v.node.factors)),
                "visibleAttributes": sorted(
                    self._vertex_attrs(v.node) & self._visible
                )
                if self._visible
                else [],
            }
            if v.left is not None:
                rec["leftFactor"] = v.left
                rec["rightFactor"] = v.right
            self._vertex_recs[v.vid] = rec
        return rec

    def _edge_record(self, edge: tuple[int, int]) -> dict:
        rec = self._edge_recs.get(edge)
        if rec is None:
            preds = self._preds_between(*edge)
            rec = self._edge_recs[edge] = {
                "factors": list(edge),
                "joinAttributes": sorted(str(p.col) for p in preds)
                + sorted(str(p.operand) for p in preds),
            }
        return rec

    def _preds_between(self, va: int, vb: int):
        na, nb = self.vertices[va].node, self.vertices[vb].node
        preds = []
        for e in self.graph.edges_between(na.factors, nb.factors):
            preds.extend(e.preds)
        return preds

    def _vertex_attrs(self, node: PlanNode) -> set[int]:
        if self.catalog is None:
            return set()
        out: set[int] = set()
        for i in bits(node.factors):
            a = self.graph.aliases[i]
            out |= self.catalog.table_attrs(self.graph.tables[a])
        return out

    def _price(self, left: PlanNode, right: PlanNode) -> tuple:
        """(preds, how, node cost) of joining ``left`` and ``right``,
        memoized on their masks (module doc)."""
        pair = (left.factors, right.factors)
        priced = self._joins.get(pair)
        if priced is None:
            join = make_join(self.graph, left, right)
            priced = self._joins[pair] = (
                join.preds,
                join.how,
                self.cm.node_cost(self.graph, join, self.oracle),
            )
        return priced

    def _collapse(self, va: int, vb: int) -> None:
        a, b = self.vertices[va], self.vertices[vb]
        preds, how, cost = self._price(a.node, b.node)
        self.cost_so_far += cost
        self.last_reward = -cost
        new_vid = len(self.vertices)
        join = Join(a.node, b.node, preds, how=how)
        self.vertices.append(_Vertex(new_vid, join, va, vb))
        a.node = b.node = None
        live = self._live
        del live[va], live[vb]
        live[new_vid] = join.factors
        self._state = self._key = None
        # re-point surviving edges; drop those now internal; merge dups
        # (QueryGraph.updateGraph :343-418 + mergeEdge :281-294)
        remapped: dict[tuple[int, int], None] = {}
        for x, y in self.live_edges:
            nx = new_vid if x == va or x == vb else x
            ny = new_vid if y == va or y == vb else y
            if nx == ny:
                continue  # edge absorbed into the join condition
            remapped[(nx, ny) if nx < ny else (ny, nx)] = None
        self.live_edges = list(remapped)
