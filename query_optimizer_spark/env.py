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
rather than re-deriving it; likewise the env builds each vertex's and
each edge's state record once, the first time it is live, and keeps it:
``state()`` only assembles the live records into lists, at most once
between two collapses.  Leaf and base-edge records depend only on what
the env was built with (graph, oracle, factor mask, catalog), so
``reset`` keeps them; it drops the records of join vertices and of the
edges that touch one, whose ids the next episode reuses.  Two
consequences:

- a state is a read-only snapshot: its records are shared with later
  states, so a caller must not mutate it; a state returned at step k is
  never changed by step k+1 or by ``reset``;
- the oracle's answer for a factor set must not change during the env's
  life.  Every env in the repo is built per planner call or per wire
  query set, and ``ParkSession.setCardinalities`` drops its envs.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from .costmodels import CostModel
from .joingraph import (
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
        # vid -> vertex record and (vid_a, vid_b) -> edge record, built
        # the first time the vertex or edge is live
        self._vertex_recs: dict[int, dict] = {}
        self._edge_recs: dict[tuple[int, int], dict] = {}
        self.reset()

    # --- protocol --------------------------------------------------------
    def reset(self) -> dict:
        # a fresh random finish per episode, as a freshly built env plays
        self.rng = random.Random(self.seed)
        self.vertices: list[_Vertex] = [
            _Vertex(
                i,
                Leaf(i, a) if (self.factors_mask >> i) & 1 else None,
            )
            for i, a in enumerate(self.graph.aliases)
        ]
        # live edges as (vid_a, vid_b), vid_a < vid_b; preds resolve via
        # factor sets
        self.live_edges: list[tuple[int, int]] = []
        for e in self.graph.edges:
            if e.factors & ~self.factors_mask:
                continue  # edge leaves the masked subgraph
            a, b = tuple(bits(e.factors))
            self.live_edges.append((a, b))
        # this episode reuses the join vertex ids (>= n) for other joins:
        # drop their records and those of the edges that touch one
        n = self.graph.n
        self._vertex_recs = {v: r for v, r in self._vertex_recs.items() if v < n}
        self._edge_recs = {e: r for e, r in self._edge_recs.items() if e[1] < n}
        self._state = None
        self.cost_so_far = 0.0
        self.last_reward = 0.0
        self.done = self._check_done()
        return self.state()

    def actions(self) -> list[int]:
        if self.live_edges:
            return list(range(len(self.live_edges)))
        # disconnected remainder -> cross-join actions over live pairs
        live = self.live_ids()
        return list(range(len(live) - 1)) if len(live) > 1 else []

    def step(self, action: int) -> tuple[dict, float, bool, dict]:
        if self.done:
            raise RuntimeError("episode is done; call reset()")
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
        va, vb = pairs[action]
        new_vid = self._collapse(va, vb)
        self.done = self._check_done()
        info = {
            "joined": (va, vb),
            "new_vertex": new_vid,
            "cost_so_far": self.cost_so_far,
            "join_order": self._root_node().order_str() if self.done else None,
        }
        return self.state(), self.last_reward, self.done, info

    def finish_random(self) -> None:
        """Reference behavior on agent ``reset`` mid-episode: finish the
        episode with random actions (RLJoinOrderRule.java:167-171)."""
        while not self.done:
            self.step(self.rng.choice(self.actions()))

    # --- state encoding (§2.9) -------------------------------------------
    def state(self) -> dict:
        """The current state, a read-only snapshot (see module doc)."""
        if self._state is None:
            self._state = {
                "vertices": [
                    self._vertex_record(v)
                    for v in self.vertices
                    if v.node is not None
                ],
                "edges": [self._edge_record(e) for e in self.live_edges],
                "done": self.done,
            }
        return self._state

    def live_ids(self) -> list[int]:
        """Vertex ids still live (un-merged) this episode -- public so
        agents can map disconnected-graph action indices to vertices
        without reaching into internals."""
        return [v.vid for v in self.vertices if v.node is not None]

    # --- internals ---------------------------------------------------------
    def _root_node(self) -> PlanNode:
        (root,) = [v.node for v in self.vertices if v.node is not None]
        return root

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

    def _check_done(self) -> bool:
        return len(self.live_ids()) == 1

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

    def _collapse(self, va: int, vb: int) -> int:
        a, b = self.vertices[va], self.vertices[vb]
        join = make_join(self.graph, a.node, b.node)
        cost = self.cm.node_cost(self.graph, join, self.oracle)
        self.cost_so_far += cost
        self.last_reward = -cost
        new = _Vertex(len(self.vertices), join, left=va, right=vb)
        self.vertices.append(new)
        a.node = b.node = None
        self._state = None
        # re-point surviving edges; drop those now internal; merge dups
        # (QueryGraph.updateGraph :343-418 + mergeEdge :281-294)
        remapped: dict[tuple[int, int], None] = {}
        for x, y in self.live_edges:
            nx = new.vid if x in (va, vb) else x
            ny = new.vid if y in (va, vb) else y
            if nx == ny:
                continue  # edge absorbed into the join condition
            remapped[(min(nx, ny), max(nx, ny))] = None
        self.live_edges = list(remapped)
        return new.vid
