"""Join-order planners.

Re-implements the reference's five Calcite planner rules as pure-Python
search over the bitset JoinGraph (SURVEY.md §2.3 J3-J9, §4.3: planners run
*outside* Catalyst and emit an explicit join tree; Spark preserves the
written inner-join order with CBO join-reorder off, which is the central
architectural simplification).

- ``plan_greedy``            : J3, MyLoptOptimizeJoinRule.java (greedy from
                               every start factor, keep cheapest).
- ``plan_dp_ccp``            : J4, ExhaustiveDPJoinOrderRule.java --
                               DPccp over connected-subgraph/complement
                               pairs, after Moerkotte & Neumann's
                               "Analysis of Two Existing and One New DP
                               Algorithm for Generating Optimal Bushy Trees
                               Without Cross Products" (cited by the
                               reference at QueryGraph.java:641-643).
- ``plan_left_deep``         : J5, LeftDeepJoinOrderRule.java -- Selinger.
- ``plan_branch_and_bound``  : J6, ExhaustiveJoinOrderRule.java --
                               recursive edge sequences with cost pruning
                               and the >=12-edge guard (:107-109).
- ``plan_random``            : J9, JoinOrderTest.java debug planner.

All planners handle disconnected graphs by planning each connected
component and cross-joining the component results in ascending
first-factor order (J15 fallback, RLJoinOrderRule.java:152-159).

One planner call memoizes its cardinalities: every planner sees the
oracle it was passed through ``_CallCards``, which asks the oracle for a
factor set's ``card`` once per call and forwards every other method.  So
an oracle's answer for a mask must not change during one call; it may
change between calls (``OverlayOracle.observed`` grows between the LEO
loop's re-plans), since the memo dies with the call.
"""

from __future__ import annotations

import functools
import random
import threading
from dataclasses import dataclass

from .costmodels import CostModel
from .joingraph import (
    Join,
    JoinGraph,
    Leaf,
    PlanNode,
    bits,
    make_join,
    popcount,
    validate_tree,
)
from .oracle import CardinalityMissError


@dataclass
class PlanResult:
    tree: PlanNode
    cost: float
    planner: str
    # greedy fidelity (J3): one retained plan per start factor, as
    # [{"start": alias, "cost": c, "order": order_str}], mirroring
    # findBestOrderings (MyLoptOptimizeJoinRule.java:462-504) which emits
    # every start's ordering before the cheapest is kept
    alternatives: list[dict] | None = None

    def order_str(self) -> str:
        return self.tree.order_str()


class _CallCards:
    """The oracle as one planner call sees it: ``card`` of the call's
    graph answered once per factor set, every other attribute the
    oracle's own."""

    __slots__ = ("_oracle", "_graph", "_cards")

    def __init__(self, oracle, graph: JoinGraph):
        self._oracle = oracle
        self._graph = graph
        self._cards: dict[int, float] = {}

    def card(self, graph: JoinGraph, s: int) -> float:
        if graph is not self._graph:
            return self._oracle.card(graph, s)
        c = self._cards.get(s)
        if c is None:
            c = self._cards[s] = self._oracle.card(graph, s)
        return c

    def __getattr__(self, name):
        return getattr(self._oracle, name)


def _per_call_cards(planner):
    """Run ``planner(graph, oracle, cm, ...)`` against a cardinality memo
    that lives for this one call (a planner calling another planner
    shares its caller's)."""

    @functools.wraps(planner)
    def call(graph, oracle, cm, *args, **kw):
        if not isinstance(oracle, _CallCards):
            oracle = _CallCards(oracle, graph)
        return planner(graph, oracle, cm, *args, **kw)

    return call


def _leaf(graph: JoinGraph, i: int) -> Leaf:
    return Leaf(i, graph.aliases[i])


def _cum(graph, tree, oracle, cm) -> float:
    return cm.cumulative(graph, tree, oracle)


def _attach_outer(graph: JoinGraph, tree: PlanNode | None) -> PlanNode:
    """Attach null-generating factors on top as LEFT joins in factor
    order (J14 -- the reference types the join LEFT whenever the added
    factor is null-generating, addToTop :1231-1239; outer joins don't
    commute with the inner core, so they are not search candidates).
    For the 2-factor FULL OUTER case the 'core' is the first factor."""
    ng = graph.null_generating
    if not ng:
        assert tree is not None
        return tree
    pending = list(bits(ng))
    if tree is None:  # full outer: no inner core at all
        tree = _leaf(graph, pending.pop(0))
    for g in pending:
        tree = make_join(graph, tree, _leaf(graph, g))
    return tree


def _assemble(graph: JoinGraph, trees: list[PlanNode]) -> PlanNode:
    """One plan from the trees of the inner core's connected components,
    given in ascending first-factor order: cross-join them in that order
    (J15), then attach the null-generating factors as top LEFT joins
    (J14)."""
    tree = trees[0] if trees else None
    for t in trees[1:]:
        tree = make_join(graph, tree, t)
    return _attach_outer(graph, tree)


def _plan_components(graph, oracle, cm, plan_component) -> tuple[PlanNode, float]:
    """Plan each connected component of the INNER core and assemble the
    component trees into one plan (``_assemble``)."""
    inner = graph.all_factors & ~graph.null_generating
    comps = graph.components_of(inner)
    tree = _assemble(graph, [plan_component(c) for c in comps])
    validate_tree(graph, tree)
    return tree, _cum(graph, tree, oracle, cm)


# ---------------------------------------------------------------------------
# Random (J9)
# ---------------------------------------------------------------------------


@_per_call_cards
def plan_random(graph: JoinGraph, oracle, cm: CostModel, seed: int = 0) -> PlanResult:
    rng = random.Random(seed)

    def component(comp: int) -> PlanNode:
        factors = list(bits(comp))
        rng.shuffle(factors)
        # left-deep in shuffled order, but prefer a connected extension so
        # we don't cross-join inside a connected component
        tree: PlanNode = _leaf(graph, factors.pop(0))
        while factors:
            nxt = next(
                (f for f in factors if graph.neighbors(tree.factors) & (1 << f)),
                factors[0],
            )
            factors.remove(nxt)
            tree = make_join(graph, tree, _leaf(graph, nxt))
        return tree

    tree, cost = _plan_components(graph, oracle, cm, component)
    return PlanResult(tree, cost, "random")


# ---------------------------------------------------------------------------
# Greedy (J3) -- LOpt-style
# ---------------------------------------------------------------------------


def _join_key_distinct(graph: JoinGraph, oracle, tree_factors: int, f: int) -> float:
    """Distinct cardinality of the join keys on candidate factor ``f``'s
    side of its edges to the current tree -- the tie-break metadata of
    getBestNextFactor / computeJoinCardinality
    (MyLoptOptimizeJoinRule.java:788-863, :594-641).  Lower means the
    key collapses the join more.  inf when the oracle has no distinct
    metadata (tie then resolves by factor order, the prior behavior)."""
    alias = graph.aliases[f]
    cols = set()
    for e in graph.edges_between(tree_factors, 1 << f):
        for p in e.preds:
            if not p.is_equijoin:
                continue
            if p.col.alias == alias:
                cols.add(p.col.column)
            elif getattr(p.operand, "alias", None) == alias:
                cols.add(p.operand.column)
    if not cols:
        return float("inf")
    try:
        return oracle.distinct_count(graph, alias, tuple(sorted(cols)))
    except CardinalityMissError:
        return float("inf")


@_per_call_cards
def plan_greedy(graph: JoinGraph, oracle, cm: CostModel) -> PlanResult:
    """For each candidate first factor, greedily add the next factor that
    minimizes the cumulative cost so far, trying both 'add to top' and a
    one-level 'push down' into the right subtree -- the two moves of
    MyLoptOptimizeJoinRule.addFactorToTree (:899-1012, addToTop :1209-1274,
    pushDownFactor :1057-1193).  Cost ties between candidate factors
    break on join-key distinct cardinality (A2 metadata,
    getBestNextFactor :788-863 / computeJoinCardinality :594-641): the
    factor whose join key has FEWER distinct values wins, since it
    collapses the join more.  One plan is retained per start factor
    (findBestOrderings :462-504) and surfaced as ``alternatives``; the
    cheapest is the result."""

    inner = graph.all_factors & ~graph.null_generating
    comps = graph.components_of(inner)
    per_comp_best: list[PlanNode] = []
    per_comp_alts: list[list[tuple[int, float, PlanNode]]] = []

    for comp in comps:
        alts: list[tuple[int, float, PlanNode]] = []  # (start, cost, tree)
        for start in bits(comp):
            tree: PlanNode = _leaf(graph, start)
            remaining = comp & ~tree.factors
            while remaining:
                conn = graph.neighbors(tree.factors) & remaining
                cands = list(bits(conn)) or [next(bits(remaining))]
                # (cost, join-key distinct) ranked lexicographically
                cand_best: tuple[float, float, PlanNode] | None = None
                for f in cands:
                    leaf = _leaf(graph, f)
                    tiebreak = _join_key_distinct(
                        graph, oracle, tree.factors, f
                    )
                    # move 1: add to top
                    top = make_join(graph, tree, leaf)
                    c_top = _cum(graph, top, oracle, cm)
                    if cand_best is None or (c_top, tiebreak) < cand_best[:2]:
                        cand_best = (c_top, tiebreak, top)
                    # move 2: push down into the right subtree when the
                    # new factor joins it (pushDownFactor analog)
                    if isinstance(tree, Join) and (
                        graph.neighbors(leaf.factors) & tree.right.factors
                    ):
                        pushed = make_join(
                            graph,
                            tree.left,
                            make_join(graph, tree.right, leaf),
                        )
                        c_push = _cum(graph, pushed, oracle, cm)
                        if (c_push, tiebreak) < cand_best[:2]:
                            cand_best = (c_push, tiebreak, pushed)
                assert cand_best is not None
                tree = cand_best[2]
                remaining = comp & ~tree.factors
            alts.append((start, _cum(graph, tree, oracle, cm), tree))
        best = min(alts, key=lambda a: a[1])
        per_comp_best.append(best[2])
        per_comp_alts.append(alts)

    tree = _assemble(graph, per_comp_best)
    validate_tree(graph, tree)
    cost = _cum(graph, tree, oracle, cm)

    # one full-plan alternative per start factor: that start's tree for
    # its component, every other component at its best
    alternatives = []
    for ci, alts in enumerate(per_comp_alts):
        for start, _c, t in alts:
            full = _assemble(
                graph, per_comp_best[:ci] + [t] + per_comp_best[ci + 1:]
            )
            alternatives.append(
                {
                    "start": graph.aliases[start],
                    "cost": _cum(graph, full, oracle, cm),
                    "order": full.order_str(),
                }
            )
    return PlanResult(tree, cost, "greedy", alternatives=alternatives)


# ---------------------------------------------------------------------------
# DPccp (J4)
# ---------------------------------------------------------------------------


def _enumerate_csg(graph: JoinGraph, comp: int):
    """Emit every connected subgraph of component ``comp``
    (EnumerateCsg/EnumerateCsgRec of Moerkotte & Neumann; the reference's
    port is QueryGraph.enumerateCsgRec :645-668)."""
    nodes = sorted(bits(comp), reverse=True)
    for v in nodes:
        s = 1 << v
        yield s
        bv = (1 << (v + 1)) - 1  # B_v = nodes with index <= v
        yield from _enumerate_csg_rec(graph, s, bv & comp, comp)


def _subsets(mask: int):
    """Non-empty subsets of mask, ascending."""
    sub = 0
    while True:
        sub = (sub - mask) & mask
        if sub == 0:
            return
        yield sub


def _enumerate_csg_rec(graph: JoinGraph, s: int, x: int, comp: int):
    # neighbors masked to comp: the component being planned may be a
    # strict subset of the graph (the inner core when null-generating
    # factors exist), and enumeration must not leak outside it
    n = graph.neighbors(s) & comp & ~x
    if not n:
        return
    for sub in _subsets(n):
        yield s | sub
    for sub in _subsets(n):
        yield from _enumerate_csg_rec(graph, s | sub, x | n, comp)


def _enumerate_cmp(graph: JoinGraph, comp: int, s1: int):
    """Connected complements of csg s1 (EnumerateCmp; reference
    enumerateComplementarySubgraphs QueryGraph.java:716-741)."""
    min_v = next(bits(s1))
    b_min = (1 << (min_v + 1)) - 1
    x = (b_min | s1) & comp
    n = graph.neighbors(s1) & comp & ~x
    for v in sorted(bits(n), reverse=True):
        s2 = 1 << v
        yield s2
        bv = ((1 << (v + 1)) - 1) & n
        yield from _enumerate_csg_rec(graph, s2, x | bv, comp)


@_per_call_cards
def plan_dp_ccp(graph: JoinGraph, oracle, cm: CostModel) -> PlanResult:
    """Exhaustive bushy DP over csg-cmp pairs; tries both operand orders for
    every pair (ExhaustiveDPJoinOrderRule.onMatch :86-211 does the same).
    Optimal among cross-product-free bushy trees -- the cost oracle every
    other planner is scored against (BASELINE.md)."""

    def component(comp: int) -> PlanNode:
        best: dict[int, tuple[float, PlanNode]] = {}
        for i in bits(comp):
            leaf = _leaf(graph, i)
            best[leaf.factors] = (_cum(graph, leaf, oracle, cm), leaf)
        pairs = [
            (s1, s2)
            for s1 in _enumerate_csg(graph, comp)
            for s2 in _enumerate_cmp(graph, comp, s1)
        ]
        # DP by total size => both halves are solved before every pair
        pairs.sort(key=lambda p: popcount(p[0] | p[1]))
        for s1, s2 in pairs:
            c1, t1 = best[s1]
            c2, t2 = best[s2]
            for left, right in ((t1, t2), (t2, t1)):
                tree = make_join(graph, left, right)
                cost = (
                    c1 + c2 + cm.node_cost(graph, tree, oracle)
                )
                cur = best.get(tree.factors)
                if cur is None or cost < cur[0]:
                    best[tree.factors] = (cost, tree)
        return best[comp][1]

    tree, cost = _plan_components(graph, oracle, cm, component)
    return PlanResult(tree, cost, "dp_ccp")


# ---------------------------------------------------------------------------
# Left-deep DP (J5)
# ---------------------------------------------------------------------------


@_per_call_cards
def plan_left_deep(graph: JoinGraph, oracle, cm: CostModel) -> PlanResult:
    """Selinger-style left-deep DP (LeftDeepJoinOrderRule.onMatch :68-204):
    extend each memoized subset with one connected factor on the right."""

    def component(comp: int) -> PlanNode:
        best: dict[int, tuple[float, PlanNode]] = {}
        for i in bits(comp):
            leaf = _leaf(graph, i)
            best[leaf.factors] = (_cum(graph, leaf, oracle, cm), leaf)
        factors = list(bits(comp))
        n = len(factors)
        for size in range(2, n + 1):
            for s in _subsets(comp):
                if popcount(s) != size:
                    continue
                for r in bits(s):
                    s0 = s & ~(1 << r)
                    if s0 not in best:
                        continue
                    if not (graph.neighbors(s0) & (1 << r)):
                        continue  # edge required (reference :131-147)
                    c0, t0 = best[s0]
                    leaf = _leaf(graph, r)
                    tree = make_join(graph, t0, leaf)
                    cost = (
                        c0
                        + cm.node_cost(graph, leaf, oracle)
                        + cm.node_cost(graph, tree, oracle)
                    )
                    cur = best.get(s)
                    if cur is None or cost < cur[0]:
                        best[s] = (cost, tree)
        return best[comp][1]

    tree, cost = _plan_components(graph, oracle, cm, component)
    return PlanResult(tree, cost, "left_deep")


# ---------------------------------------------------------------------------
# Greedy-bushy heuristic (J8)
# ---------------------------------------------------------------------------


@_per_call_cards
def plan_bushy(graph: JoinGraph, oracle, cm: CostModel) -> PlanResult:
    """J8: greedy-bushy heuristic after Calcite's
    MultiJoinOptimizeBushyRule, which the reference registers as a
    secondary rule (QueryOptExperiment.java:101-109,114): keep a forest
    of subtrees and repeatedly join the edge-connected PAIR whose joined
    node is cheapest, wherever it sits -- unlike left-deep greedy the
    result can be bushy.  O(E * V) with memoized pair costs; the shape
    that finds (A⋈B)⋈(C⋈D) plans greedy-linear search misses."""

    def component(comp: int) -> PlanNode:
        forest: dict[int, PlanNode] = {
            1 << i: _leaf(graph, i) for i in bits(comp)
        }
        while len(forest) > 1:
            roots = list(forest)
            best: tuple[float, int, int, PlanNode] | None = None
            for ai, a in enumerate(roots):
                for b in roots[ai + 1:]:
                    if not graph.neighbors(a) & b:
                        continue
                    tree = make_join(graph, forest[a], forest[b])
                    c = cm.node_cost(graph, tree, oracle)
                    if best is None or c < best[0]:
                        best = (c, a, b, tree)
            if best is None:  # disconnected remainder: cross-join fallback
                a, b = roots[0], roots[1]
                best = (0.0, a, b, make_join(graph, forest[a], forest[b]))
            _, a, b, tree = best
            del forest[a], forest[b]
            forest[tree.factors] = tree
        return next(iter(forest.values()))

    tree, cost = _plan_components(graph, oracle, cm, component)
    return PlanResult(tree, cost, "bushy")


# ---------------------------------------------------------------------------
# IKKBZ (adjacent-sequence-interchange optimal left-deep)
# ---------------------------------------------------------------------------


class _Mod:
    """A module (maximal merged run) in the IKKBZ precedence chain."""

    __slots__ = ("seq", "t", "c", "children")

    def __init__(self, seq: list[int], t: float, c: float):
        self.seq = seq
        self.t = t
        self.c = c
        self.children: list[_Mod] = []

    @property
    def rank(self) -> float:
        # (T-1)/C; a zero-cost module (empty intermediate) sorts first --
        # joining it collapses everything after it
        return (self.t - 1.0) / self.c if self.c > 0 else float("-inf")

    def fused(self, other: "_Mod") -> "_Mod":
        """self followed immediately by other, as one compound module:
        C(S1 S2) = C(S1) + T(S1) C(S2), T(S1 S2) = T(S1) T(S2)."""
        return _Mod(self.seq + other.seq, self.t * other.t, self.c + self.t * other.c)


def _normalize(chain: list[_Mod]) -> list[_Mod]:
    """Fuse adjacent modules wherever rank decreases, restoring the
    ascending-rank invariant without reordering (only adjacent fusions
    are legal: the chain encodes precedence constraints)."""
    i = 0
    while i < len(chain) - 1:
        if chain[i].rank > chain[i + 1].rank:
            chain[i : i + 2] = [chain[i].fused(chain[i + 1])]
            i = max(i - 1, 0)
        else:
            i += 1
    return chain


def _merge_chains(chains: list[list[_Mod]]) -> list[_Mod]:
    """Merge rank-ascending chains into one by ascending rank; within a
    chain relative order is preserved (heap-free k-way merge is overkill
    at fixture sizes -- sorted() is stable over the pre-ordered input)."""
    indexed = [
        (m.rank, ci, i, m)
        for ci, ch in enumerate(chains)
        for i, m in enumerate(ch)
    ]
    # sort by rank; ties keep chain-internal order via the (ci, i) key
    indexed.sort(key=lambda x: (x[0], x[1], x[2]))
    return [m for _, _, _, m in indexed]


@_per_call_cards
def plan_ikkbz(graph: JoinGraph, oracle, cm: CostModel) -> PlanResult:
    """IKKBZ (Ibaraki-Kameda 1984, Krishnamurthy-Boral-Zaniolo 1986):
    rank-based optimal left-deep ordering for tree-shaped query graphs
    under ASI cost functions, O(n^2) per root instead of left-deep DP's
    exponential subset sweep.  Per start factor, the query tree becomes a
    precedence tree; each subtree is flattened to a rank-ascending chain
    (fusing adjacent modules on rank inversions -- the ASI normalization);
    chains merge by ascending rank.  The cheapest root's chain wins,
    scored by the session cost model so results are comparable with every
    other planner (for non-ASI models mm/cm2 this is a heuristic, exactly
    as greedy is).

    Cyclic components first drop to a most-selective spanning tree
    (smallest selectivity edges kept, Kruskal); the dropped cycle edges
    still execute -- ``make_join`` attaches every edge between the two
    sides -- they just don't shape the precedence tree.  Selectivities
    come from the oracle's 1- and 2-factor cardinalities, the same
    metadata the reference's planners consume.

    Not a reference rule: the reference's LOpt greedy (J3) plays this
    algorithmic role; IKKBZ extends the planner family with the published
    optimal-left-deep algorithm the greedy approximates.
    """

    def component(comp: int) -> PlanNode:
        factors = list(bits(comp))
        if len(factors) == 1:
            return _leaf(graph, factors[0])
        n = {i: max(oracle.card(graph, 1 << i), 1e-9) for i in factors}
        # pairwise selectivities over the component's edges
        sel: dict[tuple[int, int], float] = {}
        for ai, a in enumerate(factors):
            for b in factors[ai + 1 :]:
                if graph.neighbors(1 << a) & (1 << b):
                    c2 = oracle.card(graph, (1 << a) | (1 << b))
                    f = c2 / (n[a] * n[b])
                    sel[(a, b)] = sel[(b, a)] = f
        # most-selective spanning tree (no-op when already a tree)
        parent_uf = {i: i for i in factors}

        def find(x):
            while parent_uf[x] != x:
                parent_uf[x] = parent_uf[parent_uf[x]]
                x = parent_uf[x]
            return x

        tree_adj: dict[int, list[int]] = {i: [] for i in factors}
        for (a, b), _f in sorted(sel.items(), key=lambda kv: (kv[1], kv[0])):
            if a > b:
                continue
            ra, rb = find(a), find(b)
            if ra != rb:
                parent_uf[ra] = rb
                tree_adj[a].append(b)
                tree_adj[b].append(a)

        def chain_for_root(root: int) -> list[int]:
            # precedence tree via DFS from root
            def build(v: int, parent: int | None) -> _Mod:
                t = n[v] if parent is None else sel[(v, parent)] * n[v]
                mod = _Mod([v], t, t)
                mod.children = [
                    build(w, v) for w in tree_adj[v] if w != parent
                ]
                return mod

            def flatten(v: _Mod) -> list[_Mod]:
                """Rank-ascending chain of v's whole subtree, v excluded."""
                chains = []
                for ch in v.children:
                    sub = _normalize([ch] + flatten(ch))
                    chains.append(sub)
                return _merge_chains(chains)

            root_mod = build(root, None)
            return [f for m in flatten(root_mod) for f in m.seq]

        best: tuple[float, PlanNode] | None = None
        for root in factors:
            order = [root] + chain_for_root(root)
            tree: PlanNode = _leaf(graph, order[0])
            for f in order[1:]:
                tree = make_join(graph, tree, _leaf(graph, f))
            cost = _cum(graph, tree, oracle, cm)
            if best is None or cost < best[0]:
                best = (cost, tree)
        assert best is not None
        return best[1]

    tree, cost = _plan_components(graph, oracle, cm, component)
    return PlanResult(tree, cost, "ikkbz")


# ---------------------------------------------------------------------------
# Branch and bound (J6)
# ---------------------------------------------------------------------------

BNB_EDGE_GUARD = 12  # ExhaustiveJoinOrderRule.java:107-109


@_per_call_cards
def plan_branch_and_bound(
    graph: JoinGraph, oracle, cm: CostModel, edge_guard: int = BNB_EDGE_GUARD
) -> PlanResult | None:
    """Recursive enumeration of edge sequences with ``costSoFar >= best``
    pruning (ExhaustiveJoinOrderRule.recursiveAddNodes :120-157).  Returns
    None when the graph has >= ``edge_guard`` edges, like the reference's
    hard skip.

    The search runs over factor masks: a forest is the tuple of its
    roots' masks, two roots are joinable when an edge links them, and a
    join's node cost is priced once per (left mask, right mask) -- every
    cost model reads only the two sides' and the output's cardinalities
    and, for ``mm``'s index-NLJ rule, whether the right side is one base
    table, i.e. one bit.  So the completions of a forest cost the same
    whichever path reached it, and a forest reached again at no lower
    cost is not searched again.  The key is the exact root order: join
    orientation and the cross-join fallback follow it.  The tree is
    built once, along the winning sequence."""
    if len(graph.edges) >= edge_guard:
        return None

    def component(comp: int) -> PlanNode:
        leaf_cost = sum(
            cm.node_cost(graph, _leaf(graph, i), oracle) for i in bits(comp)
        )
        # one tree and one neighbor mask per factor set the search
        # reaches: the tree only prices a join, the mask tests joinability
        trees: dict[int, PlanNode] = {
            1 << i: _leaf(graph, i) for i in bits(comp)
        }
        nbrs = {m: graph.neighbors(m) for m in trees}
        node_cost: dict[tuple[int, int], float] = {}
        # the lowest cost each forest (its exact root order) was reached at
        seen: dict[tuple[int, ...], float] = {}
        best_cost = float("inf")
        best_path: tuple[tuple[int, int], ...] = ()
        path: list[tuple[int, int]] = []

        def recurse(forest: tuple[int, ...], cost_so_far: float):
            nonlocal best_cost, best_path
            if len(forest) == 1:
                best_cost, best_path = cost_so_far, tuple(path)
                return
            if seen.get(forest, float("inf")) <= cost_so_far:
                return  # every completion was already tried at no more cost
            seen[forest] = cost_so_far
            joinable = [
                (a, b)
                for ai, a in enumerate(forest)
                for b in forest[ai + 1:]
                if nbrs[a] & b
            ]
            if not joinable:  # disconnected remainder inside comp: cross
                joinable = [(forest[0], forest[1])]
            for a, b in joinable:
                c = node_cost.get((a, b))
                if c is None:
                    tree = make_join(graph, trees[a], trees[b])
                    trees.setdefault(a | b, tree)
                    nbrs.setdefault(a | b, graph.neighbors(a | b))
                    c = node_cost[a, b] = cm.node_cost(graph, tree, oracle)
                if cost_so_far + c >= best_cost:
                    continue  # prune
                path.append((a, b))
                recurse(
                    tuple(k for k in forest if k != a and k != b) + (a | b,),
                    cost_so_far + c,
                )
                path.pop()

        recurse(tuple(trees), leaf_cost)
        built = {1 << i: _leaf(graph, i) for i in bits(comp)}
        for a, b in best_path:
            built[a | b] = make_join(graph, built.pop(a), built.pop(b))
        (tree,) = built.values()
        return tree

    tree, cost = _plan_components(graph, oracle, cm, component)
    return PlanResult(tree, cost, "branch_and_bound")


# ---------------------------------------------------------------------------
# Learned ordering as a first-class planner (J7)
# ---------------------------------------------------------------------------


@_per_call_cards
def plan_reinforce(
    graph: JoinGraph,
    oracle,
    cm: CostModel,
    episodes: int = 192,
    seed: int = 0,
    agent=None,
) -> PlanResult:
    """REINFORCE policy trained at plan time on THIS query's env
    (seeded, deterministic, pure planning -- milliseconds), then
    argmax-deployed.  Each INNER component is ordered by its own
    episode loop, matching the reference's scope where RL orders the
    inner join core (RLJoinOrderRule.java:120-133) and outer typing /
    cross-component glue stay rule-side (J14/J15 via
    ``_plan_components``).  Pass ``agent`` (e.g.
    ``agents.load_policy("POLICY.json")``) to deploy OFFLINE-trained
    frozen weights zero-shot instead of training per query.  Training
    curves and baseline comparisons: AGENT_TRAINING.md;
    scripts/train_agent.py."""
    from .agents import train_reinforce
    from .env import JoinOrderEnv

    def component(comp: int) -> PlanNode:
        members = list(bits(comp))
        if len(members) == 1:
            return _leaf(graph, members[0])
        env = JoinOrderEnv(graph, oracle, cm, seed=seed, factors=comp)
        policy = agent or train_reinforce(env, episodes=episodes, seed=seed)
        env.restart()
        while not env.done:
            env.advance(policy.act(env))
        return env.final_plan()

    tree, cost = _plan_components(graph, oracle, cm, component)
    return PlanResult(tree, cost, "reinforce")


_PRETRAINED = None
_PRETRAINED_LOCK = threading.Lock()


def _policy_path() -> str:
    """POLICY.json lives at the repo root next to the package; allow an
    env override for installs outside the repo checkout."""
    import os

    override = os.environ.get("SPARK_GRAFT_POLICY")
    if override:
        return override
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "POLICY.json",
    )


@_per_call_cards
def plan_reinforce_pretrained(
    graph: JoinGraph, oracle, cm: CostModel
) -> PlanResult:
    """The deployment configuration: frozen offline-trained weights
    (repo-root POLICY.json, written by scripts/train_agent.py
    --save-policy) deployed zero-shot -- no training at plan time at
    all.  Registered as a planner so the frozen policy passes every
    cross-planner property (validity, outer typing, result-hash
    agreement) and shows up in the A/B runtime harness."""
    global _PRETRAINED
    if _PRETRAINED is None:
        with _PRETRAINED_LOCK:
            if _PRETRAINED is None:
                from .agents import load_policy

                path = _policy_path()
                try:
                    _PRETRAINED = load_policy(path)
                except FileNotFoundError:
                    raise FileNotFoundError(
                        f"pretrained policy not found at {path}; run "
                        "scripts/train_agent.py --save-policy or point "
                        "SPARK_GRAFT_POLICY at a policy file"
                    ) from None
    res = plan_reinforce(graph, oracle, cm, agent=_PRETRAINED)
    return PlanResult(res.tree, res.cost, "reinforce_pretrained")


PLANNERS = {
    "greedy": plan_greedy,
    "dp_ccp": plan_dp_ccp,
    "left_deep": plan_left_deep,
    "branch_and_bound": plan_branch_and_bound,
    "bushy": plan_bushy,
    "ikkbz": plan_ikkbz,
    "random": plan_random,
    "reinforce": plan_reinforce,
    "reinforce_pretrained": plan_reinforce_pretrained,
}


def plan(name: str, graph: JoinGraph, oracle, cm: CostModel, **kw):
    return PLANNERS[name](graph, oracle, cm, **kw)


@_per_call_cards
def plan_with_materialized(
    graph: JoinGraph,
    oracle,
    cm: CostModel,
    pinned: "PlanNode | list[PlanNode] | tuple[PlanNode, ...]",
) -> PlanResult:
    """Re-optimize AROUND already-materialized intermediates -- the
    re-planning half of mid-query re-optimization (Kabra & DeWitt,
    SIGMOD'98): each pinned subtree is an atomic unit with sunk cost 0
    (its work is spent whether or not the new plan likes it), the
    remaining factors are free leaves, and a bushy subset-DP over those
    UNITS finds the cheapest completion under the feedback-corrected
    oracle.  Keeping pinned sets atomic is what makes the materialized
    blocks physically reusable; a plain re-run of DPccp could split
    them and throw the work away.  Multiple disjoint blocks supported
    (the progressive/full-LEO loop materializes one join per round, so
    two loose leaves joined early become a second block).

    Exhaustive over unit subsets (<= #relations units); DP merges are
    cross-join-free (splits must be edge-connected), and disconnected
    components of the core then cross-join in ascending first-factor
    order exactly like the static planners' J15 frame.  Both operand
    orders tried like plan_dp_ccp.

    Outer-join graphs (J14) reuse the planners' shared top-attach frame:
    the subset-DP runs over the INNER core only (around any inner pinned
    blocks), then the null-generating factors re-attach on top as LEFT
    joins in factor order -- outer joins do not commute with the core,
    so they are never search candidates, exactly as in the static
    planners (reference addToTop, MyLoptOptimizeJoinRule.java:1231-1239).
    Once a pinned block already contains a null-generating factor the
    attach is in progress and the block must contain the whole inner
    core; the only legal completion is attaching the remaining outer
    factors in order."""
    blocks: list[PlanNode] = (
        [pinned] if not isinstance(pinned, (list, tuple)) else list(pinned)
    )
    covered = 0
    for b in blocks:
        if b.factors & covered:
            raise ValueError("pinned blocks overlap")
        covered |= b.factors
    ng = graph.null_generating
    if covered == graph.all_factors and len(blocks) == 1:
        # the whole query is one materialized block (this is also the
        # only reachable shape for the 2-factor FULL OUTER graph, whose
        # single join IS the observed block)
        return PlanResult(blocks[0], 0.0, "adaptive_dp")
    if graph.full_outer:
        raise ValueError(
            "full-outer graph has a single join; nothing to re-plan"
        )
    outer_blocks = [b for b in blocks if b.factors & ng]
    if outer_blocks:
        # a block swallowed part of the attach frame: it must be THE
        # block (attach joins nest bottom-up, so it contains the core)
        if len(blocks) != 1 or (graph.all_factors & ~ng) & ~covered:
            raise ValueError(
                "pinned block splits the outer attach frame"
            )
        tree: PlanNode = blocks[0]
        cost = 0.0
        for g in bits(ng & ~covered):
            tree = make_join(graph, tree, _leaf(graph, g))
            cost += cm.node_cost(graph, tree, oracle)
        validate_tree(graph, tree)
        return PlanResult(tree, cost, "adaptive_dp")
    rest = [
        i
        for i in range(len(graph.aliases))
        if not (covered >> i) & 1 and not (ng >> i) & 1
    ]
    units: list[PlanNode] = blocks + [_leaf(graph, i) for i in rest]
    n = len(units)
    n_blocks = len(blocks)
    best: dict[int, tuple[float, PlanNode]] = {}
    for u_idx, u in enumerate(units):
        cost = 0.0 if u_idx < n_blocks else _cum(graph, u, oracle, cm)
        best[1 << u_idx] = (cost, u)
    for m in range(1, 1 << n):
        if popcount(m) < 2:
            continue
        cur = best.get(m)
        s = (m - 1) & m
        while s:
            o = m ^ s
            if s < o and s in best and o in best:
                c1, t1 = best[s]
                c2, t2 = best[o]
                if graph.neighbors(t1.factors) & t2.factors:
                    for left, right in ((t1, t2), (t2, t1)):
                        tree = make_join(graph, left, right)
                        cost = c1 + c2 + cm.node_cost(graph, tree, oracle)
                        if cur is None or cost < cur[0]:
                            cur = (cost, tree)
                            best[m] = cur
            s = (s - 1) & m
    # assemble per-component optima, cross-joining components in
    # ascending first-factor order -- the same J15 frame
    # _plan_components gives the static planners, so a core left
    # disconnected (cross fixtures; cores only linked through an outer
    # factor) re-plans instead of raising
    adj = [0] * n
    for i in range(n):
        for j in range(i + 1, n):
            if graph.neighbors(units[i].factors) & units[j].factors:
                adj[i] |= 1 << j
                adj[j] |= 1 << i
    remaining = (1 << n) - 1
    parts: list[tuple[float, PlanNode]] = []
    while remaining:
        comp = remaining & (-remaining)
        while True:
            nxt, m = 0, comp
            while m:
                nxt |= adj[(m & -m).bit_length() - 1]
                m &= m - 1
            nxt &= remaining & ~comp
            if not nxt:
                break
            comp |= nxt
        if comp not in best:
            raise ValueError(
                "join graph disconnected around the pinned block"
            )
        parts.append(best[comp])
        remaining &= ~comp
    parts.sort(key=lambda ct: ct[1].factors & -ct[1].factors)
    cost, tree = parts[0]
    for c2, t2 in parts[1:]:
        tree = make_join(graph, tree, t2)  # no covering edge -> cross (J15)
        cost += c2 + cm.node_cost(graph, tree, oracle)
    # re-attach the null-generating factors on top (J14), charging each
    # attach join's node cost on top of the core's DP cost
    for g in bits(ng):
        tree = make_join(graph, tree, _leaf(graph, g))
        cost += cm.node_cost(graph, tree, oracle)
    validate_tree(graph, tree)
    return PlanResult(tree, cost, "adaptive_dp")
