"""Join-graph IR + plan trees.

Replaces the reference's ``QueryGraph.java`` (vertices = base relations or
joined subtrees, edges = merged join predicates between factor sets --
``QueryGraph.java:44-63``, edge merging ``:151-165``/``:281-294``) with an
immutable bitset representation: factor i = bit ``1 << i``; a vertex set is
a plain Python int.  Unlike the reference we key vertices by *alias*, not
base-table name (SURVEY.md §7 risk register: JOB-style self-joins need
alias-keyed vertices).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

from .sqlparse import ParsedQuery, Predicate


def bits(s: int):
    """Iterate set bit indices of s (ascending)."""
    i = 0
    while s:
        if s & 1:
            yield i
        s >>= 1
        i += 1


def popcount(s: int) -> int:
    return s.bit_count()


@dataclass(frozen=True)
class Edge:
    """Merged join edge between two factors (QueryGraph.java:264-303).

    ``factors`` always has exactly two bits set (the reference asserts the
    same, RLJoinOrderRule.java:176-179); ``preds`` holds every equi-join
    conjunct between that alias pair (merged, QueryGraph.java:151-165).
    """

    factors: int
    preds: tuple[Predicate, ...]


@dataclass
class JoinGraph:
    aliases: list[str]                      # index == factor id
    tables: dict[str, str]                  # alias -> base table
    filters: dict[str, tuple[Predicate, ...]]   # alias -> its filters
    edges: list[Edge]
    post_join_filters: tuple[Predicate, ...] = ()
    query: ParsedQuery | None = None
    # J14: bitmask of null-generating factors (LoptMultiJoin
    # .isNullGenerating).  Planners order the inner core freely and
    # attach these on top as LEFT joins; full_outer marks the 2-factor
    # FULL OUTER case (MyLoptOptimizeJoinRule.addToTop :1231-1239).
    null_generating: int = 0
    full_outer: bool = False

    # --- construction ----------------------------------------------------
    @classmethod
    def from_query(cls, q: ParsedQuery) -> "JoinGraph":
        aliases = q.aliases
        idx = {a: i for i, a in enumerate(aliases)}
        merged: dict[int, list[Predicate]] = {}
        for p in q.all_join_preds:
            a, b = sorted(p.aliases)
            key = (1 << idx[a]) | (1 << idx[b])
            merged.setdefault(key, []).append(p)
        edges = [Edge(f, tuple(ps)) for f, ps in sorted(merged.items())]
        filters = {a: tuple(q.filters_for(a)) for a in aliases}
        null_gen = 0
        for a in q.null_generating:
            null_gen |= 1 << idx[a]
        return cls(
            aliases=aliases,
            tables={a: t for t, a in q.tables},
            filters=filters,
            edges=edges,
            post_join_filters=tuple(q.post_join_filters),
            query=q,
            null_generating=null_gen,
            full_outer=q.full_outer,
        )

    # --- topology ---------------------------------------------------------
    @property
    def n(self) -> int:
        return len(self.aliases)

    @property
    def all_factors(self) -> int:
        return (1 << self.n) - 1

    @cached_property
    def neighbor_masks(self) -> list[int]:
        masks = [0] * self.n
        for e in self.edges:
            a, b = tuple(bits(e.factors))
            masks[a] |= 1 << b
            masks[b] |= 1 << a
        return masks

    def neighbors(self, s: int) -> int:
        """Union of neighbors of set s, excluding s itself
        (QueryGraph.getNeighbors, QueryGraph.java:672-691)."""
        out = 0
        for i in bits(s):
            out |= self.neighbor_masks[i]
        return out & ~s

    def edges_between(self, s1: int, s2: int) -> list[Edge]:
        return [
            e
            for e in self.edges
            if (e.factors & s1) and (e.factors & s2) and not (e.factors & ~(s1 | s2))
        ]

    def connected(self, s: int) -> bool:
        start = s & (-s)
        seen = start
        frontier = start
        while frontier:
            nxt = self.neighbors(seen) & s
            if not nxt:
                break
            seen |= nxt
            frontier = nxt
        return seen == s

    def components(self) -> list[int]:
        """Connected components of the full graph, ascending first-bit."""
        return self.components_of(self.all_factors)

    def components_of(self, mask: int) -> list[int]:
        """Connected components restricted to ``mask``, ascending
        first-bit (used to plan the inner core separately from the
        null-generating factors)."""
        remaining = mask
        comps: list[int] = []
        while remaining:
            start = remaining & (-remaining)
            comp = start
            while True:
                nxt = self.neighbors(comp) & remaining & ~comp
                if not nxt:
                    break
                comp |= nxt
            comps.append(comp)
            remaining &= ~comp
        return comps

    # --- cardinality-oracle keys -----------------------------------------
    @cached_property
    def _keys(self) -> dict[int, str]:
        """mask -> ``key_for(mask)``.  Safe because nothing mutates a graph
        after construction: rewrites build a new one, and
        ``dataclasses.replace`` starts it with an empty memo."""
        return {}

    def key_for(self, s: int) -> str:
        """Canonical oracle key for a factor set, collision-free even when
        one oracle is shared across queries: each leaf is
        ``alias=table[|filters]`` (``=table`` omitted when alias == table)
        and multi-factor sets append ``||``-separated normalized join
        predicates internal to the set.  Replaces the reference's fragile
        sorted-table-name + filter-literal keys (MyMetadataQuery.java:
        107-146, MyUtils.java:120-192) -- which the reference had to scope
        per-query precisely because they collide across queries.

        Built once per graph and mask: planners and the env look the same
        sets up over and over."""
        key = self._keys.get(s)
        if key is None:
            key = self._keys[s] = self._build_key(s)
        return key

    def _build_key(self, s: int) -> str:
        parts = []
        for i in sorted(bits(s)):
            a = self.aliases[i]
            t = self.tables[a]
            base = a if a == t else f"{a}={t}"
            if (1 << i) & self.null_generating:
                # outer-typed factor: its set cardinality differs from
                # the inner-joined one, so the key must too
                kind = "full" if self.full_outer else "left"
                base = f"{kind}:{base}"
            fs = self.filters.get(a, ())
            if fs:
                norm = "&".join(sorted(p.normalized() for p in fs))
                parts.append(f"{base}|{norm}")
            else:
                parts.append(base)
        key = ",".join(sorted(parts))
        preds = sorted(
            p.normalized()
            for e in self.edges
            if (e.factors & s) == e.factors
            for p in e.preds
        )
        if preds:
            key += "||" + "&".join(preds)
        return key


# --- plan trees -----------------------------------------------------------


@dataclass(frozen=True)
class Leaf:
    factor: int          # bit index
    alias: str

    @property
    def factors(self) -> int:
        return 1 << self.factor

    def order_str(self) -> str:
        return self.alias


@dataclass(frozen=True)
class Join:
    left: "Leaf | Join"
    right: "Leaf | Join"
    preds: tuple[Predicate, ...]   # may be empty -> cross join (J15)
    factors: int = field(default=0)
    how: str = "inner"             # 'inner' | 'left' | 'full' (J14)

    def __post_init__(self):
        object.__setattr__(
            self, "factors", self.left.factors | self.right.factors
        )

    def order_str(self) -> str:
        """Paren join-order string, same shape as MyUtils.JoinOrder
        (MyUtils.java:45-55): ``JOIN(JOIN(a,b),c)``; outer joins carry
        their type: ``LEFTJOIN(a,b)``."""
        tag = "JOIN" if self.how == "inner" else f"{self.how.upper()}JOIN"
        return f"{tag}({self.left.order_str()},{self.right.order_str()})"


PlanNode = Leaf | Join


def make_join(graph: JoinGraph, left: PlanNode, right: PlanNode) -> Join:
    """Join two subtrees, attaching every edge now covered (the analog of
    addFilters, MyLoptOptimizeJoinRule.java:1295-1366: filters whose factor
    set is covered are ANDed into the join condition).  No covering edge ->
    cross join with TRUE condition (RLJoinOrderRule.java:152-159).

    Join typing (J14, addToTop :1231-1239): adding a null-generating
    factor set as the RHS makes the join LEFT; a 2-factor full-outer
    graph makes it FULL; everything else is inner."""
    preds: list[Predicate] = []
    for e in graph.edges_between(left.factors, right.factors):
        preds.extend(e.preds)
    how = "inner"
    if graph.full_outer:
        how = "full"
    elif right.factors & graph.null_generating:
        if right.factors & ~graph.null_generating:
            raise AssertionError(
                "null-generating factor mixed into an inner RHS"
            )
        how = "left"
    elif left.factors & graph.null_generating and isinstance(left, Leaf):
        raise AssertionError("null-generating factor used as join LHS")
    return Join(left, right, tuple(preds), how=how)


def iter_joins(node: PlanNode):
    """Yield every Join node bottom-up."""
    if isinstance(node, Join):
        yield from iter_joins(node.left)
        yield from iter_joins(node.right)
        yield node


def validate_tree(graph: JoinGraph, node: PlanNode) -> None:
    """Invariants from the reference (distinct factors QueryGraph.java:439,
    :515; all factors covered exactly once; null-generating factors only
    on the RHS of a left/full join -- outer joins do not commute with
    inner joins below them)."""
    seen: set[int] = set()
    for leaf in _iter_leaves(node):
        if leaf.factor in seen:
            raise AssertionError(f"factor {leaf.alias} appears twice")
        seen.add(leaf.factor)
    if node.factors != graph.all_factors:
        raise AssertionError("plan does not cover all factors")
    for j in iter_joins(node):
        if j.right.factors & graph.null_generating and j.how == "inner":
            raise AssertionError(
                "null-generating factor joined without outer typing"
            )


def _iter_leaves(node: PlanNode):
    if isinstance(node, Leaf):
        yield node
    else:
        yield from _iter_leaves(node.left)
        yield from _iter_leaves(node.right)
