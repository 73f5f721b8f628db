"""Plan tree -> explicit Spark DataFrame join chain.

Replaces the reference's plan construction + execution path
(``QueryGraph.updateRelNodes`` :521-566 builds LogicalJoins;
``MyLoptOptimizeJoinRule.createTopProject`` :517-580 restores the output
projection; ``MyUtils.executeNode`` :393-499 runs it).  Spark-first
choices, per SURVEY.md §4:

- Every leaf reads only the columns the query needs (column pruning
  reaches the parquet scan) and applies its filters immediately
  (predicate pushdown -- visible as PushedFilters in .explain()).
- Columns are renamed ``alias__col`` at the leaf so self-joins
  (same table, two aliases) never collide -- the reference needs a
  column remap for this (MyLoptOptimizeJoinRule.java:542-567).
- The join chain is emitted exactly in planner order; with CBO join
  reordering off (Spark default) Catalyst preserves written inner-join
  order, so no custom Catalyst rule is needed (SURVEY §4.1).
- Physical strategy: sides whose estimated cardinality is under
  ``broadcast_threshold`` get ``F.broadcast`` -- the Spark analog of the
  reference cost model's index-NLJ preference for small inputs
  (SURVEY §4.2); everything else is left to Spark (sort-merge /
  shuffle-hash), where AQE can re-plan at runtime at scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from .joingraph import Join, JoinGraph, Leaf, PlanNode, bits
from .oracle import CardinalityMissError
from .sqlparse import ColumnRef, Literal, ParsedQuery, Predicate

DEFAULT_BROADCAST_ROWS = 1_000_000  # rows, not bytes: planner-side estimate


# --- predicate translation -------------------------------------------------


def _lit(v: Literal):
    if v.is_date:
        return F.to_date(F.lit(v.value))
    return F.lit(v.value)


def _colname(ref: ColumnRef) -> str:
    return f"{ref.alias}__{ref.column}"


def pred_to_column(p: Predicate):
    c = F.col(_colname(p.col))
    if p.kind == "cmp":
        rhs = (
            F.col(_colname(p.operand))
            if isinstance(p.operand, ColumnRef)
            else _lit(p.operand)
        )
        ops = {
            "=": c.__eq__, "<>": c.__ne__, "<": c.__lt__,
            ">": c.__gt__, "<=": c.__le__, ">=": c.__ge__,
        }
        return ops[p.op](rhs)
    if p.kind == "between":
        lo, hi = p.operand
        return c.between(_lit(lo), _lit(hi))
    if p.kind == "like":
        e = c.like(p.operand.value)
        return ~e if p.op == "not" else e
    if p.kind == "in":
        e = c.isin([v.value for v in p.operand])
        return ~e if p.op == "not" else e
    if p.kind == "isnull":
        return c.isNull()
    if p.kind == "isnotnull":
        return c.isNotNull()
    raise ValueError(f"unknown predicate kind {p.kind}")


# --- rendering --------------------------------------------------------------


@dataclass
class Renderer:
    spark: object
    sf_dir: str
    graph: JoinGraph
    oracle: object | None = None
    broadcast_threshold: float = DEFAULT_BROADCAST_ROWS
    semi_prefilter: bool = False
    cost_model: object | None = None  # enables strategy hints when 'mm'
    needed_cols: dict[str, set[str]] = field(default_factory=dict)

    def __post_init__(self):
        q = self.graph.query
        self.needed_cols = {a: set() for a in self.graph.aliases}
        refs: list[ColumnRef] = []
        if q is not None:
            refs += [it.col for it in q.select]
            refs += q.group_by + [c for c, _ in q.order_by]
            for p in q.post_join_filters:
                refs.append(p.col)
                if isinstance(p.operand, ColumnRef):
                    refs.append(p.operand)
        for a, preds in self.graph.filters.items():
            refs += [p.col for p in preds]
        for e in self.graph.edges:
            for p in e.preds:
                refs.append(p.col)
                refs.append(p.operand)
        for r in refs:
            self.needed_cols[r.alias].add(r.column)

    def leaf_df(self, leaf: Leaf) -> DataFrame:
        alias = leaf.alias
        table = self.graph.tables[alias]
        from .session import read_table

        df = read_table(self.spark, self.sf_dir, table)
        cols = sorted(self.needed_cols[alias]) or [df.columns[0]]
        # prune -> rename alias__col -> filter (Catalyst pushes both into
        # the scan; verified by tests asserting PushedFilters/ReadSchema)
        df = df.select(
            *[F.col(c).alias(f"{alias}__{c}") for c in cols]
        )
        for p in self.graph.filters.get(alias, ()):
            df = df.filter(pred_to_column(p))
        if self.semi_prefilter:
            df = self._apply_semi_prefilter(leaf, df)
        return df

    def _apply_semi_prefilter(self, leaf: Leaf, df: DataFrame) -> DataFrame:
        """J10 analog (LoptSemiJoinOptimizer, MyLoptOptimizeJoinRule.java
        :119-141): pre-filter a large fact leaf with a left-semi join
        against each small *filtered* dimension it equi-joins, shrinking
        the fact side before the real joins.  Inner-join results are
        invariant under this rewrite."""
        if self.oracle is None:
            return df
        if self.graph.full_outer:
            return df
        try:
            my_card = self.oracle.card(self.graph, leaf.factors)
        except CardinalityMissError:
            return df
        for e in self.graph.edges:
            if not (e.factors & leaf.factors):
                continue
            if e.factors & self.graph.null_generating:
                # semi-join reduction is only result-invariant for inner
                # joins: pre-filtering a preserved side against a
                # null-generating dim would drop rows the LEFT join must
                # keep null-extended
                continue
            other_bit = e.factors & ~leaf.factors
            other = next(bits(other_bit))
            other_alias = self.graph.aliases[other]
            if not self.graph.filters.get(other_alias):
                continue  # only worthwhile against filtered dims
            try:
                other_card = self.oracle.card(self.graph, other_bit)
            except CardinalityMissError:
                continue
            if other_card >= min(my_card, self.broadcast_threshold):
                continue
            dim = self.leaf_df_no_prefilter(other)
            conds = [pred_to_column(p) for p in e.preds]
            cond = conds[0]
            for c in conds[1:]:
                cond = cond & c
            df = df.join(F.broadcast(dim), on=cond, how="left_semi")
        return df

    def leaf_df_no_prefilter(self, factor: int) -> DataFrame:
        saved = self.semi_prefilter
        self.semi_prefilter = False
        try:
            return self.leaf_df(Leaf(factor, self.graph.aliases[factor]))
        finally:
            self.semi_prefilter = saved

    def _maybe_broadcast(self, node: PlanNode, df: DataFrame) -> DataFrame:
        if self.oracle is None:
            return df
        try:
            card = self.oracle.card(self.graph, node.factors)
        except CardinalityMissError:
            return df
        if card <= self.broadcast_threshold:
            return F.broadcast(df)
        return df

    def render(self, node: PlanNode) -> DataFrame:
        if isinstance(node, Leaf):
            return self.leaf_df(node)
        left = self.render(node.left)
        right = self.render(node.right)
        left, right = self._apply_strategy(node, left, right)
        if not node.preds:
            if node.how == "inner":
                return left.crossJoin(right)  # J15 fallback
            return left.join(right, on=F.lit(True), how=node.how)
        cond = None
        for p in node.preds:
            c = pred_to_column(p)
            cond = c if cond is None else (cond & c)
        return left.join(right, on=cond, how=node.how)

    def _apply_strategy(self, node: Join, left: DataFrame, right: DataFrame):
        """Map the cost model's physical choice to a Spark join-strategy
        hint (SURVEY §4.2): under 'mm', an index-NLJ win (right side is a
        base table and 2|L| < |L|+|R|, MyMetadataQuery.java:181-226)
        means the LEFT side is the small probe driver, so broadcast the
        LEFT side when it fits -- BroadcastHashJoin builds on the small
        broadcast side and streams the big base table past it, the
        closest Spark analog of a per-row index probe.  (Broadcasting
        the RIGHT side here would ship the LARGER input -- the inverted
        heuristic ADVICE r1 flagged.)  A hash-join win maps to
        SHUFFLE_HASH on the right (skip sort-merge's sorts).  Without a
        cost model, fall back to the estimate-based broadcast rule."""
        cm = self.cost_model
        if node.how != "inner":
            # outer joins: Spark picks the strategy; a broadcast hint on
            # the preserved side could flip the build side illegally
            return left, right
        if (
            cm is not None
            and getattr(cm, "name", "") == "mm"
            and self.oracle is not None
            and node.preds
        ):
            try:
                left_card = self.oracle.card(self.graph, node.left.factors)
                right_card = self.oracle.card(self.graph, node.right.factors)
            except CardinalityMissError:
                return left, self._maybe_broadcast(node.right, right)
            index_nlj_wins = (
                cm.use_index_nlj
                and isinstance(node.right, Leaf)
                and 2.0 * left_card < left_card + right_card
            )
            if index_nlj_wins and left_card <= self.broadcast_threshold:
                return F.broadcast(left), right
            # J13 build-side choice (swapInputs :1907-1936): build the
            # hash table on the smaller side; equal row counts break on
            # row width (rowWidthCost :1024-1037 -- skinnier builds).
            # Spark's SHUFFLE_HASH hint marks the build side directly, so
            # no tree swap is needed.
            lw = self._row_width(node.left)
            rw = self._row_width(node.right)
            if (right_card, rw) <= (left_card, lw):
                return left, right.hint("shuffle_hash")
            return left.hint("shuffle_hash"), right
        return left, self._maybe_broadcast(node.right, right)

    def _row_width(self, node: PlanNode) -> int:
        """rowWidthCost analog (MyLoptOptimizeJoinRule.java:1024-1037):
        the width of the node itself plus the widths of its children, so
        a wide subtree low in the plan costs every join above it.  Width
        of a factor = the columns this query actually reads from it
        (post-pruning, which is what flows through the join)."""
        w = sum(
            len(self.needed_cols[self.graph.aliases[i]])
            for i in bits(node.factors)
        )
        if isinstance(node, Join):
            w += self._row_width(node.left) + self._row_width(node.right)
        return w

    def finish(self, df: DataFrame) -> DataFrame:
        """Apply post-join filters (P4), the output projection/aggregation
        (P3/A1), and trailing ORDER BY / LIMIT."""
        q = self.graph.query
        if q is None:
            return df
        for p in q.post_join_filters:
            df = df.filter(pred_to_column(p))
        aggs = [it for it in q.select if it.agg]
        plain = [it for it in q.select if not it.agg]
        # output name for each plain column (select-item alias wins)
        out_name = {(it.col.alias, it.col.column): it.name for it in plain}
        if aggs:
            agg_fns = {
                "min": F.min, "max": F.max, "sum": F.sum,
                "count": F.count, "avg": F.avg,
            }
            aexprs = [
                agg_fns[it.agg](F.col(_colname(it.col))).alias(it.name)
                for it in aggs
            ]
            if q.group_by:
                gexprs = [
                    F.col(_colname(c)).alias(
                        out_name.get((c.alias, c.column), c.column)
                    )
                    for c in q.group_by
                ]
                df = df.groupBy(*gexprs).agg(*aexprs)
            else:
                df = df.agg(*aexprs)
        else:
            df = df.select(
                *[F.col(_colname(it.col)).alias(it.name) for it in plain]
            )
        if q.order_by:
            df = df.orderBy(
                *[
                    F.col(nm).asc() if d == "asc" else F.col(nm).desc()
                    for c, d in q.order_by
                    for nm in [out_name.get((c.alias, c.column), c.column)]
                ]
            )
        if q.limit is not None:
            df = df.limit(q.limit)
        return df

    def run(self, node: PlanNode) -> DataFrame:
        return self.finish(self.render(node))


def execute_plan(
    spark,
    sf_dir: str,
    graph: JoinGraph,
    tree: PlanNode,
    oracle=None,
    broadcast_threshold: float = DEFAULT_BROADCAST_ROWS,
) -> DataFrame:
    r = Renderer(spark, sf_dir, graph, oracle, broadcast_threshold)
    return r.run(tree)


# --- SQL rendering (oracle twin + spark-baseline planner) -------------------


def query_to_sql(q: ParsedQuery) -> str:
    """Render a ParsedQuery back to ANSI SQL (runs on both DuckDB as the
    oracle and spark.sql as the 'spark-default' baseline planner -- the
    analog of the reference's plain-Postgres baseline row,
    QueryOptExperiment.java:694-697)."""
    sel = ", ".join(it.sql() for it in q.select)
    ng = q.null_generating
    if not ng:
        frm = ", ".join(f"{t} AS {a}" for t, a in q.tables)
        # on_filters/on_join_preds belong here too: with every outer
        # join simplified to inner, ON and WHERE semantics coincide
        conds = [
            p.sql()
            for p in q.all_join_preds + q.filters + q.on_filters
            + q.post_join_filters
        ]
    elif q.full_outer:
        (t0, a0), (t1, a1) = q.tables
        on = " AND ".join(p.sql() for p in q.all_join_preds) or "TRUE"
        frm = f"{t0} AS {a0} FULL JOIN {t1} AS {a1} ON {on}"
        conds = [p.sql() for p in q.post_join_filters]
    else:
        # inner core chains with CROSS JOIN (comma binds looser than JOIN,
        # so a later ON could not see earlier comma-tables); each
        # null-generating factor appends as LEFT JOIN with ITS OWN
        # ON-origin equi-preds and single-alias filters.  ON preds of
        # aliases simplified to inner become WHERE conjuncts.
        frm = " CROSS JOIN ".join(
            f"{t} AS {a}" for t, a in q.tables if a not in ng
        )
        covered = {a for _, a in q.tables if a not in ng}
        conds = [p.sql() for p in q.join_preds if not (p.aliases & ng)]
        conds += [
            p.sql()
            for a2, ps in q.on_join_preds.items()
            if a2 not in ng
            for p in ps
        ]
        conds += [p.sql() for p in q.filters if p.col.alias not in ng]
        conds += [p.sql() for p in q.on_filters if p.col.alias not in ng]
        conds += [p.sql() for p in q.post_join_filters]
        for t, a in q.tables:
            if a not in ng:
                continue
            ons = [
                p.sql()
                for p in q.on_join_preds.get(a, [])
                if p.aliases <= covered | {a}
            ]
            ons += [p.sql() for p in q.on_filters if p.col.alias == a]
            frm += f" LEFT JOIN {t} AS {a} ON {' AND '.join(ons) or 'TRUE'}"
            covered.add(a)
    sql = f"SELECT {sel} FROM {frm}"
    if conds:
        sql += " WHERE " + " AND ".join(conds)
    if q.group_by:
        sql += " GROUP BY " + ", ".join(str(c) for c in q.group_by)
    if q.order_by:
        sql += " ORDER BY " + ", ".join(
            f"{c} {d.upper()}" for c, d in q.order_by
        )
    if q.limit is not None:
        sql += f" LIMIT {q.limit}"
    return sql


# --- plan-shape capture (E5/E9) ---------------------------------------------


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """Capture the plan text (E5, RelOptUtil.dumpPlan analog,
    QueryOptExperiment.java:657)."""
    jqe = df._jdf.queryExecution()  # type: ignore[attr-defined]
    jvm = df.sparkSession._jvm      # type: ignore[attr-defined]
    jmode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return jqe.explainString(jmode)


def join_order_record(graph: JoinGraph, tree: PlanNode, oracle, cm) -> dict:
    """MyUtils.JoinOrder analog (:45-55): paren string, join count, and
    per-join costs keyed by the sorted alias list."""
    from .joingraph import iter_joins

    per_join = {}
    n = 0
    for j in iter_joins(tree):
        n += 1
        key = ",".join(sorted(graph.aliases[i] for i in bits(j.factors)))
        per_join[key] = cm.node_cost(graph, j, oracle)
    return {
        "order": tree.order_str(),
        "num_joins": n,
        "per_join_costs": per_join,
    }
