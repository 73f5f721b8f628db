"""Fixture workload (FIXTURES.md): JOB-shaped join queries over the
TPC-H-ish testdata, plus the helpers the driver contract and bench use to
run them through the planner pipeline.

The reference's workload is the IMDB Join Order Benchmark
(runtime_test.sh:3-5); these queries reproduce its shapes -- chain, star,
cycle, alias self-join, disconnected/cross -- on the driver's tables.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import lru_cache, partial

from .costmodels import get_cost_model
from .executor import Renderer, query_to_sql
from .joingraph import JoinGraph, bits
from .oracle import (
    SampledCountOracle,
    SketchOracle,
    SparkStatsOracle,
    TrueCountOracle,
)
from .planners import PLANNERS
from .session import configure_runtime
from .sqlparse import parse
from .state import scope

# Session state (``state.scope``) this module writes per sf_dir:
# "adaptive_split" is the record of the most recent LEO run (re-opt,
# full or warm: phase seconds, rounds, discarded speculative blocks,
# failed harvests, store-seeded observations), replaced per call;
# bench.py copies it into the side artifact so a total-time spike on
# join_adaptive_* is decomposable.  "persisted_blocks" lists the blocks
# the most recent observing run persist()ed, replaced per call.  A
# caller that wants a genuinely-cold follow-up run (e.g.
# join_feedback_warm's fresh re-execution claim) drops EXACTLY these via
# drop_persisted_blocks() -- a session-wide catalog.clearCache() would
# also evict every other query's cached relations and perturb their
# timings inside the same bench rep.

FIXTURES: dict[str, str] = {
    # chain: l-o-c (build plan step 1; entry() flagship at sf0.001)
    "join_chain_3": """
        SELECT MIN(o.o_totalprice) AS min_price, MIN(c.c_name) AS min_name
        FROM lineitem l, orders o, customer c
        WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
          AND l.l_quantity > 30
    """,
    # star around lineitem
    "join_star_4": """
        SELECT MIN(l.l_extendedprice) AS min_ep, MIN(p.p_name) AS min_part
        FROM lineitem l, orders o, part p, supplier s
        WHERE l.l_orderkey = o.o_orderkey AND l.l_partkey = p.p_partkey
          AND l.l_suppkey = s.s_suppkey
          AND p.p_size < 20 AND o.o_orderstatus = 'F'
    """,
    # full 7-relation cyclic graph with alias self-join (nation n1/n2)
    "join_cycle_7": """
        SELECT MIN(l.l_extendedprice) AS min_ep
        FROM lineitem l, orders o, customer c, supplier s,
             nation n1, nation n2, region r
        WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
          AND l.l_suppkey = s.s_suppkey
          AND c.c_nationkey = n1.n_nationkey
          AND s.s_nationkey = n2.n_nationkey
          AND n1.n_regionkey = r.r_regionkey
          AND r.r_name = 'ASIA' AND c.c_acctbal > 0
    """,
    # disconnected graph -> cross-join fallback (J15)
    "join_cross_2": """
        SELECT MIN(r.r_name) AS min_r, MIN(p.p_brand) AS min_b
        FROM region r, part p
        WHERE r.r_regionkey < 3 AND p.p_size = 5
    """,
    # self-join on nation via two roles + cross-alias equi edge
    "join_selfjoin_4": """
        SELECT MIN(c.c_name) AS min_cust, MIN(s.s_name) AS min_supp
        FROM customer c, supplier s, nation n1, nation n2
        WHERE c.c_nationkey = n1.n_nationkey AND s.s_nationkey = n2.n_nationkey
          AND n1.n_regionkey = n2.n_regionkey
          AND c.c_acctbal > 100
    """,
    # wider predicate surface: BETWEEN / IN / LIKE / date compare
    "join_preds_3": """
        SELECT MIN(l.l_extendedprice) AS min_ep, MAX(o.o_totalprice) AS max_tp,
               COUNT(l.l_orderkey) AS n_rows
        FROM lineitem l, orders o, customer c
        WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
          AND l.l_quantity BETWEEN 10 AND 40
          AND o.o_orderpriority IN ('1-URGENT', '2-HIGH')
          AND c.c_mktsegment LIKE 'BUI%'
          AND l.l_shipdate > DATE '1995-06-01'
    """,
    # 8-relation chain+star including the events table (user_id -> custkey)
    "join_events_8": """
        SELECT MIN(e.value) AS min_val, MAX(l.l_extendedprice) AS max_ep
        FROM events e, customer c, orders o, lineitem l, part p,
             supplier s, nation n1, region r
        WHERE e.user_id = c.c_custkey AND o.o_custkey = c.c_custkey
          AND l.l_orderkey = o.o_orderkey AND l.l_partkey = p.p_partkey
          AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = n1.n_nationkey
          AND n1.n_regionkey = r.r_regionkey
          AND e.event_type = 'purchase' AND p.p_size > 10
    """,
    # GROUP BY + ORDER BY through the planner pipeline
    # the AVG runs over an INTEGER-VALUED column on purpose (r10): every
    # partial sum is an exact integer < 2^53, so the average is
    # identical under ANY summation order -- plan-shape- and
    # shuffle-order-independent.  AVG(c_acctbal) (a 2-decimal double,
    # never exactly representable) was cross-planner-flaky in the last
    # ulp: runtime_test r10 caught left_deep/ikkbz hashing differently
    # from the other 8 planners on exactly this fixture.  Rounded
    # double AVG stays covered by the SQL surface (sql_agg_pricing).
    "join_group_3": """
        SELECT n1.n_name AS nation, COUNT(c.c_custkey) AS n_cust,
               AVG(c.c_custkey) AS avg_cust
        FROM customer c, nation n1, region r
        WHERE c.c_nationkey = n1.n_nationkey AND n1.n_regionkey = r.r_regionkey
          AND r.r_name <> 'EUROPE'
        GROUP BY n1.n_name
        ORDER BY n1.n_name ASC
    """,
    # 10-relation stress graph: every base table except documents/
    # embeddings, nation and region each under two roles -- the largest
    # enumeration the workload exercises (DPccp csg-cmp on 10 vertices)
    "join_galaxy_10": """
        SELECT MIN(l.l_extendedprice) AS min_ep, MIN(e.value) AS min_val,
               COUNT(l.l_orderkey) AS n_rows
        FROM lineitem l, orders o, customer c, supplier s, part p,
             nation n1, nation n2, region r, region r2, events e
        WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
          AND l.l_suppkey = s.s_suppkey AND l.l_partkey = p.p_partkey
          AND c.c_nationkey = n1.n_nationkey
          AND s.s_nationkey = n2.n_nationkey
          AND n1.n_regionkey = r.r_regionkey
          AND n2.n_regionkey = r2.r_regionkey
          AND e.user_id = c.c_custkey
          AND e.event_type = 'view' AND p.p_size < 15 AND r.r_name = 'ASIA'
    """,
    # J14: LEFT OUTER join kept in the plan (orders columns projected;
    # the ON filter pre-filters the null-generating side)
    "join_outer_3": """
        SELECT MIN(c.c_name) AS min_name, MIN(o.o_totalprice) AS min_price,
               COUNT(c.c_custkey) AS n_rows
        FROM customer c, nation n1
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
          AND o.o_totalprice > 150000
        WHERE c.c_nationkey = n1.n_nationkey AND n1.n_name = 'NATION_3'
    """,
    # J11: removable outer join -- nothing projects orders and
    # o_orderkey is unique, so the planner drops the factor entirely;
    # the DuckDB oracle still runs the full LEFT JOIN (result-invariance
    # is what the hash check proves)
    "join_outer_removed": """
        SELECT MIN(l.l_extendedprice) AS min_ep, COUNT(l.l_orderkey) AS n_rows
        FROM lineitem l
        LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_quantity > 45
    """,
    # J14 at width: 4-relation inner core ordered freely, LEFT orders
    # attached on top -- outer typing must survive a real search space
    "join_outer_mixed_5": """
        SELECT MIN(c.c_name) AS min_name, MIN(s.s_name) AS min_supp,
               MIN(o.o_totalprice) AS min_price,
               COUNT(c.c_custkey) AS n_rows
        FROM customer c, nation n1, region r, supplier s
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
          AND o.o_totalprice > 100000
        WHERE c.c_nationkey = n1.n_nationkey
          AND n1.n_regionkey = r.r_regionkey
          AND s.s_nationkey = n1.n_nationkey
          AND r.r_name = 'ASIA'
    """,
    # J14: 2-factor FULL OUTER (deliberately mismatched keys so both
    # null-extension directions occur)
    "join_outer_full": """
        SELECT COUNT(n1.n_nationkey) AS n_nations, COUNT(r.r_regionkey) AS n_regions,
               MIN(n1.n_name) AS min_nation
        FROM nation n1
        FULL JOIN region r ON n1.n_nationkey = r.r_regionkey
    """,
    # J12: removable self-join -- customer joined to itself on its
    # unique key collapses to one scan; oracle runs the 2-scan SQL
    "join_selfjoin_removed": """
        SELECT MIN(c1.c_name) AS min_name, MAX(c2.c_acctbal) AS max_bal
        FROM customer c1, customer c2
        WHERE c1.c_custkey = c2.c_custkey AND c1.c_mktsegment = 'BUILDING'
    """,
    # J12 composite key: events self-joined on (user_id, ts) -- unique
    # as a PAIR while user_id alone repeats heavily -- collapses to one
    # scan via the null-aware multi-column uniqueness proof (distinct
    # non-null tuples == rows; areSelfJoinKeysUnique
    # MyLoptOptimizeJoinRule.java:2080-2109).  The single-column-only
    # check of rounds <=4 declined this shape.
    "join_selfjoin_removed_composite": """
        SELECT MIN(e1.value) AS min_val, MAX(e2.value) AS max_val,
               COUNT(e1.event_id) AS n_rows
        FROM events e1, events e2
        WHERE e1.user_id = e2.user_id AND e1.ts = e2.ts
          AND e1.event_type = 'purchase'
    """,
    # pipeline-shaped graph (r8 VERDICT #6): the training-data curation
    # probe -- documents keyed to their embeddings (doc_id = vec_id,
    # 1:1) and to the curator's event stream (high fan-out: ~67 events
    # per user), with the selective filters a curation pass applies
    # (language slice, label range, event type, length floor).  The
    # planner controls this join order exactly as it does the TPC-H-ish
    # fixtures, so the est-vs-true sensitivity harness measures the
    # SAME machinery on a pipeline cardinality profile (documents/
    # embeddings/events never appear together in any other fixture).
    "join_pipeline_5": """
        SELECT COUNT(d.doc_id) AS n_rows, MIN(d.n_chars) AS min_chars,
               MAX(e.value) AS max_val
        FROM documents d, embeddings v, events e, customer c, nation n1
        WHERE d.doc_id = v.vec_id AND e.user_id = d.doc_id
          AND e.user_id = c.c_custkey AND c.c_nationkey = n1.n_nationkey
          AND d.lang = 'en' AND v.label < 5
          AND e.event_type = 'view' AND d.n_chars > 200
    """,
}


@lru_cache(maxsize=8)
def _base_rows(sf_dir: str) -> dict[str, int]:
    """Base-table row counts from parquet metadata (cheap, no Spark job)."""
    import duckdb

    from . import TABLES

    con = duckdb.connect()
    out = {}
    for t in TABLES:
        try:
            out[t] = con.execute(
                f"SELECT count(*) FROM read_parquet('{sf_dir}/{t}.parquet')"
            ).fetchone()[0]
        except duckdb.IOException:  # table file absent at this scale
            pass
    con.close()
    return out


def stats_oracle(sf_dir: str) -> SparkStatsOracle:
    return SparkStatsOracle(_base_rows(sf_dir))


def plan_fixture(
    sf_dir: str,
    name: str,
    planner: str = "dp_ccp",
    cost_model: str = "cm1",
    oracle=None,
):
    """Planning-only slice of :func:`run_fixture` -- parse -> removal
    rewrites (J11/J12) -> join graph -> plan.  bench.py times this
    separately from execution so plan-time regressions are decidable
    (VERDICT r4 #3); returns ``(graph, oracle, plan_result)``."""
    from .rewrites import simplify

    sql = FIXTURES[name]
    oracle = oracle or stats_oracle(sf_dir)
    graph = simplify(parse(sql), oracle)
    cm = get_cost_model(cost_model)
    res = PLANNERS[planner](graph, oracle, cm)
    if res is None:
        res = PLANNERS["dp_ccp"](graph, oracle, cm)
    return graph, oracle, res


def run_fixture(
    spark,
    sf_dir: str,
    name: str,
    planner: str = "dp_ccp",
    cost_model: str = "cm1",
    oracle=None,
):
    """Full pipeline: parse -> removal rewrites (J11/J12) -> join graph ->
    plan -> explicit Spark join chain -> final projection.  Planning uses
    the stats oracle by default (cheap estimates; its missing
    distinct/rows metadata makes the removal rewrites a no-op); pass a
    TrueCountOracle for exact-cost planning and active join removal."""
    graph, oracle, res = plan_fixture(
        sf_dir, name, planner=planner, cost_model=cost_model, oracle=oracle
    )
    renderer = Renderer(spark, sf_dir, graph, oracle)
    return renderer.run(res.tree)


def fixture_oracle_sql(name: str) -> str:
    """ANSI-SQL twin of a fixture (DuckDB oracle; also the spark_default
    baseline text)."""
    return query_to_sql(parse(FIXTURES[name]))


def run_fixture_semi_prefilter(spark, sf_dir: str, name: str = "join_cycle_7"):
    """Fixture executed with J10 semi-join prefiltering: large leaves are
    pre-reduced with left-semi joins against small filtered dimensions
    before the planned join chain (result-invariant)."""
    sql = FIXTURES[name]
    graph = JoinGraph.from_query(parse(sql))
    oracle = stats_oracle(sf_dir)
    cm = get_cost_model("cm1")
    res = PLANNERS["dp_ccp"](graph, oracle, cm)
    renderer = Renderer(spark, sf_dir, graph, oracle, semi_prefilter=True)
    return renderer.run(res.tree)


def run_fixture_via_env_agent(spark, sf_dir: str, name: str = "join_cycle_7"):
    """Plan a fixture with the greedy-by-reward agent driving
    JoinOrderEnv (the RL-planner path, J7), then execute its final plan
    -- proves the env loop inside the correctness gate."""
    from .agents import GreedyRewardAgent, run_episode
    from .env import JoinOrderEnv

    sql = FIXTURES[name]
    graph = JoinGraph.from_query(parse(sql))
    oracle = stats_oracle(sf_dir)
    env = JoinOrderEnv(graph, oracle, get_cost_model("cm1"))
    episode = run_episode(env, GreedyRewardAgent())
    renderer = Renderer(spark, sf_dir, graph, oracle)
    return renderer.run(episode["plan"])


def run_fixture_via_wire(spark, sf_dir: str, name: str = "join_cycle_7"):
    """Plan a fixture END-TO-END over the park wire protocol (§2.8):
    a :class:`ParkServer` wraps a ParkSession in this process, a
    :class:`ParkClient` drives the whole episode over a loopback TCP
    socket -- setQueries/test/reset/getActions/step/isDone exactly as
    the reference's Python agent drives the Java optimizer over ZMQ
    PAIR (ZeroMQServer.java:101-266) -- and the join order the wire
    session produced is then executed by the engine.  The agent policy
    is the deterministic lowest-index action each step (any valid order
    is result-invariant; that invariance is what the gate row proves).
    """
    from .park_api import ParkSession
    from .park_server import ParkClient, ParkServer

    sql = FIXTURES[name]
    oracle = stats_oracle(sf_dir)
    session = ParkSession(sf_dir=sf_dir, oracle=oracle, cost_model="cm1")
    server = ParkServer(session).serve_in_background()
    client = ParkClient(server.host, server.port)
    try:
        client.setQueries("test", {name: sql})
        client.test()
        client.reset()
        while not client.isDone():
            client.step(client.getActions()[0])
        order = client.joinOrderSeq()
        assert order, "wire episode finished without a recorded join order"
    finally:
        client.end()
    # the episode's plan lives in the session the wire just drove;
    # execute it engine-side
    plan = session._env.final_plan()
    graph = session._cur_graph
    renderer = Renderer(spark, sf_dir, graph, oracle)
    return renderer.run(plan)


def run_fixture_via_park_cards(spark, sf_dir: str, name: str = "join_star_4"):
    """Plan a fixture through the park API's CARDINALITY command surface
    (§2.8 beyond env stepping; r10 VERDICT #5's gate-visible park-API
    session): the session ingests the workload (setQueries/test), the
    agent INJECTS the cardinality file (setCardinalities -- the
    reference's agent-supplied-cards mode, ZeroMQServer.java
    setCardinalities / QueryOptExperiment.java:205 pg.json), walks the
    episode to completion under those injected counts (any miss raises
    CardinalityMissError -- C2 is live in this path), and the episode's
    final plan is executed engine-side.  En route the planner-comparison
    and est-vs-true commands run against the same session --
    getJoinsCost / getOptPlan / startTestCardinalities /
    getEstCardinalityCosts / getOptCardinalityCosts -- with their
    invariants enforced by raise (est cost of a perturbed oracle can
    never beat the optimum under the same true counts), so the gate row
    proves the whole command vocabulary, not just reset/step/isDone."""
    import json as _json

    from .park_api import ParkSession

    sql = FIXTURES[name]
    graph = JoinGraph.from_query(parse(sql))
    tr = TrueCountOracle(sf_dir)
    tr.precompute_all_connected(graph)
    cards = tr.snapshot()

    session = ParkSession(sf_dir=sf_dir, cost_model="cm1", true_oracle=tr)
    session.setQueries("test", _json.dumps({name: sql}))
    session.test()
    session.setCardinalities(cards.to_json())
    session.reset()
    while not session.isDone():
        session.step(session.getActions()[0])
    if not session.joinOrderSeq():
        raise RuntimeError("park episode finished without a join order")
    per_join = session.getJoinsCost("dp_ccp")
    if not per_join or any(v < 0 for v in per_join.values()):
        raise RuntimeError(f"getJoinsCost(dp_ccp) malformed: {per_join}")
    if not session.getOptPlan().startswith("JOIN("):
        raise RuntimeError("getOptPlan did not return a plan string")
    session.startTestCardinalities(cards.perturbed(seed=7), tr)
    est = session.getEstCardinalityCosts()[name]
    opt = session.getOptCardinalityCosts()[name]
    if est < opt - 1e-6:
        raise RuntimeError(
            f"perturbed-card cost {est} beat the true-card optimum {opt}"
        )
    session.END()
    renderer = Renderer(spark, sf_dir, graph, session.oracle)
    return renderer.run(session._env.final_plan())


def true_oracle(sf_dir: str) -> TrueCountOracle:
    return TrueCountOracle(sf_dir)


def sampled_oracle(sf_dir: str, p: float = 0.1) -> SampledCountOracle:
    return SampledCountOracle(sf_dir, p=p)


def sketch_oracle(sf_dir: str) -> SketchOracle:
    return SketchOracle(sf_dir)


def _attributable_leaves(graph, block_factors: int) -> dict[int, str]:
    """{single-factor mask: base table} for every leaf of the block whose
    base TABLE appears exactly once among the block's leaves -- the only
    leaves a scan count can be attributed to (two scans of one parquet
    file under two aliases cannot be told apart from operator metrics,
    so self-join aliases stay unobserved)."""
    by_table: dict[str, list[int]] = {}
    for i in bits(block_factors):
        by_table.setdefault(graph.tables[graph.aliases[i]], []).append(i)
    return {1 << idxs[0]: t for t, idxs in by_table.items() if len(idxs) == 1}


def _scan_observations(graph, df, block_factors: int) -> dict[int, float]:
    """Harvest post-filter LEAF cardinalities from the executed plan's
    operator metrics after an action ran on ``df`` -- the feedback LEO
    reads from completed scans for FREE (no extra jobs; DB2's LEO and
    Spark's AQE both source runtime statistics this way).  Returns
    {single-factor mask: observed rows} for every
    :func:`_attributable_leaves` leaf of the block.

    Touches Spark's internal executedPlan via py4j and raises whatever
    that walk raises; the LEO observe counts such a failure in its
    record's ``harvest_failed`` and carries on without leaf feedback."""
    import re

    per_table: dict[str, float] = {}

    def walk(node, pending_filter_rows, cache_ok=True):
        cname = node.getClass().getSimpleName()
        mets = node.metrics()
        it = mets.iterator()
        rows = None
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numOutputRows":
                rows = float(kv._2().value())
        if cname == "FileSourceScanExec":
            m = re.search(r"(\w+)\.parquet", node.toString())
            if m:
                got = (
                    pending_filter_rows
                    if pending_filter_rows is not None
                    else rows
                )
                if got is not None:
                    # duplicate table -> poison the entry
                    t = m.group(1)
                    per_table[t] = -1.0 if t in per_table else got
            return
        if cname == "FilterExec":
            # stacked filters (e.g. a split non-deterministic
            # predicate): walking top-down, the OUTERMOST filter's
            # output is the post-ALL-filters count -- keep it
            if pending_filter_rows is None:
                pending_filter_rows = rows
        elif not (
            cname in (
                # WHITELIST of row-count-preserving pass-throughs,
                # matched by EXACT class name: a Filter's count may
                # only be attributed to a scan reached through these.
                # Anything else (joins, aggregates, generates, limits,
                # unions, cartesian products, a second Filter...)
                # resets the carry -- a blacklist here would silently
                # record a WRONG count as ground truth the first time
                # an unlisted cardinality-changing operator appeared.
                # Exact names, not substrings: SortMergeJoinExec and
                # SortAggregateExec contain "Sort" but CHANGE row
                # counts -- a substring match would carry a filter
                # count across a join/aggregate and poison the
                # FeedbackStore.
                "ProjectExec",
                "InputAdapter",
                "ColumnarToRowExec",
                "RowToColumnarExec",
                "SortExec",
                # shuffles/broadcasts move rows, never drop them
                "ShuffleExchangeExec",
                "BroadcastExchangeExec",
                "ReusedExchangeExec",
                "CoalesceExec",
            )
            or cname.startswith("WholeStageCodegen")
        ):
            pending_filter_rows = None
        if cname == "AdaptiveSparkPlanExec":
            walk(node.executedPlan(), pending_filter_rows, cache_ok)
            return
        if "InMemoryTableScan" in cname:
            # the block's OWN cache (root) holds its real executed plan
            # with populated metrics -- descend once.  NESTED caches are
            # previously materialized child blocks whose scans were
            # harvested in the round that built them; re-walking their
            # lineage every round would cost O(rounds^2) py4j traffic
            # across the loop (measured: join_adaptive_full observe
            # 1.4 s -> 5.6 s at sf0.1) and could double-attribute a
            # table the live plan scans again.
            if cache_ok:
                walk(node.relation().cachedPlan(), None, False)
            return
        if "QueryStage" in cname:
            walk(node.plan(), pending_filter_rows, cache_ok)
            return
        for i in range(node.children().length()):
            walk(node.children().apply(i), pending_filter_rows, cache_ok)

    walk(df._jdf.queryExecution().executedPlan(), None)
    return {
        m: per_table[t]
        for m, t in _attributable_leaves(graph, block_factors).items()
        if per_table.get(t, -1.0) >= 0
    }


@dataclass
class _MaterializedRenderer(Renderer):
    """Renderer that substitutes the already-computed DataFrame for the
    pinned subtree -- physical reuse of the materialized intermediate
    (the plan kept it atomic, so the factor-mask lookup is exact)."""

    materialized: dict = field(default_factory=dict)

    def render(self, node):
        cached = self.materialized.get(node.factors)
        return cached if cached is not None else super().render(node)


def _next_unit_join(node, mat: dict):
    """The first join a pipeline would execute next: the deepest
    (left-spine-preferred) unit join, or None when the tree is itself a
    unit.  With no block materialized it is the plan's first leaf-leaf
    join."""
    units = _all_unit_joins(node, mat)
    return units[0] if units else None


def _all_unit_joins(node, mat: dict) -> list:
    """EVERY join in the tree whose both children are units (leaf or
    materialized block), left-spine first.  In a bushy plan these
    subtrees are pairwise disjoint, so their materializations are
    independent Spark jobs."""
    from .joingraph import Leaf

    def is_unit(n) -> bool:
        return isinstance(n, Leaf) or n.factors in mat

    out: list = []

    def walk(n):
        if is_unit(n):
            return
        if is_unit(n.left) and is_unit(n.right):
            out.append(n)
            return
        walk(n.left)
        walk(n.right)

    walk(node)
    return out


def _spec_key(join) -> tuple:
    """Identity of a unit-join materialization: the covered factor set
    plus HOW it was constructed (the two child unit masks).  A later
    re-plan can cover the same factors through different children
    (associativity) -- the relation is identical but the freshly
    executed scans, and therefore the harvested leaf observations,
    would differ from the sequential loop's; keying on the
    construction makes a speculative block consumable only when it is
    bit-for-bit what the sequential loop would have built."""
    return (
        join.factors,
        frozenset((join.left.factors, join.right.factors)),
    )


def _subtree_of(node, factors: int):
    """The subtree of ``node`` whose factor set is exactly ``factors``."""
    if node.factors == factors:
        return node
    from .joingraph import Join

    if isinstance(node, Join):
        for child in (node.left, node.right):
            if (child.factors & factors) == factors:
                return _subtree_of(child, factors)
    raise KeyError(factors)


@dataclass(frozen=True)
class LeoRun:
    """Outcome of :func:`leo_chain`: the plan to finish with, the
    observed blocks it pins (factor mask -> block, in consumption
    order), the rounds run, the speculative blocks never consumed, and
    the chain's observe / re-plan seconds."""

    tree: object
    blocks: dict
    rounds: int
    discarded: list
    observe_sec: float
    replan_sec: float


def leo_chain(graph, overlay, cm, tree, observe, store=None, rounds=None):
    """The LEO decision chain (Kabra & DeWitt, SIGMOD'98; Stillger et
    al., VLDB'01), pure Python: take the plan's next unit join
    (:func:`_next_unit_join`), observe its true cardinality, overlay
    the observation on ``overlay`` (and record it in ``store``), then
    re-plan everything not yet materialized with the live blocks pinned
    atomic (``plan_with_materialized``; sunk cost 0).  Runs ``rounds``
    rounds; ``None`` runs until one block covers the query (n-1 rounds
    for n relations, each a join the query needed anyway) and 0 returns
    ``tree`` unobserved.  Every join after the first is then placed on
    exact cardinalities for all its materialized inputs: estimation
    error can misplace only the next join, never compound.

    ``observe(units, blocks)`` materializes unit joins whose children
    are leaves or entries of ``blocks`` (factor mask -> block) and
    returns one ``(block, rows, {leaf mask: rows})`` per unit.  A bushy
    plan exposes several disjoint unit joins at once, so each batch
    asks for every one not yet observed -- capped at the rounds that
    remain -- and ``observe`` may run them concurrently.  The chain
    consumes the batch strictly in sequential order, keyed by
    :func:`_spec_key`: every observation, store record, round and the
    final tree equal the one-join-at-a-time loop's.  A block the
    re-planned tree never builds is returned in ``discarded`` and its
    observations are never applied (the sequential loop never computed
    them) -- the duplicated-work trade Spark's own speculative execution
    makes, never a semantics change."""
    from .planners import plan_with_materialized

    budget = len(graph.aliases) - 1 if rounds is None else rounds
    blocks: dict[int, object] = {}
    spec: dict[tuple, tuple] = {}
    done = 0
    observe_sec = replan_sec = 0.0
    while done < budget:
        nxt = _next_unit_join(tree, blocks)
        if nxt is None:  # the tree is a single unit
            break
        t0 = time.monotonic()
        key = _spec_key(nxt)
        if key not in spec:
            batch = [
                u for u in _all_unit_joins(tree, blocks)
                if _spec_key(u) not in spec
            ][: budget - done]
            spec.update(zip(map(_spec_key, batch), observe(batch, blocks)))
        block, rows, leaves = spec.pop(key)
        fresh = {nxt.factors: rows, **leaves}
        overlay.observed.update(fresh)
        if store is not None:
            for m, r in fresh.items():
                store.record(graph, m, r)
        observe_sec += time.monotonic() - t0
        done += 1
        blocks[nxt.factors] = block
        if nxt.factors == graph.all_factors:
            break
        # live blocks: materialized sets not subsumed by a larger one
        live = [
            _subtree_of(tree, f) for f in blocks
            if not any(o != f and (f & o) == f for o in blocks)
        ]
        t0 = time.monotonic()
        tree = plan_with_materialized(graph, overlay, cm, live).tree
        replan_sec += time.monotonic() - t0
    return LeoRun(
        tree, blocks, done, [b for b, _, _ in spec.values()],
        observe_sec, replan_sec,
    )


# the JVM-thread-local properties an observe task copies from its caller
_JOB_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
    "spark.scheduler.pool",
)


def _unpersist(blocks) -> int:
    """Unpersist each block without waiting; returns how many raised."""
    failed = 0
    for block in blocks:
        try:
            block.unpersist(blocking=False)
        except Exception:  # counted into the record's harvest_failed
            failed += 1
    return failed


def _run_leo(spark, sf_dir: str, name: str, cost_model: str, store, rounds):
    """Plan ``name`` on the estimator overlaid with ``store``'s earlier
    observations, run :func:`leo_chain` for ``rounds`` with Spark
    observations, and render the final plan reusing every observed
    block.  Writes the ``"adaptive_split"`` record (plan / observe /
    harvest / re-plan seconds, rounds, ``n_discarded`` speculative
    blocks, ``harvest_failed`` leaf harvests or unpersists that raised,
    ``warm_seeded`` store observations) and ``"persisted_blocks"``."""
    from concurrent.futures import ThreadPoolExecutor, wait

    from .oracle import OverlayOracle

    t0 = time.monotonic()
    graph, est, res = plan_fixture(sf_dir, name, cost_model=cost_model)
    cm = get_cost_model(cost_model)
    seed = store.seed(graph) if store is not None else {}
    overlay = OverlayOracle(est, seed)
    if seed:
        # cross-query warm start (FeedbackStore): the initial plan --
        # including the first join, which within-query feedback can
        # never reach -- already uses every earlier observation
        res = PLANNERS["dp_ccp"](graph, overlay, cm)
    plan_sec = time.monotonic() - t0
    renderer = _MaterializedRenderer(spark, sf_dir, graph, overlay)
    made: list = []  # every block an observe persisted
    harvest_sec, harvest_failed = 0.0, 0
    # job group/description/pool are JVM-thread-local; pool threads
    # start bare, so the caller's labels and any cancellable job group
    # (harness timeouts) are copied into each observe task explicitly
    sc = spark.sparkContext
    props = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}

    def observe_one(unit):
        """One independent Spark job: persist + count the unit join,
        then harvest its leaf observations from the executed scans
        (cached child blocks re-read from memory and surface no scan)."""
        for k, v in props.items():
            if v is not None:
                sc.setLocalProperty(k, v)
        block = renderer.render(unit).persist()
        rows = float(block.count())
        th = time.monotonic()
        try:
            leaves, failed = _scan_observations(graph, block, unit.factors), 0
        except Exception:  # leaf feedback is optional; counted
            leaves, failed = {}, 1
        return block, rows, leaves, time.monotonic() - th, failed

    def observe(units, blocks):
        nonlocal harvest_sec, harvest_failed
        renderer.materialized = blocks
        futs = [pool.submit(observe_one, u) for u in units]
        wait(futs)
        # every succeeded sibling lands in ``made`` before a failure is
        # raised, so the failure path below unpersists it too
        made.extend(f.result()[0] for f in futs if f.exception() is None)
        out = [f.result() for f in futs]
        harvest_sec += sum(o[3] for o in out)
        harvest_failed += sum(o[4] for o in out)
        return [o[:3] for o in out]

    pool = ThreadPoolExecutor(max_workers=4)
    try:
        run = leo_chain(graph, overlay, cm, res.tree, observe, store, rounds)
    except BaseException:
        _unpersist(made)
        raise
    finally:
        pool.shutdown(wait=True)
    harvest_failed += _unpersist(run.discarded)
    if run.rounds:
        scope(spark, sf_dir)["persisted_blocks"] = list(run.blocks.values())
    scope(spark, sf_dir)["adaptive_split"] = dict(
        plan_sec=round(plan_sec, 4),
        observe_sec=round(run.observe_sec, 4),
        # summed per-thread metrics-walk time (overlapped wall-clock):
        # shows whether the count() barriers or the py4j harvest carry
        # the observation cost
        harvest_sec=round(harvest_sec, 4),
        replan_sec=round(run.replan_sec, 4),
        rounds=run.rounds,
        n_discarded=len(run.discarded),
        harvest_failed=harvest_failed,
        warm_seeded=len(seed),
    )
    renderer.materialized = run.blocks
    return renderer.run(run.tree)


def run_fixture_adaptive(
    spark,
    sf_dir: str,
    name: str = "join_events_8",
    cost_model: str = "cm1",
    store=None,
):
    """Mid-query re-optimization (Kabra & DeWitt, SIGMOD'98; LEO,
    VLDB'01) -- the planner-level analog of Spark AQE, on our own cost
    models: :func:`leo_chain` with ONE round.  Plan with the estimating
    oracle, persist and count only the first join, overlay its true
    cardinality, re-plan the remainder with that block pinned, and
    finish reusing it.  Feedback may change the ORDER, never the
    answer.  The observation is one ``count()`` on an intermediate the
    query computes anyway; at 100 TB the persist tier is the executor
    block store (MEMORY_AND_DISK), where AQE's stage statistics live."""
    return _run_leo(spark, sf_dir, name, cost_model, store, rounds=1)


def run_fixture_adaptive_full(
    spark,
    sf_dir: str,
    name: str = "join_events_8",
    cost_model: str = "cm1",
    store=None,
):
    """FULL progressive re-optimization: :func:`leo_chain` until one
    block covers the query -- every join is observed, so every join
    after the first is placed on exact input cardinalities.  The unit
    joins of a bushy plan are materialized concurrently from a small
    thread pool (Spark overlaps the independent jobs) and consumed in
    sequential order; on a left-deep plan each batch is one join."""
    return _run_leo(spark, sf_dir, name, cost_model, store, rounds=None)


def run_fixture_warm(
    spark,
    sf_dir: str,
    name: str = "join_cycle_7",
    cost_model: str = "cm1",
    store=None,
):
    """Cross-query LEO (Stillger et al., VLDB'01 -- the paper's main
    loop): plan with a FeedbackStore's earlier observations overlaid on
    the estimator, then execute STATICALLY -- :func:`leo_chain` with
    zero rounds, so no materialization barriers and no re-planning.
    After one recording pass over the same fixture the store holds the
    true cardinality of every intermediate that pass computed, so the
    warm join order -- first join included, which no within-query
    scheme can correct -- is chosen on exact statistics at no runtime
    overhead: the observation cost is paid once, by the first run."""
    return _run_leo(spark, sf_dir, name, cost_model, store, rounds=0)


def drop_persisted_blocks(spark, sf_dir: str) -> None:
    """Unpersist exactly the blocks the last adaptive run on ``sf_dir``
    persisted, so a follow-up run is a fresh re-execution, not a read of
    live caches."""
    for blk in scope(spark, sf_dir).pop("persisted_blocks", []):
        blk.unpersist(blocking=True)


def run_feedback_warm(spark, sf_dir: str, name: str = "join_cycle_7"):
    """Cross-query LEO feedback: one adaptive pass RECORDS every observed
    cardinality into a FeedbackStore (keys: ``JoinGraph.key_for``), then
    the warm pass re-plans the same fixture from the store -- including
    the first join, which within-query feedback can never correct -- and
    executes statically.  Feedback may change the ORDER, never the
    answer.  The ``"adaptive_split"`` record's ``cold_record_sec`` is the
    recording pass, so bench's assembly remainder is the warm pass alone."""
    from .oracle import FeedbackStore

    store = FeedbackStore()
    t0 = time.monotonic()
    run_fixture_adaptive_full(spark, sf_dir, name, store=store).collect()
    cold_sec = time.monotonic() - t0
    drop_persisted_blocks(spark, sf_dir)
    df = run_fixture_warm(spark, sf_dir, name, store=store)
    sc = scope(spark, sf_dir)
    sc["adaptive_split"] = {
        **sc["adaptive_split"], "cold_record_sec": round(cold_sec, 4)
    }
    return df


def run_feedback_persist(spark, sf_dir: str, name: str = "join_star_4"):
    """FeedbackStore sidecar round trip: an adaptive recording pass SAVES
    its observations to a JSON sidecar tagged with the dataset, a FRESH
    store reloads them and the warm pass plans from the reloaded
    observations -- the query-history statistics service surviving a
    session restart.  A sidecar tagged with other data must load cold."""
    import os

    from .oracle import FeedbackStore
    from .sources import session_state_path

    # one sidecar per (session, sf_dir), removed first so a run never
    # seeds from a previous invocation's observations
    path = session_state_path(spark, sf_dir, "fbstore") + ".json"
    if os.path.exists(path):
        os.remove(path)
    rec = FeedbackStore(path=path, tag=sf_dir)
    run_fixture_adaptive_full(spark, sf_dir, name, store=rec).collect()
    rec.save()
    drop_persisted_blocks(spark, sf_dir)
    assert FeedbackStore(path, tag=sf_dir + "#refreshed").rows == {}
    warm_store = FeedbackStore(path, tag=sf_dir)
    assert warm_store.rows == rec.rows and warm_store.rows
    df = run_fixture_warm(spark, sf_dir, name, store=warm_store)
    assert scope(spark, sf_dir)["adaptive_split"]["warm_seeded"] > 0
    return df


@dataclass(frozen=True)
class Planned:
    """Runner for a fixture planned statically by ``planner``;
    ``oracle(sf_dir)`` replaces the default stats oracle."""

    planner: str
    oracle: Callable[[str], object] | None = None

    def plan(self, sf_dir: str, fixture: str):
        oracle = self.oracle(sf_dir) if self.oracle else None
        return plan_fixture(sf_dir, fixture, planner=self.planner, oracle=oracle)

    def __call__(self, spark, sf_dir: str, fixture: str):
        oracle = self.oracle(sf_dir) if self.oracle else None
        return run_fixture(
            spark, sf_dir, fixture, planner=self.planner, oracle=oracle
        )


# Every join path queries() exposes: query name -> (fixture, runner).
# A runner takes (spark, sf_dir, fixture); its oracle SQL is always
# fixture_oracle_sql(fixture).  Static planners are spread so the gate
# exercises every search strategy (all must agree).  The removal rewrites
# (J11/J12) and outer typing (J14) need true distinct/row metadata, which
# the stats oracle lacks, so those fixtures plan with TrueCountOracle.
# The other runners are lambdas so they look the module function up when
# they run (a wrapper installed on the module attribute still binds).
JOIN_QUERIES: dict[str, tuple[str, Callable]] = {
    "join_chain_3": ("join_chain_3", Planned("greedy")),
    "join_star_4": ("join_star_4", Planned("left_deep")),
    "join_cycle_7": ("join_cycle_7", Planned("dp_ccp")),
    "join_cross_2": ("join_cross_2", Planned("dp_ccp")),
    "join_selfjoin_4": ("join_selfjoin_4", Planned("branch_and_bound")),
    "join_preds_3": ("join_preds_3", Planned("bushy")),
    "join_events_8": ("join_events_8", Planned("dp_ccp")),
    "join_galaxy_10": ("join_galaxy_10", Planned("dp_ccp")),
    "join_group_3": ("join_group_3", Planned("greedy")),
    "join_outer_3": ("join_outer_3", Planned("dp_ccp", true_oracle)),
    "join_outer_mixed_5": ("join_outer_mixed_5", Planned("left_deep", true_oracle)),
    "join_outer_removed": ("join_outer_removed", Planned("greedy", true_oracle)),
    "join_outer_full": ("join_outer_full", Planned("dp_ccp", true_oracle)),
    "join_selfjoin_removed": ("join_selfjoin_removed", Planned("dp_ccp", true_oracle)),
    "join_selfjoin_removed_composite": (
        "join_selfjoin_removed_composite", Planned("greedy", true_oracle)
    ),
    "join_pipeline_5": ("join_pipeline_5", Planned("dp_ccp")),
    # IKKBZ: optimal left-deep by rank, same graph as join_events_8
    "join_ikkbz_events": ("join_events_8", Planned("ikkbz")),
    # the estimation rungs (C11): HLL sketches, hash-sampled counts
    "join_sketch_card": ("join_cycle_7", Planned("dp_ccp", sketch_oracle)),
    "join_sampled_card": (
        "join_cycle_7", Planned("dp_ccp", partial(sampled_oracle, p=0.2))
    ),
    # RL-env (J7): greedy-by-reward agent; REINFORCE trained in-process
    # on the same env (plan_reinforce); the park wire protocol (§2.8);
    # the park cardinality command surface
    "join_env_agent": ("join_cycle_7", lambda *a: run_fixture_via_env_agent(*a)),
    "join_env_learned": ("join_cycle_7", Planned("reinforce")),
    "join_env_wire": ("join_cycle_7", lambda *a: run_fixture_via_wire(*a)),
    "join_park_cards": ("join_star_4", lambda *a: run_fixture_via_park_cards(*a)),
    # J10: left-semi prefiltering of large leaves
    "join_semi_prefilter": ("join_cycle_7", lambda *a: run_fixture_semi_prefilter(*a)),
    # mid-query re-optimization: one observation, then the full LEO loop
    "join_adaptive_reopt": ("join_events_8", lambda *a: run_fixture_adaptive(*a)),
    "join_adaptive_full": ("join_events_8", lambda *a: run_fixture_adaptive_full(*a)),
    "join_adaptive_outer": (
        "join_outer_mixed_5", lambda *a: run_fixture_adaptive_full(*a)
    ),
    # cross-query feedback: in-session store, then a persisted sidecar
    "join_feedback_warm": ("join_cycle_7", lambda *a: run_feedback_warm(*a)),
    "join_feedback_persist": ("join_star_4", lambda *a: run_feedback_persist(*a)),
}


def run_join_query(spark, sf_dir: str, name: str):
    """Run the ``JOIN_QUERIES`` row ``name``: its runner on its fixture."""
    configure_runtime(spark)
    fixture, runner = JOIN_QUERIES[name]
    return runner(spark, sf_dir, fixture)
