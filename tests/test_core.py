"""Fast, Spark-free tests: parser, join graph, oracles, cost models,
planners (incl. DPccp-vs-brute-force equivalence), env."""

import itertools

import pytest

from query_optimizer_spark.costmodels import get_cost_model
from query_optimizer_spark.env import JoinOrderEnv
from query_optimizer_spark.joingraph import (
    Join,
    JoinGraph,
    Leaf,
    bits,
    make_join,
    validate_tree,
)
from query_optimizer_spark.oracle import (
    CardinalityMissError,
    CardinalityOracle,
    TrueCountOracle,
)
from query_optimizer_spark.planners import (
    PLANNERS,
    plan_branch_and_bound,
    plan_dp_ccp,
    plan_greedy,
    plan_left_deep,
    plan_random,
)
from query_optimizer_spark.sqlparse import parse

from .conftest import SF_DIR
from .fixtures import ALL, Q_CHAIN_3, Q_CROSS_2, Q_CYCLE_7


# --- parser ------------------------------------------------------------------


def test_parse_chain3():
    q = parse(Q_CHAIN_3)
    assert [t for t, _ in q.tables] == ["lineitem", "orders", "customer"]
    assert q.aliases == ["l", "o", "c"]
    assert len(q.join_preds) == 2
    assert len(q.filters) == 1
    assert q.select[0].name == "min_price" and q.select[0].agg == "min"


def test_parse_predicates():
    q = parse(
        "SELECT MIN(a.x) AS m FROM t a, u b WHERE a.id = b.id "
        "AND a.x BETWEEN 1 AND 5 AND a.s LIKE 'f%' AND b.y IN (1, 2) "
        "AND b.z IS NOT NULL AND a.w != 3 AND a.d > DATE '1995-01-01'"
    )
    kinds = sorted(p.kind for p in q.filters)
    assert kinds == ["between", "cmp", "cmp", "in", "isnotnull", "like"]
    ops = {p.op for p in q.filters if p.kind == "cmp"}
    assert "<>" in ops  # != rewritten (Query.java:54)
    assert len(q.join_preds) == 1


def test_parse_rejects_order_by_invisible_column():
    with pytest.raises(Exception):
        parse(
            "SELECT a.x AS x FROM t a, u b WHERE a.k = b.k ORDER BY a.y"
        )


def test_parse_truncated_agg_is_parse_error():
    from query_optimizer_spark.sqlparse import ParseError

    with pytest.raises(ParseError):
        parse("SELECT count")


def test_lsh_plane_component_matches_sql_formulas():
    """The helper must agree with both generated SQL formulations
    (spark: 0-based s = p*4096 + d0; duckdb: 1-based d = d0 + 1)."""
    from query_optimizer_spark.functions.constants import (
        LSH_LCG_A,
        LSH_LCG_C,
        LSH_LCG_M,
        lsh_plane_component,
    )

    for p in range(3):
        for d0 in range(5):
            spark_w = (LSH_LCG_A * (p * 4096 + d0) + LSH_LCG_C) % LSH_LCG_M - LSH_LCG_M // 2
            duck_w = (
                LSH_LCG_A * (p * 4096 + (d0 + 1) - 1) + LSH_LCG_C
            ) % LSH_LCG_M - LSH_LCG_M // 2
            assert lsh_plane_component(p, d0) == spark_w == duck_w


@pytest.mark.parametrize("name", sorted(ALL))
def test_parse_sql_roundtrip_stable(name):
    """parse -> query_to_sql -> parse is a fixed point: the rendered SQL
    re-parses to an identical structure (oracle text generation cannot
    drift from the planner's view of the query)."""
    from query_optimizer_spark.executor import query_to_sql

    q1 = parse(ALL[name])
    sql1 = query_to_sql(q1)
    q2 = parse(sql1)
    assert query_to_sql(q2) == sql1
    assert q2.aliases == q1.aliases
    assert len(q2.join_preds) == len(q1.join_preds)
    assert len(q2.filters) == len(q1.filters)


def test_parse_rejects_or():
    with pytest.raises(Exception):
        parse("SELECT MIN(a.x) AS m FROM t a WHERE a.x = 1 OR a.x = 2")


# --- join graph --------------------------------------------------------------


def graph_of(sql: str) -> JoinGraph:
    return JoinGraph.from_query(parse(sql))


def test_graph_cycle7():
    g = graph_of(Q_CYCLE_7)
    assert g.n == 7
    assert len(g.edges) == 6
    assert g.connected(g.all_factors)
    assert g.components() == [g.all_factors]
    # self-join aliases are distinct factors
    assert "n1" in g.aliases and "n2" in g.aliases


def test_graph_disconnected():
    g = graph_of(Q_CROSS_2)
    assert not g.connected(g.all_factors)
    assert len(g.components()) == 2


def test_edge_merging():
    g = graph_of(
        "SELECT MIN(a.x) AS m FROM t a, u b "
        "WHERE a.id = b.id AND a.k = b.k"
    )
    assert len(g.edges) == 1  # merged (QueryGraph.java:151-165)
    assert len(g.edges[0].preds) == 2


def test_oracle_keys():
    g = graph_of(Q_CHAIN_3)
    assert g.key_for(0b001) == "l=lineitem|l_quantity>30"
    assert g.key_for(0b010) == "o=orders"
    assert g.key_for(0b111) == (
        "c=customer,l=lineitem|l_quantity>30,o=orders"
        "||l_orderkey=o.o_orderkey&o_custkey=c.c_custkey"
    )


def test_oracle_keys_distinguish_queries():
    """Keys must not collide across queries sharing an oracle: same
    aliases, different tables or join predicates -> different keys."""
    g1 = graph_of("SELECT MIN(a.x) AS m FROM t1 a, t2 b WHERE a.k = b.k")
    g2 = graph_of("SELECT MIN(a.x) AS m FROM t3 a, t4 b WHERE a.k = b.k")
    g3 = graph_of("SELECT MIN(a.x) AS m FROM t1 a, t2 b WHERE a.j = b.j")
    keys = {g.key_for(0b11) for g in (g1, g2, g3)}
    assert len(keys) == 3


# --- oracles -----------------------------------------------------------------


@pytest.fixture(scope="module")
def true_oracle():
    return TrueCountOracle(SF_DIR)


def test_true_counts(true_oracle):
    g = graph_of(Q_CHAIN_3)
    assert true_oracle.card(g, 0b010) == 1500.0  # orders @ sf0.001
    filtered_l = true_oracle.card(g, 0b001)
    assert 0 < filtered_l < 6000
    joined = true_oracle.card(g, 0b111)
    assert 0 < joined <= filtered_l  # FK join keeps <= lineitem rows


def test_injected_oracle_miss():
    g = graph_of(Q_CHAIN_3)
    oracle = CardinalityOracle({"o": 10})
    with pytest.raises(CardinalityMissError):
        oracle.card(g, 0b001)


def test_perturbed_deterministic(true_oracle):
    g = graph_of(Q_CHAIN_3)
    true_oracle.precompute_all_connected(g)
    p1 = true_oracle.snapshot().perturbed(seed=7)
    p2 = true_oracle.snapshot().perturbed(seed=7)
    assert p1.cards == p2.cards
    assert p1.cards != true_oracle.cards


# --- cost models -------------------------------------------------------------


def test_cost_models_basic(true_oracle):
    g = graph_of(Q_CHAIN_3)
    l, o, c = Leaf(0, "l"), Leaf(1, "o"), Leaf(2, "c")
    tree = make_join(g, make_join(g, l, o), c)
    validate_tree(g, tree)
    for name in ("cm1", "cm2", "mm"):
        cm = get_cost_model(name)
        cost = cm.cumulative(g, tree, true_oracle)
        assert cost > 0
    # mm: index-NLJ eligible only when right side is a base leaf
    cm = get_cost_model("mm")
    j = make_join(g, l, o)
    left_card = true_oracle.card(g, l.factors)
    right_card = true_oracle.card(g, o.factors)
    assert cm.node_cost(g, j, true_oracle) == min(
        left_card + right_card, 2 * left_card
    )


# --- planners ---------------------------------------------------------------


def brute_force_best(graph, oracle, cm):
    """Optimal bushy tree WITHOUT cross products: both halves of every
    split must be connected and joined by an edge -- the same space DPccp
    enumerates (Moerkotte & Neumann; the reference's ExhaustiveDP has the
    same restriction)."""
    best = {}

    def rec(s):
        if s in best:
            return best[s]
        if bin(s).count("1") == 1:
            i = next(bits(s))
            leaf = Leaf(i, graph.aliases[i])
            best[s] = (cm.node_cost(graph, leaf, oracle), leaf)
            return best[s]
        out = None
        sub = (s - 1) & s
        while sub:
            other = s & ~sub
            if (
                other
                and sub < other  # each split once
                and graph.connected(sub)
                and graph.connected(other)
                and graph.edges_between(sub, other)
            ):
                c1, t1 = rec(sub)
                c2, t2 = rec(other)
                for lft, rgt in ((t1, t2), (t2, t1)):
                    tree = make_join(graph, lft, rgt)
                    cost = c1 + c2 + cm.node_cost(graph, tree, oracle)
                    if out is None or cost < out[0]:
                        out = (cost, tree)
            sub = (sub - 1) & s
        best[s] = out
        return out

    return rec(graph.all_factors)[0]


@pytest.mark.parametrize("name", sorted(ALL))
@pytest.mark.parametrize("cm_name", ["cm1", "mm", "cm2"])
def test_planners_valid_and_dpccp_optimal(name, cm_name, true_oracle):
    g = graph_of(ALL[name])
    cm = get_cost_model(cm_name)
    oracle = true_oracle
    results = {}
    for pname, fn in PLANNERS.items():
        res = fn(g, oracle, cm)
        if res is None:
            continue
        validate_tree(g, res.tree)
        results[pname] = res
    dp = results["dp_ccp"]
    # DP is the optimum oracle: no planner beats it (FIXTURES.md invariant)
    for pname, res in results.items():
        assert dp.cost <= res.cost + 1e-6, (
            f"{pname} beat dp_ccp on {name}/{cm_name}"
        )
    if g.connected(g.all_factors):
        bf = brute_force_best(g, oracle, cm)
        assert abs(dp.cost - bf) < 1e-6


def test_single_table_query(true_oracle):
    """Degenerate graph: one relation, no joins -- every planner returns
    the bare leaf."""
    g = graph_of("SELECT MIN(a.o_totalprice) AS m FROM orders a WHERE a.o_totalprice > 1000")
    cm = get_cost_model("cm1")
    for name, fn in PLANNERS.items():
        res = fn(g, true_oracle, cm)
        if res is None:
            continue
        assert res.tree.factors == 1
        assert res.order_str() == "a"


def test_random_planner_seeded(true_oracle):
    g = graph_of(Q_CYCLE_7)
    cm = get_cost_model("cm1")
    r1 = plan_random(g, true_oracle, cm, seed=3)
    r2 = plan_random(g, true_oracle, cm, seed=3)
    assert r1.order_str() == r2.order_str()


def test_bnb_guard():
    # build a 12-edge synthetic graph -> guard returns None
    aliases = [f"t{i}" for i in range(13)]
    sql = (
        "SELECT MIN(t0.x) AS m FROM "
        + ", ".join(f"tab {a}" for a in aliases)
        + " WHERE "
        + " AND ".join(f"t{i}.k = t{i + 1}.k" for i in range(12))
    )
    g = graph_of(sql)
    cm = get_cost_model("cm1")
    oracle = CardinalityOracle({})
    assert plan_branch_and_bound(g, oracle, cm) is None


# --- env ---------------------------------------------------------------------


def test_env_episode(true_oracle):
    g = graph_of(Q_CHAIN_3)
    cm = get_cost_model("cm1")
    env = JoinOrderEnv(g, true_oracle, cm)
    state = env.reset()
    assert len(state["vertices"]) == 3
    assert len(state["edges"]) == 2
    total_reward = 0.0
    steps = 0
    while not env.done:
        actions = env.actions()
        assert actions
        state, reward, done, info = env.step(actions[0])
        assert reward <= 0  # reward = -cost (C10)
        total_reward += reward
        steps += 1
    assert steps == 2
    plan = env.final_plan()
    validate_tree(g, plan)
    assert abs(-total_reward - env.cost_so_far) < 1e-9
    # cost parity with a directly-built tree of the same shape
    assert env.cost_so_far > 0


def test_env_cross_join_fallback(true_oracle):
    g = graph_of(Q_CROSS_2)
    cm = get_cost_model("cm1")
    env = JoinOrderEnv(g, true_oracle, cm)
    env.reset()
    assert env.live_edges == []
    acts = env.actions()
    assert acts == [0]  # one cross-join action
    _, _, done, _ = env.step(0)
    assert done
    validate_tree(g, env.final_plan())


def test_env_greedy_agent_matches_greedy_costs(true_oracle):
    """A scripted greedy-by-reward agent completes episodes and its cost is
    >= dp_ccp's optimum."""
    g = graph_of(Q_CYCLE_7)
    cm = get_cost_model("cm1")
    env = JoinOrderEnv(g, true_oracle, cm)
    env.reset()
    while not env.done:
        best_a, best_r = None, None
        for a in env.actions():
            # peek: evaluate each action's immediate cost
            va, vb = (
                env.live_edges[a]
                if env.live_edges
                else (env.live_ids()[0], env.live_ids()[a + 1])
            )
            na, nb = env.vertices[va].node, env.vertices[vb].node
            j = make_join(g, na, nb)
            r = -cm.node_cost(g, j, true_oracle)
            if best_r is None or r > best_r:
                best_a, best_r = a, r
        env.step(best_a)
    dp = plan_dp_ccp(g, true_oracle, cm)
    assert env.cost_so_far >= dp.cost - sum(
        cm.node_cost(g, Leaf(i, a), true_oracle)
        for i, a in enumerate(g.aliases)
    ) - 1e-6


# --- overlay feedback (LEO adjustment propagation) ---------------------------


def test_overlay_exact_and_propagation():
    """OverlayOracle: observed masks return verbatim; unobserved
    SUPERSETS scale by the observed/est ratio of a greedy maximal
    disjoint family of observed subsets, largest-first (LEO, VLDB'01
    sec 3.2); non-supersets are untouched; propagate=False restores the
    exact-mask-only overlay."""
    from query_optimizer_spark.oracle import OverlayOracle

    g = graph_of("SELECT MIN(a.x) AS m FROM t1 a, t2 b, t3 c "
                 "WHERE a.k = b.k AND b.j = c.j")
    base = CardinalityOracle({
        g.key_for(0b001): 100.0,
        g.key_for(0b010): 200.0,
        g.key_for(0b100): 300.0,
        g.key_for(0b011): 1000.0,
        g.key_for(0b110): 2000.0,
        g.key_for(0b111): 10000.0,
    })
    # auto mode resolves from the base estimator's declared error
    # model: a plain injected oracle does not propagate
    assert OverlayOracle(base, {}).propagate is False

    # one leaf observed 10x below estimate
    ov = OverlayOracle(base, {0b001: 10.0}, propagate=True)
    assert ov.card(g, 0b001) == 10.0                  # exact hit
    assert ov.card(g, 0b011) == pytest.approx(100.0)  # 1000 * 0.1
    assert ov.card(g, 0b111) == pytest.approx(1000.0)
    assert ov.card(g, 0b010) == 200.0                 # not a superset
    assert ov.card(g, 0b110) == 2000.0

    # disjoint observed leaves multiply their adjustments
    ov2 = OverlayOracle(base, {0b001: 10.0, 0b010: 400.0}, propagate=True)
    assert ov2.card(g, 0b011) == pytest.approx(1000.0 * 0.1 * 2.0)
    assert ov2.card(g, 0b111) == pytest.approx(10000.0 * 0.1 * 2.0)

    # the largest observed subset wins; overlapped smaller ones are
    # skipped (most-specific correction, like LEO's longest match)
    ov3 = OverlayOracle(base, {0b011: 5000.0, 0b001: 10.0}, propagate=True)
    assert ov3.card(g, 0b111) == pytest.approx(10000.0 * 5.0)

    # per-factor clamp at 64x
    ov4 = OverlayOracle(base, {0b001: 100.0 * 1000}, propagate=True)
    assert ov4.card(g, 0b011) == pytest.approx(1000.0 * 64.0)

    # propagation off -> pure exact-mask overlay
    ov5 = OverlayOracle(base, {0b001: 10.0}, propagate=False)
    assert ov5.card(g, 0b001) == 10.0
    assert ov5.card(g, 0b011) == 1000.0


def test_overlay_adjustment_cache_invalidates_on_reobservation():
    """The adjustment cache must invalidate on an IN-PLACE
    re-observation -- same dict length, changed value (e.g. a
    store-seeded mask re-recorded after the data refreshed).  A cache
    keyed on len(observed) served stale ratios here (r7 ADVICE,
    oracle.py:553); the version-counter key may not."""
    from query_optimizer_spark.oracle import OverlayOracle

    g = graph_of("SELECT MIN(a.x) AS m FROM t1 a, t2 b, t3 c "
                 "WHERE a.k = b.k AND b.j = c.j")
    base = CardinalityOracle({
        g.key_for(0b001): 100.0,
        g.key_for(0b010): 200.0,
        g.key_for(0b100): 300.0,
        g.key_for(0b011): 1000.0,
        g.key_for(0b110): 2000.0,
        g.key_for(0b111): 10000.0,
    })
    ov = OverlayOracle(base, {0b001: 10.0}, propagate=True)
    # plan-time call populates the adjustment cache (ratio 0.1)
    assert ov.card(g, 0b011) == pytest.approx(100.0)
    # overwrite the SAME mask with a different true count: len() is
    # unchanged, so the old cache key would still match
    ov.observed[0b001] = 50.0
    assert ov.card(g, 0b011) == pytest.approx(500.0)
    # deletion invalidates too
    del ov.observed[0b001]
    assert ov.card(g, 0b011) == 1000.0
    # update() path (the workload's bulk-harvest write)
    ov.observed.update({0b010: 400.0})
    assert ov.card(g, 0b011) == pytest.approx(2000.0)


def test_feedback_store_full_seed_recovers_optimum(true_oracle):
    """Planning-level warm-start guarantee: with a FeedbackStore that
    has observed EVERY connected subset, the warm re-plan under an
    arbitrarily wrong estimator is exactly the true-cardinality
    optimum -- the store, not the estimator, decides."""
    from query_optimizer_spark.costmodels import get_cost_model
    from query_optimizer_spark.oracle import FeedbackStore, OverlayOracle
    from query_optimizer_spark.planners import PLANNERS

    g = graph_of(Q_CYCLE_7)
    true_oracle.precompute_all_connected(g)
    cm = get_cost_model("cm1")
    store = FeedbackStore()
    for m in range(1, 1 << g.n):
        if g.connected(m):
            store.record(g, m, true_oracle.card(g, m))
    est = true_oracle.snapshot().perturbed(seed=3, max_factor=64)
    warm = OverlayOracle(est, store.seed(g))
    res_warm = PLANNERS["dp_ccp"](g, warm, cm)
    res_true = PLANNERS["dp_ccp"](g, true_oracle, cm)
    assert repr(res_warm.tree) == repr(res_true.tree)
    assert res_warm.cost == res_true.cost
