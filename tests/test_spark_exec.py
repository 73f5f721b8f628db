"""End-to-end Spark execution tests: every planner's DataFrame result
hash-equals spark.sql(original) and the DuckDB oracle (FIXTURES.md golden
verification; reference analog Query.verifyResults, Query.java:71-80)."""

import hashlib

import pytest

from query_optimizer_spark.costmodels import get_cost_model
from query_optimizer_spark.env import JoinOrderEnv
from query_optimizer_spark.executor import (
    Renderer,
    execute_plan,
    physical_plan,
    query_to_sql,
)
from query_optimizer_spark.harness import (
    compare_oracles,
    result_hash,
    run_query,
)
from query_optimizer_spark.joingraph import JoinGraph
from query_optimizer_spark.oracle import TrueCountOracle
from query_optimizer_spark.planners import PLANNERS
from query_optimizer_spark.sqlparse import parse

from .conftest import SF_DIR
from .fixtures import ALL


@pytest.fixture(scope="module")
def oracle():
    return TrueCountOracle(SF_DIR)


def duck_hash(duck, sql):
    pdf = duck.execute(sql).fetchdf()
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    acc = 0
    for row in pdf.itertuples(index=False, name=None):
        canon = []
        for v in row:
            if v is None or v != v:
                canon.append("NULL")
            elif isinstance(v, float):
                # fold IEEE -0.0 to +0.0, mirroring harness._canon
                canon.append(f"{v + 0.0:.6g}" if v == 0 else f"{v:.6g}")
            else:
                canon.append(str(v))
        s = "|".join(canon)
        acc = (acc + int.from_bytes(hashlib.md5(s.encode()).digest(), "big")) % (
            1 << 128
        )
    return len(pdf), f"{acc:032x}"


@pytest.mark.parametrize("name", sorted(ALL))
def test_all_planners_match_duckdb(name, spark, duck, oracle):
    sql = ALL[name]
    q = parse(sql)
    graph = JoinGraph.from_query(q)
    cm = get_cost_model("cm1")
    ansi = query_to_sql(q)
    expected = duck_hash(duck, ansi)
    for pname, fn in PLANNERS.items():
        res = fn(graph, oracle, cm)
        if res is None:
            continue
        df = execute_plan(spark, SF_DIR, graph, res.tree, oracle)
        got = result_hash(df)
        assert got == expected, f"{pname} mismatch on {name}"
    # spark.sql baseline agrees too
    from query_optimizer_spark.catalog import Catalog

    Catalog(spark, SF_DIR)
    assert result_hash(spark.sql(ansi)) == expected


def test_env_plan_executes(spark, duck, oracle):
    sql = ALL["q_chain_3"]
    q = parse(sql)
    graph = JoinGraph.from_query(q)
    cm = get_cost_model("cm1")
    env = JoinOrderEnv(graph, oracle, cm, seed=1)
    env.reset()
    env.finish_random()
    df = execute_plan(spark, SF_DIR, graph, env.final_plan(), oracle)
    assert result_hash(df) == duck_hash(duck, query_to_sql(q))


def test_plan_order_preserved(spark, oracle):
    """Catalyst must not reorder our explicit join chain: with the
    default config (CBO off) the physical plan joins in planner order
    (SURVEY §4.1 central simplification)."""
    sql = ALL["q_cycle_7"]
    graph = JoinGraph.from_query(parse(sql))
    cm = get_cost_model("cm1")
    res = PLANNERS["dp_ccp"](graph, oracle, cm)
    df = execute_plan(spark, SF_DIR, graph, res.tree, oracle)
    plan = physical_plan(df, "formatted")
    assert "Join" in plan
    # every scan appears once per alias usage: nation read twice (n1, n2)
    assert plan.count("nation.parquet") == 2


def test_filter_pushdown_reaches_scan(spark, oracle):
    """Leaf filters must reach the parquet scan (PushedFilters) and the
    scan must read only needed columns (ReadSchema pruning)."""
    graph = JoinGraph.from_query(parse(ALL["q_chain_3"]))
    cm = get_cost_model("cm1")
    res = PLANNERS["dp_ccp"](graph, oracle, cm)
    df = execute_plan(spark, SF_DIR, graph, res.tree, oracle)
    plan = physical_plan(df, "formatted")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan.replace("\n", "") or (
        "GreaterThan(l_quantity,30" in plan
    )
    # lineitem scan reads only the 3 needed columns
    for line in plan.splitlines():
        if "lineitem" in line and "ReadSchema" in line:
            assert "l_extendedprice" not in line


def test_run_query_harness(spark, oracle):
    rec = run_query(
        spark,
        SF_DIR,
        "q_chain_3",
        ALL["q_chain_3"],
        oracle,
        reps=1,
    )
    assert rec.verify_results()
    assert rec.costs["dp_ccp"] <= rec.costs["greedy"] + 1e-6
    assert rec.result_hashes["spark_default"] == rec.result_hashes["dp_ccp"]
    assert all(len(v) == 1 for v in rec.runtimes_ms.values())


def test_compare_oracles_harness(oracle):
    queries = {k: ALL[k] for k in ("q_chain_3", "q_star_4")}
    for name, sql in queries.items():
        graph = JoinGraph.from_query(parse(sql))
        oracle.precompute_all_connected(graph)
    est = oracle.snapshot().perturbed(seed=11)
    out = compare_oracles(queries, est, oracle)
    for name, (est_cost_true, opt_true) in out.items():
        assert est_cost_true >= opt_true - 1e-6  # est plan can't beat optimum


def test_galaxy_10_planners_agree(spark):
    """10-relation enumeration stress: DPccp, greedy, and IKKBZ must
    hash-agree on the largest fixture graph, and the exhaustive plan
    can't cost more than the heuristics' plans."""
    from query_optimizer_spark.costmodels import get_cost_model
    from query_optimizer_spark.workload import (
        FIXTURES,
        run_fixture,
        stats_oracle,
    )

    graph = JoinGraph.from_query(parse(FIXTURES["join_galaxy_10"]))
    assert graph.n == 10
    oracle = stats_oracle(SF_DIR)
    cm = get_cost_model("cm1")
    costs = {
        p: PLANNERS[p](graph, oracle, cm).cost
        for p in ("dp_ccp", "greedy", "ikkbz", "left_deep")
    }
    assert costs["dp_ccp"] == min(costs.values()), costs
    hashes = {
        p: result_hash(run_fixture(spark, SF_DIR, "join_galaxy_10", planner=p))
        for p in ("dp_ccp", "greedy", "ikkbz")
    }
    assert len(set(hashes.values())) == 1, hashes


def test_scan_observations_harvest(spark, oracle):
    """Leaf feedback for the LEO loop: after a block executes,
    _scan_observations reads post-filter per-scan row counts from the
    executed plan's operator metrics -- they must equal the true
    oracle's leaf cardinalities exactly (the metric IS a count, not an
    estimate), and a base table scanned for TWO aliases (self-join)
    must be excluded because the two scans cannot be attributed."""
    from query_optimizer_spark.joingraph import bits
    from query_optimizer_spark.workload import (
        _next_unit_join,
        _scan_observations,
        plan_fixture,
    )

    graph, est, res = plan_fixture(SF_DIR, "join_events_8")
    first = _next_unit_join(res.tree, {})
    block = Renderer(spark, SF_DIR, graph, est).render(first).persist()
    try:
        block.count()
        obs = _scan_observations(graph, block, first.factors)
        # every singly-occurring base table of the block is observed
        by_table: dict[str, list[int]] = {}
        for i in bits(first.factors):
            by_table.setdefault(graph.tables[graph.aliases[i]], []).append(i)
        expect = {1 << v[0] for v in by_table.values() if len(v) == 1}
        assert set(obs) == expect
        for mask, rows in obs.items():
            assert rows == oracle.card(graph, mask)
    finally:
        block.unpersist()

    # self-join graph: nation appears twice -> neither nation alias may
    # be attributed; customer and supplier (unique) must be
    graph2, est2, res2 = plan_fixture(SF_DIR, "join_selfjoin_4")
    full = Renderer(spark, SF_DIR, graph2, est2).render(res2.tree).persist()
    try:
        full.count()
        obs2 = _scan_observations(graph2, full, graph2.all_factors)
        nation_masks = {
            1 << i
            for i, a in enumerate(graph2.aliases)
            if graph2.tables[a] == "nation"
        }
        assert len(nation_masks) == 2
        assert not (set(obs2) & nation_masks)
        for mask, rows in obs2.items():
            assert rows == oracle.card(graph2, mask)
        assert obs2  # customer + supplier harvested
    finally:
        full.unpersist()


def test_feedback_store_warm_rerun(spark, oracle):
    """Cross-query LEO: an adaptive pass RECORDS observed cardinalities
    into a FeedbackStore under canonical keys; a warm re-plan of the
    same fixture seeds from the store (including the first join -- the
    one no within-query scheme can fix) and must hash-match both the
    cold result and the static planner.  Keys are canonical across
    graph INSTANCES: a freshly parsed graph seeds the same masks."""
    from query_optimizer_spark.joingraph import JoinGraph
    from query_optimizer_spark.oracle import FeedbackStore
    from query_optimizer_spark.sqlparse import parse as parse_sql
    from query_optimizer_spark.workload import (
        FIXTURES,
        run_fixture,
        run_fixture_adaptive_full,
        run_fixture_warm,
    )

    store = FeedbackStore()
    cold = run_fixture_adaptive_full(
        spark, SF_DIR, "join_cycle_7", store=store
    )
    n_cold, h_cold = result_hash(cold)
    # 6 unit joins + at least the uniquely-attributable leaves
    assert len(store.rows) >= 7

    # every stored value is the TRUE cardinality of its subset
    g = JoinGraph.from_query(parse_sql(FIXTURES["join_cycle_7"]))
    seeded = store.seed(g)
    assert seeded  # a fresh graph instance translates the same keys
    for mask, rows in seeded.items():
        assert rows == oracle.card(g, mask)

    warm = run_fixture_warm(spark, SF_DIR, "join_cycle_7", store=store)
    n_warm, h_warm = result_hash(warm)
    n_static, h_static = result_hash(run_fixture(spark, SF_DIR, "join_cycle_7"))
    assert (n_warm, h_warm) == (n_cold, h_cold) == (n_static, h_static)

    # persistence roundtrip
    import tempfile, os

    path = os.path.join(tempfile.mkdtemp(), "fb.json")
    store.path = path
    store.tag = SF_DIR
    store.save()
    again = FeedbackStore(path, tag=SF_DIR)
    assert again.rows == store.rows
    # a store persisted against OTHER data must not seed this one
    stale = FeedbackStore(path, tag="/some/other/sf_dir")
    assert stale.rows == {}

    # a DIFFERENT query seeds only what it shares with the store --
    # and anything it does seed is that graph's own true cardinality
    g2 = JoinGraph.from_query(parse_sql(FIXTURES["join_star_4"]))
    for mask, rows in store.seed(g2).items():
        assert rows == oracle.card(g2, mask)


def test_adaptive_concurrent_observe_matches_sequential(spark):
    """The r16 concurrent-observe scheduling of the full LEO loop (all
    of the current tree's unit joins materialized from a thread pool,
    consumed strictly sequentially) must record EXACTLY the sequential
    loop's statistics: same observation masks, same true cardinalities,
    same round count, same result.  The sequential reference is
    re-implemented inline -- materialize ``_next_unit_join``, observe,
    re-plan, repeat -- so a scheduling bug that consumed a
    differently-constructed speculative block (different children =
    different freshly-executed scans = different leaf observations)
    fails loudly here."""
    from query_optimizer_spark.costmodels import get_cost_model
    from query_optimizer_spark.oracle import FeedbackStore, OverlayOracle
    from query_optimizer_spark.planners import plan_with_materialized
    from query_optimizer_spark.state import evidence
    from query_optimizer_spark.workload import (
        _MaterializedRenderer,
        _next_unit_join,
        _scan_observations,
        _subtree_of,
        drop_persisted_blocks,
        plan_fixture,
        run_fixture_adaptive_full,
    )

    def sequential(name, store):
        graph, est, res = plan_fixture(SF_DIR, name, planner="dp_ccp")
        cm = get_cost_model("cm1")
        overlay = OverlayOracle(est, {})
        mat, tree = {}, res.tree
        full = (1 << len(graph.aliases)) - 1
        r = _MaterializedRenderer(spark, SF_DIR, graph, overlay)
        r.materialized = mat
        blocks, rounds = [], 0
        while True:
            nxt = _next_unit_join(tree, mat)
            if nxt is None:
                break
            block = r.render(nxt).persist()
            blocks.append(block)
            fresh = {nxt.factors: float(block.count())}
            fresh.update(_scan_observations(graph, block, nxt.factors))
            overlay.observed.update(fresh)
            for m, rows in fresh.items():
                store.record(graph, m, rows)
            rounds += 1
            mat[nxt.factors] = block
            if nxt.factors == full:
                break
            live = [
                _subtree_of(tree, f) for f in mat
                if not any(o != f and (f & o) == f for o in mat)
            ]
            tree = plan_with_materialized(graph, overlay, cm, live).tree
        out = sorted(map(tuple, r.finish(mat[full]).collect()))
        for b in blocks:
            b.unpersist(blocking=True)
        return out, rounds

    # one bushy fixture (several unit joins per tree -- real
    # speculation) and one left-deep one (batch size 1 -- degenerates
    # to the sequential loop)
    for name in ("join_events_8", "join_star_4"):
        s_seq, s_conc = FeedbackStore(), FeedbackStore()
        rows_seq, rounds_seq = sequential(name, s_seq)
        df = run_fixture_adaptive_full(spark, SF_DIR, name, store=s_conc)
        rows_conc = sorted(map(tuple, df.collect()))
        drop_persisted_blocks(spark, SF_DIR)
        assert rows_conc == rows_seq, name
        assert s_conc.rows == s_seq.rows, name
        assert evidence(spark, SF_DIR, "adaptive_split")["rounds"] == rounds_seq, name


def test_leo_observe_job_counts(spark):
    """Spark jobs each LEO runner starts before its action, with the
    tables already resolved.  The re-opt runner observes exactly one
    block (one persist + count(); its adaptive stages are 4 jobs) and no
    speculative sibling; the full loop starts the 28 jobs its concurrent
    observe has always started on join_events_8; the warm runner,
    planning from a recorded store, starts none."""
    from query_optimizer_spark.oracle import FeedbackStore
    from query_optimizer_spark.state import evidence
    from query_optimizer_spark.workload import (
        drop_persisted_blocks,
        run_fixture_adaptive,
        run_fixture_adaptive_full,
        run_fixture_warm,
    )

    sc = spark.sparkContext

    def jobs_before_action(run, tag):
        run().count()  # resolve every table first
        drop_persisted_blocks(spark, SF_DIR)
        group = f"leo-observe-{tag}"
        sc.setJobGroup(group, "LEO observe jobs")
        try:
            df = run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        split = evidence(spark, SF_DIR, "adaptive_split")
        df.count()
        drop_persisted_blocks(spark, SF_DIR)
        return n, split

    n, split = jobs_before_action(
        lambda: run_fixture_adaptive(spark, SF_DIR, "join_events_8"), "reopt"
    )
    assert (split["rounds"], split["n_discarded"]) == (1, 0)
    assert n == 4
    n, split = jobs_before_action(
        lambda: run_fixture_adaptive_full(spark, SF_DIR, "join_events_8"),
        "full",
    )
    assert split["rounds"] == 7 and split["harvest_failed"] == 0
    assert n == 28
    store = FeedbackStore()
    run_fixture_adaptive_full(spark, SF_DIR, "join_cycle_7", store=store).count()
    drop_persisted_blocks(spark, SF_DIR)
    n, split = jobs_before_action(
        lambda: run_fixture_warm(spark, SF_DIR, "join_cycle_7", store=store),
        "warm",
    )
    assert split["rounds"] == 0 and split["warm_seeded"] > 0
    assert n == 0
