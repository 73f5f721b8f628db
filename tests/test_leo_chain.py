"""The LEO decision chain (``workload.leo_chain``) against an inline copy
of the sequential observe -> re-plan loop, on every fixture graph, with
observations answered by the true oracle.  Spark-free: the chain is pure
Python, and the Spark runners only supply its ``observe``."""

import pytest

from query_optimizer_spark.costmodels import get_cost_model
from query_optimizer_spark.joingraph import Leaf, bits
from query_optimizer_spark.oracle import (
    FeedbackStore,
    OverlayOracle,
    TrueCountOracle,
)
from query_optimizer_spark.planners import PLANNERS, plan_with_materialized
from query_optimizer_spark.workload import (
    FIXTURES,
    _attributable_leaves,
    _next_unit_join,
    _subtree_of,
    leo_chain,
    plan_fixture,
    stats_oracle,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def truth():
    return TrueCountOracle(SF_DIR)


def leaf_rows(graph, truth, block):
    """True rows of each leaf whose base table occurs once in ``block``."""
    by_table: dict[str, list[int]] = {}
    for i in bits(block):
        by_table.setdefault(graph.tables[graph.aliases[i]], []).append(i)
    return {
        1 << v[0]: truth.card(graph, 1 << v[0])
        for v in by_table.values()
        if len(v) == 1
    }


def sequential(graph, overlay, cm, tree, truth, store, rounds):
    """One join at a time: materialize ``_next_unit_join``, observe it and
    its attributable leaves, record, re-plan around the live blocks.
    Returns (final tree, {mask: (left mask, right mask)}, rounds)."""
    built: dict[int, tuple] = {}
    done = 0
    while rounds is None or done < rounds:
        nxt = _next_unit_join(tree, built)
        if nxt is None:
            break
        fresh = {nxt.factors: truth.card(graph, nxt.factors)}
        fresh.update(leaf_rows(graph, truth, nxt.factors))
        overlay.observed.update(fresh)
        for m, rows in fresh.items():
            store.record(graph, m, rows)
        done += 1
        built[nxt.factors] = (nxt.left.factors, nxt.right.factors)
        if nxt.factors == graph.all_factors:
            break
        live = [
            _subtree_of(tree, f) for f in built
            if not any(o != f and (f & o) == f for o in built)
        ]
        tree = plan_with_materialized(graph, overlay, cm, live).tree
    return tree, built, done


def estimator(kind, graph, truth):
    if kind == "stats":
        return stats_oracle(SF_DIR)
    truth.precompute_all_connected(graph)
    return truth.snapshot().perturbed(seed=1, max_factor=8)


@pytest.mark.parametrize("est_kind", ["stats", "perturb_x8"])
@pytest.mark.parametrize("rounds", [1, None], ids=["reopt", "full"])
@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_chain_matches_sequential_loop(name, rounds, est_kind, truth):
    graph = plan_fixture(SF_DIR, name)[0]
    est = estimator(est_kind, graph, truth)
    cm = get_cost_model("cm1")

    tree = PLANNERS["dp_ccp"](graph, est, cm).tree
    ref_overlay, ref_store = OverlayOracle(est, {}), FeedbackStore()
    ref_tree, ref_built, ref_rounds = sequential(
        graph, ref_overlay, cm, tree, truth, ref_store, rounds
    )

    budget = len(graph.aliases) - 1 if rounds is None else rounds
    asked = []

    def observe(units, blocks):
        # a batch never holds more unit joins than rounds remain, and
        # every child of a unit is a leaf or an already-observed block
        assert 0 < len(units) <= budget - len(blocks)
        for u in units:
            for c in (u.left, u.right):
                assert isinstance(c, Leaf) or c.factors in blocks
        asked.extend(units)
        return [
            (
                (u.left.factors, u.right.factors),
                truth.card(graph, u.factors),
                leaf_rows(graph, truth, u.factors),
            )
            for u in units
        ]

    overlay, store = OverlayOracle(est, {}), FeedbackStore()
    run = leo_chain(graph, overlay, cm, tree, observe, store, rounds)

    assert repr(run.tree) == repr(ref_tree)
    assert list(overlay.observed.items()) == list(ref_overlay.observed.items())
    assert run.rounds == ref_rounds
    # every consumed block was built from the sequential loop's children
    assert run.blocks == ref_built
    assert list(run.blocks) == list(ref_built)
    assert store.rows == ref_store.rows
    assert len(asked) == run.rounds + len(run.discarded)
    if rounds == 1:
        assert run.discarded == []


def test_zero_rounds_observes_nothing(truth):
    graph, est, res = plan_fixture(SF_DIR, "join_events_8")
    overlay = OverlayOracle(est, {})

    def observe(units, blocks):
        raise AssertionError("a zero-round chain must not observe")

    run = leo_chain(
        graph, overlay, get_cost_model("cm1"), res.tree, observe, rounds=0
    )
    assert run.tree is res.tree
    assert (run.rounds, run.blocks, run.discarded) == (0, {}, [])
    assert dict(overlay.observed) == {}


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_attributable_leaves_rule(name):
    """A leaf of a block is observable only when its base table appears
    once among the block's leaves -- over every factor subset."""
    graph = plan_fixture(SF_DIR, name)[0]
    for block in range(1, 1 << graph.n):
        tables = [graph.tables[graph.aliases[i]] for i in bits(block)]
        expect = {
            1 << i: t
            for i, t in zip(bits(block), tables)
            if tables.count(t) == 1
        }
        assert _attributable_leaves(graph, block) == expect
