"""Agents over the env loop; sources/sinks; salted join equivalence."""

import pytest
from pyspark.sql import functions as F, types as T

from query_optimizer_spark.agents import GreedyRewardAgent, RandomAgent, run_episode
from query_optimizer_spark.costmodels import get_cost_model
from query_optimizer_spark.env import JoinOrderEnv
from query_optimizer_spark.harness import result_hash
from query_optimizer_spark.joingraph import JoinGraph
from query_optimizer_spark.oracle import TrueCountOracle
from query_optimizer_spark.planners import plan_dp_ccp
from query_optimizer_spark.skew import salted_join
from query_optimizer_spark.sources import (
    DEFAULT_WAREHOUSE,
    bucketed_join_demo,
    read_any,
    write_partitioned,
)
from query_optimizer_spark.sqlparse import parse
from query_optimizer_spark.state import evidence

from .conftest import SF_DIR
from .fixtures import ALL


@pytest.fixture(scope="module")
def oracle():
    return TrueCountOracle(SF_DIR)


def test_greedy_agent_beats_or_ties_random(oracle):
    cm = get_cost_model("cm1")
    graph = JoinGraph.from_query(parse(ALL["q_cycle_7"]))
    env = JoinOrderEnv(graph, oracle, cm)
    greedy = run_episode(env, GreedyRewardAgent())
    rnd_costs = [
        run_episode(env, RandomAgent(seed=s))["cost"] for s in range(5)
    ]
    assert greedy["cost"] <= min(rnd_costs) + 1e-6
    # and a valid lower bound from the DP optimum (join costs only)
    dp = plan_dp_ccp(graph, oracle, cm)
    assert greedy["n_steps"] == 6


def test_random_agent_episode_deterministic(oracle):
    cm = get_cost_model("cm1")
    graph = JoinGraph.from_query(parse(ALL["q_star_4"]))
    env = JoinOrderEnv(graph, oracle, cm)
    a = run_episode(env, RandomAgent(seed=9))
    b = run_episode(env, RandomAgent(seed=9))
    assert a["order"] == b["order"]


def test_multiformat_roundtrip(spark, tmp_path_factory):
    base = f"{DEFAULT_WAREHOUSE}/roundtrip"
    df = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    for fmt in ("json", "csv", "parquet"):
        path = f"{base}/{fmt}"
        df.write.format(fmt).mode("overwrite").option("header", "true").save(path)
        schema = T.StructType(
            [
                T.StructField("n_nationkey", T.IntegerType()),
                T.StructField("n_name", T.StringType()),
                T.StructField("n_regionkey", T.IntegerType()),
            ]
        )
        back = read_any(spark, path, fmt, schema)
        assert back.count() == 25
        assert {r.n_name for r in back.collect()} == {
            r.n_name for r in df.collect()
        }


def test_session_state_path_refreshes_own_liveness(spark):
    """r10 ADVICE: a live session's state must never look dead to a
    sibling's TTL-GC.  session_state_path refreshes the caller's OWN
    mtime on every return (liveness enforced, not assumed), while a
    backdated sibling from a dead session is still collected."""
    import os
    import time
    from pathlib import Path

    from query_optimizer_spark.sources import (
        STATE_TTL_SEC,
        session_state_path,
    )

    own = Path(session_state_path(spark, SF_DIR, "ttlprobe"))
    own.mkdir(parents=True, exist_ok=True)
    sibling = own.parent / "ttlprobe_deadbeefdead"
    sibling.mkdir(exist_ok=True)
    stale = time.time() - STATE_TTL_SEC - 60
    os.utime(own, (stale, stale))
    os.utime(sibling, (stale, stale))
    # re-request the path: the sibling (dead session) is GC'd, the
    # caller's own dir survives with a refreshed mtime
    again = Path(session_state_path(spark, SF_DIR, "ttlprobe"))
    assert again == own and own.exists()
    assert not sibling.exists()
    assert time.time() - own.stat().st_mtime < STATE_TTL_SEC / 2
    # a third call must not collect the just-refreshed own dir either
    session_state_path(spark, SF_DIR, "ttlprobe")
    assert own.exists()


def test_partitioned_sink_prunes(spark):
    path = f"{DEFAULT_WAREHOUSE}/orders_by_status"
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    write_partitioned(orders, path, ["o_orderstatus"])
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    from query_optimizer_spark.executor import physical_plan

    plan = physical_plan(back)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan
    expected = orders.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == expected


def test_bucketed_join_no_exchange(spark):
    joined, plan = bucketed_join_demo(spark, SF_DIR)
    assert "Exchange" not in plan, "bucketed join must not shuffle"
    plain = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .join(
            spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
                "o_orderkey", "o_totalprice"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    assert joined.count() == plain.count()


def test_salted_join_equivalence(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        F.col("p_partkey").alias("l_partkey"), "p_name"
    )
    plain = li.join(part, "l_partkey")
    salted = salted_join(li, part, "l_partkey", salt=4)
    assert result_hash(plain.select("l_orderkey", "l_partkey", "p_name")) == \
        result_hash(salted.select("l_orderkey", "l_partkey", "p_name"))


def test_reinforce_agent_learns(oracle):
    """The REINFORCE trainer (scripts/train_agent.py) must actually
    reduce plan cost: after a short seeded run on one fixture, the
    greedy-argmax policy beats the untrained (uniform) policy and the
    random-agent mean.  Guards the r5 regression where a wrong
    advantage sign / cross-fixture normalization made the curve flat."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "train_agent",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "train_agent.py",
        ),
    )
    ta = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ta)

    cm = get_cost_model("cm1")
    graph = JoinGraph.from_query(parse(ALL["q_cycle_7"]))
    env = JoinOrderEnv(graph, oracle, cm)

    untrained = ta.ReinforceAgent(seed=0)
    before = ta.greedy_cost(untrained, env, cm, oracle)

    agent = ta.ReinforceAgent(seed=0)
    batch = []
    for _ in range(192):
        steps, rewards, _ = agent.play_episode(env)
        batch.append(("q_cycle_7", steps, rewards))
        if len(batch) >= 16:
            agent.update(batch)
            batch = []
    after = ta.greedy_cost(agent, env, cm, oracle)

    assert after < before  # learning moved the argmax policy
    # and beats the mean random plan (the baseline the artifact claims)
    import random as _random

    r = _random.Random(3)
    rnd = []
    for _ in range(10):
        env.reset()
        while not env.done:
            env.step(r.choice(env.actions()))
        rnd.append(cm.cumulative(env.graph, env.final_plan(), oracle))
    assert after < sum(rnd) / len(rnd)


def test_partitioned_roundtrip_prunes(spark):
    """The pruned read must show PartitionFilters (directory-level
    pruning) and carry no lang other than the two requested."""
    from query_optimizer_spark import sources
    from query_optimizer_spark.executor import physical_plan

    from .conftest import SF_DIR

    df = sources.partitioned_roundtrip(spark, SF_DIR)
    rows = df.collect()
    assert {r.lang for r in rows} == {"en", "fr"}
    import hashlib

    tag = hashlib.md5(SF_DIR.rstrip("/").encode()).hexdigest()[:12]
    back = spark.read.parquet(
        f"{sources.DEFAULT_WAREHOUSE}/documents_bylang_{tag}"
    ).filter("lang IN ('en', 'fr')")
    assert "PartitionFilters: [" in physical_plan(back)
    plan = physical_plan(back)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1)  # filter actually reached pruning


def test_snapshot_time_travel_immutability_and_cow(spark):
    """io_snapshot_time_travel (r13): (a) the three AS-OF reads match
    the from-raw oracle (gate re-asserted here via DuckDB), (b) the
    copy-on-write delete touches a strict subset of v2's files and the
    manifests carve disjoint responsibilities (v3 = v2 minus affected
    plus rewrites), (c) data files are IMMUTABLE -- every v1/v2 file
    still exists after the delete commit (time travel to any version
    keeps working), and (d) a warm re-run changes nothing on disk."""
    import json
    import shutil
    from pathlib import Path

    import duckdb

    from query_optimizer_spark import sources
    from query_optimizer_spark.sources import session_state_path
    from .test_spark_exec import duck_hash

    base = Path(session_state_path(spark, SF_DIR, "doc_snapshots"))
    shutil.rmtree(base, ignore_errors=True)
    df = sources.snapshot_time_travel(spark, SF_DIR)
    got = result_hash(df)
    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR}/documents.parquet'"
    )
    assert got == duck_hash(duck, sources.snapshot_time_travel_oracle())

    info = evidence(spark, SF_DIR, "doc_snapshots")
    assert 0 < info["n_affected"] < info["n_files_v2"], info
    m = {
        v: set(json.loads((base / f"manifest_v{v}.json").read_text()))
        for v in (1, 2, 3)
    }
    assert m[1] < m[2], "append must only add files"
    rewrites = m[3] - m[2]
    affected = m[2] - m[3]
    assert len(affected) == info["n_affected"]
    assert all("commit3" in f for f in rewrites)
    # immutability: every historical file still on disk
    for f in m[1] | m[2]:
        assert Path(f).exists(), f

    def snap():
        return {
            str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in base.rglob("*")
            if p.is_file()
        }

    before = snap()
    assert result_hash(sources.snapshot_time_travel(spark, SF_DIR)) == got
    assert snap() == before


def test_snapshot_changes_reads_only_changed_files(spark):
    """io_snapshot_changes (r14): (a) the CDC frame matches the
    from-raw oracle, (b) its plan reads ONLY the changed files --
    commit2 (the appends), the affected files, and their rewrites;
    never an untouched v1 survivor -- and (c) the v2->v3 diff is a pure
    delete (the invented-rows invariant inside the op)."""
    import json
    import shutil
    from pathlib import Path

    import duckdb

    from query_optimizer_spark import sources
    from query_optimizer_spark.sources import (
        _uri_to_path,
        session_state_path,
    )
    from .test_spark_exec import duck_hash

    base = Path(session_state_path(spark, SF_DIR, "doc_snapshots"))
    shutil.rmtree(base, ignore_errors=True)
    df = sources.snapshot_changes(spark, SF_DIR)
    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR}/documents.parquet'"
    )
    assert result_hash(df) == duck_hash(
        duck, sources.snapshot_changes_oracle()
    )
    m = {
        v: set(json.loads((base / f"manifest_v{v}.json").read_text()))
        for v in (1, 2, 3)
    }
    changed = (m[2] - m[1]) | (m[2] - m[3]) | (m[3] - m[2])
    read = {_uri_to_path(f) for f in df.inputFiles()}
    assert read and read <= changed, (sorted(read - changed)[:3])
    # untouched v1 survivors are never in the plan
    untouched_v1 = (m[1] & m[3]) - changed
    assert untouched_v1 and not (read & untouched_v1)


def test_snapshot_branch_diverges_without_touching_main(spark):
    """io_snapshot_branch (r14): (a) the three refs match the from-raw
    oracle, (b) the branch commit leaves main's manifests AND every
    shared data file byte-identical, (c) the branch manifest shares
    exactly v2's untouched files and adds only branch1/ rewrites, and
    (d) the two refs disagree exactly on their private deletes (main
    lacks its range, branch lacks the other)."""
    import json
    import shutil
    from pathlib import Path

    import duckdb

    from query_optimizer_spark import sources
    from query_optimizer_spark.sources import session_state_path
    from .test_spark_exec import duck_hash

    base = Path(session_state_path(spark, SF_DIR, "doc_snapshots"))
    shutil.rmtree(base, ignore_errors=True)
    # build main first so we can snapshot it around the branch commit
    sources.snapshot_time_travel(spark, SF_DIR).collect()

    def main_snap():
        return {
            str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in base.rglob("*")
            if p.is_file() and "branch1" not in str(p)
        }

    before = main_snap()
    df = sources.snapshot_branch(spark, SF_DIR)
    got = result_hash(df)
    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR}/documents.parquet'"
    )
    assert got == duck_hash(duck, sources.snapshot_branch_oracle())
    assert main_snap() == before, "branch commit touched main"

    m2 = set(json.loads((base / "manifest_v2.json").read_text()))
    m3 = set(json.loads((base / "manifest_v3.json").read_text()))
    b1 = set(json.loads((base / "manifest_branch1.json").read_text()))
    rewrites = {f for f in b1 if "branch1" in f}
    assert rewrites and (b1 - rewrites) < m2
    # divergence: each ref removed a DIFFERENT part of v2
    assert (m2 - m3) != (m2 - b1) and (m2 - m3) and (m2 - b1)
    rows = {r.ref: r for r in df.collect()}
    assert rows["base@v2"].n_docs > rows["main@v3"].n_docs
    assert rows["base@v2"].n_docs > rows["branch1"].n_docs
    assert rows["main@v3"].n_docs != rows["base@v2"].n_docs

    # warm rerun: nothing on disk changes anywhere
    def full_snap():
        return {
            str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in base.rglob("*")
            if p.is_file()
        }

    b = full_snap()
    assert result_hash(sources.snapshot_branch(spark, SF_DIR)) == got
    assert full_snap() == b


def test_merge_manifest_conflict_and_fast_forward():
    """_merge_manifest (r15) is pure set arithmetic: disjoint rewrites
    merge (target's chain + branch's private files), overlapping
    ancestor rewrites RAISE SnapshotMergeConflict, and merging into the
    unadvanced fork point fast-forwards to the branch head through the
    same code path."""
    import pytest as _pytest

    from query_optimizer_spark.sources import (
        SnapshotMergeConflict,
        _merge_manifest,
    )

    fork = ["a", "b", "c"]
    target = ["a", "b", "x"]  # target rewrote c -> x
    branch = ["a", "c", "y"]  # branch rewrote b -> y
    assert _merge_manifest(target, fork, branch) == ["a", "x", "y"]
    # fast-forward: target == fork -> exactly the branch head
    assert _merge_manifest(fork, fork, branch) == sorted(branch)
    # conflict: both refs rewrote ancestor b
    with _pytest.raises(SnapshotMergeConflict):
        _merge_manifest(["a", "c", "x"], fork, branch)
    # no-op merge: branch == fork -> exactly the target
    assert _merge_manifest(target, fork, fork) == sorted(target)


def test_snapshot_merge_closes_branch_loop(spark):
    """io_snapshot_merge (r15): (a) all four refs match the from-raw
    oracle, (b) the merge writes ZERO data files outside branch2/ and
    leaves every pre-existing file byte-identical (it is manifest set
    arithmetic), (c) v4 carries BOTH refs' private rewrites and drops
    both refs' touched ancestors, (d) the disjoint-window row
    arithmetic holds exactly (merged = main + branch2 - base), and
    (e) a warm rerun changes nothing on disk."""
    import json
    import shutil
    from pathlib import Path

    import duckdb

    from query_optimizer_spark import sources
    from query_optimizer_spark.sources import session_state_path
    from .test_spark_exec import duck_hash

    base = Path(session_state_path(spark, SF_DIR, "doc_snapshots"))
    shutil.rmtree(base, ignore_errors=True)
    sources.snapshot_time_travel(spark, SF_DIR).collect()

    def snap(exclude: str = "") -> dict:
        return {
            str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in base.rglob("*")
            if p.is_file() and (not exclude or exclude not in str(p))
        }

    before = snap()
    df = sources.snapshot_merge(spark, SF_DIR)
    got = result_hash(df)
    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR}/documents.parquet'"
    )
    assert got == duck_hash(duck, sources.snapshot_merge_oracle())
    # every file that existed before the merge is byte-identical, and
    # the only additions are branch2's rewrites + the two manifests
    after = snap()
    assert {k: v for k, v in after.items() if k in before} == before
    new = set(after) - set(before)
    assert new and all(
        "branch2" in p or p.endswith("manifest_v4_merge.json") for p in new
    ), new

    m2 = set(json.loads((base / "manifest_v2.json").read_text()))
    m3 = set(json.loads((base / "manifest_v3.json").read_text()))
    b2 = set(json.loads((base / "manifest_branch2.json").read_text()))
    v4 = set(json.loads((base / "manifest_v4_merge.json").read_text()))
    # v4 holds both refs' private rewrites, neither ref's tombstones
    assert (m3 - m2) <= v4 and (b2 - m2) <= v4
    assert not (v4 & (m2 - m3)) and not (v4 & (m2 - b2))
    # the two refs touched DISJOINT ancestors (commit1 vs commit2)
    assert not ((m2 - m3) & (m2 - b2))

    rows = {r.ref: r for r in df.collect()}
    n_base = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert (
        rows["merged@v4"].n_docs
        == rows["main@v3"].n_docs + rows["branch2"].n_docs - n_base
    )
    assert rows["ff@fork+branch2"].n_docs == rows["branch2"].n_docs
    assert rows["merged@v4"].n_docs < rows["main@v3"].n_docs < n_base

    # warm rerun: nothing on disk changes anywhere
    b = snap()
    assert result_hash(sources.snapshot_merge(spark, SF_DIR)) == got
    assert snap() == b


def test_snapshot_merge_crash_heals(spark):
    """A crash between the branch2 build and the merge-manifest write
    heals idempotently: deleting manifest_v4_merge.json (the last
    artifact the op writes) forces the warm path back through the
    build branch, which must reuse branch2's existing rewrite files
    byte-identically (no re-write), re-verify, and reproduce the same
    manifests and the same result hash."""
    import json
    import shutil
    from pathlib import Path

    from query_optimizer_spark import sources
    from query_optimizer_spark.sources import session_state_path

    base = Path(session_state_path(spark, SF_DIR, "doc_snapshots"))
    shutil.rmtree(base, ignore_errors=True)
    sources.snapshot_time_travel(spark, SF_DIR).collect()
    got = result_hash(sources.snapshot_merge(spark, SF_DIR))
    v4 = (base / "manifest_v4_merge.json").read_text()
    b2 = (base / "manifest_branch2.json").read_text()

    def b2_snap():
        return {
            str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in (base / "branch2").rglob("*")
            if p.is_file()
        }

    before = b2_snap()
    # simulate the crash: the merge manifest never landed
    (base / "manifest_v4_merge.json").unlink()
    assert result_hash(sources.snapshot_merge(spark, SF_DIR)) == got
    assert (base / "manifest_v4_merge.json").read_text() == v4
    assert (base / "manifest_branch2.json").read_text() == b2
    assert b2_snap() == before, "heal re-wrote branch2's data files"


def test_snapshot_expiry_vacuums_only_orphans(spark):
    """io_snapshot_expiry (r14): (a) the retained version still answers
    its from-raw oracle after the vacuum, (b) orphans -- exactly the
    files v3's copy-on-write superseded -- are GONE, (c) every retained
    file is byte-identical, the old manifests are dropped, and (d) a
    warm rerun changes nothing on disk."""
    import json
    import shutil
    from pathlib import Path

    import duckdb

    from query_optimizer_spark import sources
    from query_optimizer_spark.sources import (
        _snapshot_commits,
        session_state_path,
    )
    from .test_spark_exec import duck_hash

    base = Path(session_state_path(spark, SF_DIR, "doc_snapshots_exp"))
    shutil.rmtree(base, ignore_errors=True)
    # build the store FIRST so we can snapshot the pre-expiry state
    _, manifests = _snapshot_commits(spark, SF_DIR, store="doc_snapshots_exp")
    orphans = (set(manifests[1]) | set(manifests[2])) - set(manifests[3])
    assert orphans, "nothing to vacuum -- the test is vacuous"
    retained_before = {
        f: (Path(f).stat().st_size, Path(f).stat().st_mtime_ns)
        for f in manifests[3]
    }

    df = sources.snapshot_expiry(spark, SF_DIR)
    got = result_hash(df)
    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR}/documents.parquet'"
    )
    assert got == duck_hash(duck, sources.snapshot_expiry_oracle())

    ev = evidence(spark, SF_DIR, "doc_snapshots_exp")
    assert ev["n_orphans_deleted"] == len(orphans) > 0, ev
    for f in orphans:
        assert not Path(f).exists(), f
    for f, sig in retained_before.items():
        assert (Path(f).stat().st_size, Path(f).stat().st_mtime_ns) == sig
    assert not (base / "manifest_v1.json").exists()
    assert not (base / "manifest_v2.json").exists()
    assert set(
        json.loads((base / "manifest_v3.json").read_text())
    ) == set(manifests[3])

    def snap():
        return {
            str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in base.rglob("*")
            if p.is_file()
        }

    before = snap()
    assert result_hash(sources.snapshot_expiry(spark, SF_DIR)) == got
    ev2 = evidence(spark, SF_DIR, "doc_snapshots_exp")
    assert ev2["n_orphans_deleted"] == 0, ev2
    assert snap() == before
