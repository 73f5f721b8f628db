"""Self-tests of the benchmark's own machinery.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
import threading
from pathlib import Path

import pytest

BENCH_DIR = Path(__file__).resolve().parent
for _p in (BENCH_DIR.parent / "scripts", BENCH_DIR, BENCH_DIR.parent):
    if str(_p) not in sys.path:
        sys.path.insert(0, str(_p))

import datagen  # noqa: E402
from stats import percentile  # noqa: E402


def test_percentile_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]
    assert percentile(values, 90) == (90.0, 90.0, 100)
    # 50 samples: p90 would leave 5 beyond, so p80 is reported instead
    value, used, n = percentile(values[:50], 90)
    assert (used, n) == (80.0, 50)
    assert sum(v > value for v in values[:50]) == 10
    # 32 samples: the highest percentile with ten beyond is 68.75
    value, used, n = percentile(values[:32], 99)
    assert (used, n) == (68.75, 32)
    assert sum(v > value for v in values[:32]) == 10
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    return str(datagen.ensure_data(tmp_path_factory.mktemp("perfbench") / "data", scale=0.001))


def test_unstolen_time_takes_out_the_stolen_share():
    from stats import unstolen_s

    # 2 s of wall time while the CPUs ran 3 s and were withheld for 1 s
    assert unstolen_s((10.0, 100.0, 5.0), (12.0, 103.0, 6.0)) == 1.5
    assert unstolen_s((10.0, 100.0, 5.0), (12.0, 103.0, 5.0)) == 2.0
    assert unstolen_s((10.0, 100.0, 5.0), (12.0, 100.0, 5.0)) == 2.0  # idle machine


def test_tables_are_deterministic():
    a, b = datagen._tables(0.001), datagen._tables(0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)


def test_inputs_follow_the_seed(data_dir):
    import plan_search as ps

    def fingerprint(seed):
        items = ps.make_inputs(data_dir, seed)
        return [(i.name, i.sql, sorted(i.cards.items()), i.opt_order) for i in items]

    one = fingerprint(1)
    assert one == fingerprint(1)
    two = fingerprint(2)
    assert [x[0] for x in one] != [x[0] for x in two]  # visiting order
    synth = lambda fp: {x[0]: x[2] for x in fp if x[0].startswith("synth_")}  # noqa: E731
    assert synth(one).keys() == synth(two).keys()
    assert all(synth(one)[k] != synth(two)[k] for k in synth(one))  # cardinalities


def test_unit_time_is_the_minimum_over_passes():
    import plan_search as ps

    s = ps.Samples()
    for t in (0.003, 0.001, 0.002):
        s.plan_s["q", "cm1", "greedy"].append(t)
    s.plan_s["q", "mm", "greedy"].append(0.004)  # measured on one pass only
    assert ps.best(s.plan_s) == {("q", "cm1", "greedy"): 0.001, ("q", "mm", "greedy"): 0.004}


def test_a_unit_fails_once_and_moves_ok_ratio_by_one_in_units():
    from report import Run

    run = Run("plan_search", 0, 1.0, False)
    for name in ("a", "b", "c", "d"):
        run.attempt(name)
    run.fail("b", "invalid tree")
    run.fail("b", "cost mismatch")  # a second check of the same unit
    assert run.ok_ratio() == 0.75
    res = run.result()
    assert (res["correct"], res["attempted"], res["failed"]) == (False, 4, 1)
    assert run.failures == ["b: invalid tree", "b: cost mismatch"]


def test_spark_visiting_order_follows_the_seed():
    import spark_exec

    names = spark_exec.QUERIES
    assert spark_exec.visit_order(names, 1, 0) == spark_exec.visit_order(names, 1, 0)
    assert spark_exec.visit_order(names, 1, 0) != spark_exec.visit_order(names, 2, 0)
    assert spark_exec.visit_order(names, 1, 0) != spark_exec.visit_order(names, 1, 1)
    assert sorted(spark_exec.visit_order(names, 3, 0)) == sorted(names)


def test_jobs_are_counted_by_id_range_across_groups_and_threads(tmp_path):
    """A runner with five actions: three plain, one under its own job
    group (as harness.timed_execution sets), one on a pool thread (as the
    LEO loop's observe jobs run)."""
    import spark_exec
    from tracer import SparkJobs

    (tmp_path / "tmp").mkdir()
    spark = spark_exec._session("2", tmp_path)
    try:
        jobs = SparkJobs(spark)
        spark.range(10).collect()  # jobs before the window are not counted

        def runner():
            df = spark.range(100)
            for _ in range(3):
                df.collect()
            spark.sparkContext.setJobGroup("timed-exec", "own group")
            df.collect()
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            t = threading.Thread(target=df.collect)
            t.start()
            t.join()

        before = jobs.mark()
        runner()
        counted = jobs.collect(before, jobs.mark())
        assert counted["jobs"] == 5
        assert counted["stages"] == 5
        assert counted["tasks"] >= 5
    finally:
        spark_exec._stop_session(spark)
