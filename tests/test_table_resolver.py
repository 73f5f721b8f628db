"""One table resolver: every read of a session-stable parquet path goes
through ``sources.read_parquet``, which resolves the path once per
(session, sf_dir) and resolves it again when the file or store changes
on disk.  A repeat read starts no Spark job; an action still scans the
files.

A partition-keyed store is read through ``sources.read_partitions`` (a
pruned read that raises unless the filter reaches the scan) and
rewritten through ``sources.overwrite_partitions`` (a dynamic partition
overwrite chosen per write, never by the session conf)."""

import itertools
import os
import pathlib
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from query_optimizer_spark import state
from query_optimizer_spark.costmodels import get_cost_model
from query_optimizer_spark.executor import execute_plan, query_to_sql
from query_optimizer_spark.harness import result_hash
from query_optimizer_spark.joingraph import JoinGraph
from query_optimizer_spark.oracle import TrueCountOracle
from query_optimizer_spark.planners import PLANNERS
from query_optimizer_spark.session import read_table
from query_optimizer_spark.sources import (
    overwrite_partitions,
    read_parquet,
    read_partitions,
    scoped_conf,
)
from query_optimizer_spark.sqlparse import parse

from .conftest import SF_DIR
from .fixtures import ALL
from .test_spark_exec import duck_hash

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "query_optimizer_spark"
# a raw read of a table under the data directory, which skips the memo
BYPASS = re.compile(r"\.read\.parquet\(f\"\{(self\.)?sf_dir\}/")
# a store's pruned-read check or write-mode choice outside sources.py
STORE_BYPASS = ('split("PartitionFilters"', "partitionOverwriteMode")
OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"
_GROUPS = itertools.count()


@pytest.fixture(autouse=True)
def isolated_state():
    """Hand the session's scopes back after each test, so the scratch
    data directories here evict none of another test's state."""
    saved = state._live.copy()
    yield
    state._live.clear()
    state._live.update(saved)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"table-resolver-{next(_GROUPS)}"
    sc.setJobGroup(group, "table resolver test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, columns: dict) -> None:
    """Write one parquet file without Spark, uncompressed, so two files
    with the same shape have the same size."""
    pq.write_table(pa.table(columns), path, compression="none")


def _bump_mtime(path) -> None:
    """Give a rewritten path a new mtime even where the clock is coarse."""
    st = os.stat(path)
    later = st.st_mtime_ns + 10**9
    os.utime(path, ns=(later, later))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_no_read_bypasses_the_resolver():
    """No package module reads ``{sf_dir}/<table>.parquet`` with a raw
    ``spark.read.parquet``: every such read goes through ``read_parquet``
    (or ``read_table``, which calls it)."""
    offenders = [
        f"{p.relative_to(PACKAGE.parent)}:{i}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if BYPASS.search(line)
    ]
    assert offenders == []


def test_store_reads_and_writes_go_through_sources():
    """Only ``sources.py`` checks a store read for its PartitionFilter or
    names the partition overwrite mode: every other module reads a store
    through ``read_partitions`` and rewrites it through
    ``overwrite_partitions``."""
    offenders = [
        f"{p.relative_to(PACKAGE.parent)}:{i}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != PACKAGE / "sources.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if any(s in line for s in STORE_BYPASS)
    ]
    assert offenders == []


def test_repeat_read_starts_no_job(spark, tmp_path):
    _write(tmp_path / "t.parquet", {"k": [1, 2, 3], "v": ["a", "b", "c"]})
    first, n_first = _jobs(spark, lambda: read_table(spark, str(tmp_path), "t"))
    second, n_second = _jobs(spark, lambda: read_table(spark, str(tmp_path), "t"))
    assert n_first >= 1  # schema inference
    assert n_second == 0
    assert second.schema == first.schema
    assert _rows(second) == _rows(first) == [(1, "a"), (2, "b"), (3, "c")]


def test_rewritten_file_is_resolved_again(spark, tmp_path):
    """A file rewritten in place with the same size, a renamed column and
    new values: only the mtime tells the rewrite."""
    path = tmp_path / "t.parquet"
    _write(path, {"a": [1, 2, 3]})
    size = os.path.getsize(path)
    assert _rows(read_table(spark, str(tmp_path), "t")) == [(1,), (2,), (3,)]
    _write(path, {"b": [7, 8, 9]})
    _bump_mtime(path)
    assert os.path.getsize(path) == size
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["b"]
    assert _rows(df) == [(7,), (8,), (9,)]


def test_rewritten_store_is_resolved_again(spark, tmp_path):
    """A partitioned store under a snapshot swap (the whole store
    rewritten with a new column) and then an upsert (a dynamic partition
    overwrite that replaces one partition and adds another)."""
    sf_dir, store = str(tmp_path), str(tmp_path / "store")
    spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p")
    ).write.mode("overwrite").partitionBy("p").parquet(store)
    v1 = read_parquet(spark, sf_dir, store)
    assert sorted(v1.columns) == ["k", "p"]
    assert _rows(v1.select("k", "p")) == [(0, 0), (1, 1), (2, 0), (3, 1)]

    spark.range(4).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 2).alias("p"),
    ).write.mode("overwrite").partitionBy("p").parquet(store)
    snap = read_parquet(spark, sf_dir, store)
    assert sorted(snap.columns) == ["k", "p", "v"]
    assert _rows(snap.select("k", "v", "p")) == [
        (0, 0, 0), (1, 10, 1), (2, 20, 0), (3, 30, 1),
    ]

    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        spark.createDataFrame(
            [(5, 50, 1), (6, 60, 2)], "k long, v long, p int"
        ).write.mode("overwrite").partitionBy("p").parquet(store)
    finally:
        spark.conf.set(key, saved)
    upsert = read_parquet(spark, sf_dir, store)
    assert _rows(upsert.select("k", "v", "p")) == [
        (0, 0, 0), (2, 20, 0), (5, 50, 1), (6, 60, 2),
    ]
    # unchanged since: the same resolved frame comes back, with no job
    again, n = _jobs(spark, lambda: read_parquet(spark, sf_dir, store))
    assert again is upsert and n == 0


def test_sf_dirs_do_not_share_entries(spark, tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    _write(a / "t.parquet", {"x": [1]})
    _write(b / "t.parquet", {"x": [2]})
    assert _rows(read_table(spark, str(a), "t")) == [(1,)]
    assert _rows(read_table(spark, str(b), "t")) == [(2,)]
    assert set(state.scope(spark, str(a))["parquet_reads"]) == {f"{a}/t.parquet"}
    assert set(state.scope(spark, str(b))["parquet_reads"]) == {f"{b}/t.parquet"}
    # one path read under two sf_dirs resolves in each
    shared = f"{a}/t.parquet"
    assert read_parquet(spark, str(b), shared) is not read_parquet(
        spark, str(a), shared
    )


def test_self_join_of_memoized_table_matches_duckdb(spark, duck):
    """Both sides of ``nation n1, nation n2`` come from one memoized
    frame; renamed per alias as the executor does, the join equals
    DuckDB's."""
    sql = ALL["q_selfjoin"]
    q = parse(sql)
    graph = JoinGraph.from_query(q)
    nation = read_table(spark, SF_DIR, "nation")
    assert read_table(spark, SF_DIR, "nation") is nation
    oracle = TrueCountOracle(SF_DIR)
    res = PLANNERS["dp_ccp"](graph, oracle, get_cost_model("cm1"))
    df = execute_plan(spark, SF_DIR, graph, res.tree, oracle)
    assert result_hash(df) == duck_hash(duck, query_to_sql(q))

    n1 = nation.select(*[F.col(c).alias(f"n1__{c}") for c in nation.columns])
    n2 = nation.select(*[F.col(c).alias(f"n2__{c}") for c in nation.columns])
    pairs = n1.join(n2, F.col("n1__n_regionkey") == F.col("n2__n_regionkey"))
    got = _rows(pairs.select("n1__n_nationkey", "n2__n_nationkey"))
    want = sorted(
        duck.execute(
            "SELECT n1.n_nationkey, n2.n_nationkey FROM nation n1, nation n2 "
            "WHERE n1.n_regionkey = n2.n_regionkey"
        ).fetchall()
    )
    assert got == want


def _store(spark, path, rows) -> None:
    spark.createDataFrame(rows, "k long, p int").write.mode(
        "overwrite"
    ).partitionBy("p").parquet(path)


def _partition_files(store: pathlib.Path, p: int) -> dict:
    """path -> (size, mtime_ns, bytes) of every file in partition ``p``."""
    return {
        str(f): (f.stat().st_size, f.stat().st_mtime_ns, f.read_bytes())
        for f in sorted((store / f"p={p}").iterdir())
    }


def test_read_partitions_prunes_or_raises(spark, tmp_path):
    sf_dir, store = str(tmp_path), str(tmp_path / "store")
    _store(spark, store, [(k, k % 3) for k in range(9)])
    got = read_partitions(spark, sf_dir, store, "p", [0, 2])
    assert _rows(got.select("k", "p")) == [
        (0, 0), (2, 2), (3, 0), (5, 2), (6, 0), (8, 2),
    ]
    # ``k`` is a data column: the filter is applied after the scan, so
    # the read must refuse rather than silently read every partition
    with pytest.raises(RuntimeError, match="PartitionFilter"):
        read_partitions(spark, sf_dir, store, "k", [1])


def test_overwrite_partitions_rewrites_only_its_partitions(spark, tmp_path):
    """A frame holding partitions 1 and 3 replaces partition 1, adds
    partition 3 and leaves partitions 0 and 2 byte-identical, with the
    session's overwrite mode at STATIC, which the write must not read
    and must not change."""
    sf_dir, root = str(tmp_path), tmp_path / "store"
    _store(spark, str(root), [(k, k % 3) for k in range(9)])
    kept = {p: _partition_files(root, p) for p in (0, 2)}
    with scoped_conf(spark, {OVERWRITE_MODE: "STATIC"}):
        overwrite_partitions(
            spark.createDataFrame([(10, 1), (11, 3)], "k long, p int"),
            str(root),
            "p",
        )
        assert spark.conf.get(OVERWRITE_MODE) == "STATIC"
    assert {p: _partition_files(root, p) for p in (0, 2)} == kept
    assert _rows(read_parquet(spark, sf_dir, str(root)).select("k", "p")) == [
        (0, 0), (2, 2), (3, 0), (5, 2), (6, 0), (8, 2), (10, 1), (11, 3),
    ]


def test_scoped_conf_restores_prior_values(spark):
    """Inside the block each key holds the new value; afterwards a key
    set before holds its old value again and a key that was never set
    is unset again, also when the block raises."""
    unset = "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems"
    prior = spark.conf.get(OVERWRITE_MODE, None)
    assert spark.conf.get(unset, None) is None
    with pytest.raises(ZeroDivisionError):
        with scoped_conf(spark, {OVERWRITE_MODE: "DYNAMIC", unset: "7"}):
            assert spark.conf.get(OVERWRITE_MODE) == "DYNAMIC"
            assert spark.conf.get(unset) == "7"
            1 / 0
    assert spark.conf.get(OVERWRITE_MODE, None) == prior
    assert spark.conf.get(unset, None) is None
