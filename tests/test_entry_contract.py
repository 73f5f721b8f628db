"""The query declarations behind queries() and oracle_sql(), checked
without a Spark session: every query is declared once, has an oracle,
and the gate order is the computed one wherever the process runs from."""

import json
import os
import subprocess
import sys

import __spark_entry__ as entry  # the repo is on sys.path via conftest
from query_optimizer_spark import sqlsurface, workload
from query_optimizer_spark.functions.registry import PIPELINE_OPS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_has_one_declaration_and_an_oracle():
    names = list(entry.queries())
    assert len(names) == len(set(names)) == 214
    assert set(names) == set(entry.oracle_sql())
    # the three owning tables are disjoint: no name declared twice
    assert len(workload.JOIN_QUERIES) + len(sqlsurface.SURFACE) + len(
        PIPELINE_OPS
    ) == len(names)


def test_join_rows_oracle_is_their_fixture():
    oracles = entry.oracle_sql()
    for name, (fixture, runner) in workload.JOIN_QUERIES.items():
        assert fixture in workload.FIXTURES, name
        assert callable(runner), name
        assert oracles[name] == workload.fixture_oracle_sql(fixture), name


def test_gate_order_is_gate_first_then_stalest():
    names = list(entry.queries())
    head = len(entry.GATE_FIRST)
    assert names[:head] == list(entry.GATE_FIRST)
    last: dict[str, int] = {}
    for r in range(1, 100):
        path = os.path.join(REPO, f"CORRECTNESS_r{r:02d}.json")
        if os.path.exists(path):
            for name in json.load(open(path)):
                last[name] = r
    assert last["join_adaptive_full"] == 16 and last["sql_agg_pricing"] == 11
    # non-decreasing last-gated round; ties keep declaration order
    declared = [*workload.JOIN_QUERIES, *sqlsurface.SURFACE, *PIPELINE_OPS]
    pos = {n: i for i, n in enumerate(declared)}
    rest = names[head:]
    assert rest == sorted(rest, key=lambda n: (last.get(n, 0), pos[n]))


def test_gate_order_is_the_same_from_any_directory(tmp_path):
    script = (
        "import json, sys; sys.path.insert(0, sys.argv[1]); "
        "import __spark_entry__ as e; print(json.dumps(list(e.queries())))"
    )
    out = subprocess.run(
        [sys.executable, "-c", script, REPO],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        check=True,
    )
    assert json.loads(out.stdout.strip().splitlines()[-1]) == list(
        entry.queries()
    )
