"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship 7-relation planner query at
sf0.001.  ``queries()`` exposes every implemented operator from
SURVEY.md §2 as a (spark, sf_dir) -> DataFrame callable; ``oracle_sql()``
gives each one's ANSI-SQL twin for the DuckDB correctness gate.  Column
names are aliased identically on both sides.

Each query is declared once, in the table of the module that owns its
family: ``workload.JOIN_QUERIES`` (join paths), ``sqlsurface.SURFACE``
(SQL surface) and ``functions.registry.PIPELINE_OPS`` (pipeline,
streaming, corpus and I/O operators).  The two functions here are views
over those tables.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from query_optimizer_spark import sqlsurface, workload
from query_optimizer_spark.functions.registry import PIPELINE_OPS
from query_optimizer_spark.session import configure_runtime

# Declared first, so the correctness gate, which records the first 50
# declared queries, covers them: the queries whose runners reach code the
# latest change edited (the LEO decision chain and its three runners, and
# the REINFORCE row now planned through plan_reinforce).
GATE_FIRST: tuple[str, ...] = (
    "join_adaptive_reopt", "join_adaptive_full", "join_adaptive_outer",
    "join_feedback_warm", "join_feedback_persist", "join_env_learned",
)

_GATED_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the cyclic 7-relation join (alias self-join on nation),
    planned by DPccp and executed as an explicit Spark join chain."""
    configure_runtime(spark)
    return workload.run_fixture(
        spark, "/root/testdata/sf0.001", "join_cycle_7", planner="dp_ccp"
    )


def _last_gated() -> dict[str, int]:
    """Query name -> the last round whose gate record
    (``CORRECTNESS_r<N>.json`` beside this module) holds it."""
    out: dict[str, int] = {}
    for path in Path(__file__).resolve().parent.iterdir():
        m = _GATED_FILE.fullmatch(path.name)
        if m:
            for name in json.loads(path.read_text()):
                out[name] = max(out.get(name, 0), int(m.group(1)))
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every declared query, in gate order: ``GATE_FIRST``, then the rest
    stalest first by ``_last_gated`` (never gated counts as round 0).
    Ties keep declaration order: join paths, SQL surface, pipeline ops.
    scripts/local_gate.py checks ALL of them against their oracles."""
    out = {
        n: lambda spark, sf_dir, n=n: workload.run_join_query(spark, sf_dir, n)
        for n in workload.JOIN_QUERIES
    }
    out |= {
        n: lambda spark, sf_dir, n=n: sqlsurface.run_surface(spark, sf_dir, n)
        for n in sqlsurface.SURFACE
    }
    out |= {n: runner for n, (runner, _) in PIPELINE_OPS.items()}
    last = _last_gated()
    rest = sorted(
        (n for n in out if n not in GATE_FIRST), key=lambda n: last.get(n, 0)
    )
    return {n: out[n] for n in (*GATE_FIRST, *rest)}


def oracle_sql() -> dict[str, str]:
    """Query name -> the DuckDB SQL whose answer the query must match."""
    out = {
        n: workload.fixture_oracle_sql(fixture)
        for n, (fixture, _) in workload.JOIN_QUERIES.items()
    }
    out |= {n: sqlsurface.oracle_sql_of(n) for n in sqlsurface.SURFACE}
    out |= {n: sql for n, (_, sql) in PIPELINE_OPS.items()}
    return out
