"""The per-layer metrics of a traced run.

Every traced run reports every name below, so workloads that leave a
layer idle report it as 0.  Normalisation: ``*.calls``, ``*.declined``,
``planners.plan_s`` and ``zmtp.*`` are per pass (every item once);
``oracle.*`` and ``costmodels.*`` are per planner call; other
``_ms``/``.ms``/``_s`` spans are means per call; ``spark.*``,
``driver.*``, ``sources.*`` and ``executor.*`` are means per timed query,
except the two ``max_task`` maxima and ``slot_util``.
"""

from __future__ import annotations

from query_optimizer_spark.planners import PLANNERS

from stats import percentile
from tracer import CLIENT_COMMANDS, Tracer

PLANNER_NAMES = tuple(PLANNERS)
FAMILIES = ("dedup", "similarity", "text", "corpus", "temporal", "multimodal", "skew")
SPARK_COUNTERS = (
    ("spark.jobs", "count"), ("spark.jobs_before_action", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"),
    ("workload.observe_jobs", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.slot_util", "ratio"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.input_mb", "MB"),
    ("spark.max_task_s", "s"), ("spark.max_task_input_mb", "MB"),
    ("driver.construct_s", "s"), ("driver.action_s", "s"),
    ("sources.parquet_reads", "count"), ("sources.read_s", "s"),
    ("executor.render_s", "s"),
)


def _mean_ms(tr: Tracer, name: str) -> float:
    calls = tr.calls(name)
    return tr.total(name) / calls * 1e3 if calls else 0.0


def layer_metrics(tr: Tracer, passes: int, plan_calls: int, extra: dict) -> dict:
    """``{name: (value, unit)}`` for every per-layer metric.  ``extra``
    carries what the workload measured itself (Spark counters, family
    times, set-up steps, verification and the tracing overhead)."""
    per_pass = 1.0 / max(1, passes)
    per_plan = 1.0 / max(1, plan_calls)
    m = {
        "sqlparse.parse_ms": (_mean_ms(tr, "sqlparse.parse"), "ms"),
        "rewrites.simplify_ms": (_mean_ms(tr, "rewrites.simplify"), "ms"),
        "joingraph.build_ms": (_mean_ms(tr, "joingraph.build"), "ms"),
        "oracle.lookups": (tr.calls("oracle.lookup") * per_plan, "count"),
        "oracle.lookup_ms": (tr.total("oracle.lookup") * 1e3 * per_plan, "ms"),
        "costmodels.calls": (tr.calls("costmodels.node_cost") * per_plan, "count"),
        "costmodels.ms": (tr.total("costmodels.node_cost") * 1e3 * per_plan, "ms"),
    }
    for name in PLANNER_NAMES:
        key = f"planners.{name}"
        spans = tr.spans.get(key, [])
        m[f"{key}.calls"] = (len(spans) * per_pass, "count")
        m[f"{key}.ms"] = (_mean_ms(tr, key), "ms")
        m[f"{key}.p95_ms"] = (percentile(spans, 95)[0] * 1e3 if spans else 0.0, "ms")
    m["planners.branch_and_bound.declined"] = (
        tr.counts.get("planners.branch_and_bound.declined", 0.0) * per_pass, "count")
    m["planners.plan_s"] = (
        sum(tr.total(f"planners.{n}") for n in PLANNER_NAMES) * per_pass, "s")
    m["agents.train_ms"] = (_mean_ms(tr, "agents.train"), "ms")
    m["agents.act_ms"] = (_mean_ms(tr, "agents.act"), "ms")
    for cmd in CLIENT_COMMANDS:
        key = f"park_client.{cmd}"
        m[f"{key}.calls"] = (tr.calls(key) * per_pass, "count")
        m[f"{key}.ms"] = (_mean_ms(tr, key), "ms")
    m["env.step_ms"] = (_mean_ms(tr, "env.step"), "ms")
    m["env.state_ms"] = (_mean_ms(tr, "env.state"), "ms")
    m["zmtp.frames"] = (tr.counts.get("zmtp.frames", 0.0) * per_pass, "count")
    m["zmtp.bytes"] = (tr.counts.get("zmtp.bytes", 0.0) * per_pass, "B")
    m["sqlsurface.register_views.calls"] = (
        tr.calls("sqlsurface.register_views") * per_pass, "count")
    m["sqlsurface.register_views.s"] = (_mean_ms(tr, "sqlsurface.register_views") / 1e3, "s")
    for name, unit in SPARK_COUNTERS:
        m[name] = (extra.get(name, 0.0), unit)
    for fam in FAMILIES:
        m[f"functions.{fam}_s"] = (extra.get(f"functions.{fam}_s", 0.0), "s")
    for name in ("streaming.ops_s", "sources.io_s", "setup.session_s", "setup.inputs_s"):
        m[name] = (extra.get(name, 0.0), "s")
    for name in ("verify.oracle_s", "verify.pass_s", "trace.query_total_delta_s"):
        m[name] = (extra.get(name, 0.0), "s")
    return m
