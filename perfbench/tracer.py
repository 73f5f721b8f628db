"""Per-layer spans measured from outside the engine.

The traced run wraps the public functions the benchmark reaches (parse,
simplify, graph build, planners, agents, the park client, the env, the
ZMTP stream, parquet reads, view registration, the renderer), passes
counting proxies for the cardinality oracle and the cost model, and reads
Spark's status store for the jobs each call issued.  Nothing in the engine
is edited: wrappers are installed on module attributes and removed again
when the run ends.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from query_optimizer_spark.costmodels import CostModel

PACKAGE = "query_optimizer_spark"


class Tracer:
    """Named spans (call count, per-call seconds) and plain counters."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)
        self._undo: list = []

    def add(self, name: str, seconds: float) -> None:
        if self.enabled:
            self.spans[name].append(seconds)

    def bump(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, time.perf_counter() - t0)

    def total(self, name: str) -> float:
        return sum(self.spans.get(name, ()))

    def calls(self, name: str) -> int:
        return len(self.spans.get(name, ()))

    def timed(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            self.spans[name].append(time.perf_counter() - t0)
            if on_result is not None:
                on_result(out)
            return out

        return wrapper

    def patch_attr(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def wrap_function(self, module, attr: str, name: str, on_result=None) -> None:
        """Wrap ``module.attr`` and every name the package bound to it by
        ``from module import attr``."""
        orig = getattr(module, attr)
        new = self.timed(name, orig, on_result)
        for mod in list(sys.modules.values()):
            mod_name = getattr(mod, "__name__", "")
            if not (mod_name.startswith(PACKAGE) or mod_name == "__spark_entry__"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self.patch_attr(mod, key, new)

    def wrap_method(self, cls, attr: str, name: str, on_result=None) -> None:
        raw = cls.__dict__[attr]
        if isinstance(raw, classmethod):
            self.patch_attr(cls, attr, classmethod(self.timed(name, raw.__func__, on_result)))
        else:
            self.patch_attr(cls, attr, self.timed(name, raw, on_result))

    def wrap_dict(self, table: dict, prefix: str) -> None:
        """Wrap every function in ``table``; ``None`` results count as
        ``<prefix><key>.declined``."""
        for key, fn in list(table.items()):
            name = f"{prefix}{key}"
            self._undo.append((table, key, fn))
            table[key] = self.timed(
                name, fn, lambda out, n=name: out is None and self.bump(f"{n}.declined")
            )

    def restore(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            if isinstance(owner, dict):
                owner[attr] = old
            else:
                setattr(owner, attr, old)


CLIENT_COMMANDS = (
    "setQueries", "setCardinalities", "reset", "getQueryGraph", "getActions",
    "step", "isDone", "getReward", "getOptPlan",
)


def install_search_spans(tr: Tracer) -> None:
    """Spans over the planning path: parse, simplify, graph build, every
    planner, the agents, the park client and server, ZMTP frames."""
    from query_optimizer_spark import agents, park_api, park_server, planners, rewrites, sqlparse, zmtp
    from query_optimizer_spark.joingraph import JoinGraph

    tr.wrap_function(sqlparse, "parse", "sqlparse.parse")
    tr.wrap_function(rewrites, "simplify", "rewrites.simplify")
    tr.wrap_method(JoinGraph, "from_query", "joingraph.build")
    tr.wrap_dict(planners.PLANNERS, "planners.")
    tr.wrap_function(agents, "train_reinforce", "agents.train")
    tr.wrap_method(agents.ReinforceAgent, "act", "agents.act")
    for cmd in CLIENT_COMMANDS:
        tr.wrap_method(park_server.ParkClient, cmd, f"park_client.{cmd}")
    # server side of the wire: the session methods the dispatcher calls
    tr.wrap_method(park_api.ParkSession, "step", "env.step")
    tr.wrap_method(park_api.ParkSession, "getQueryGraph", "env.state")

    def frame(out: bytes) -> None:
        tr.bump("zmtp.frames")
        tr.bump("zmtp.bytes", len(out))

    tr.wrap_function(zmtp, "encode_frame", "zmtp.encode_frame", frame)


def install_spark_spans(tr: Tracer) -> None:
    """The planning spans plus parquet reads, view registration and the
    plan renderer."""
    from pyspark.sql.readwriter import DataFrameReader

    from query_optimizer_spark import executor, sqlsurface

    install_search_spans(tr)
    tr.wrap_method(DataFrameReader, "parquet", "sources.read")
    tr.wrap_function(sqlsurface, "register_views", "sqlsurface.register_views")
    tr.wrap_method(executor.Renderer, "run", "executor.render")


class CountingOracle:
    """Oracle proxy: counts and times ``card`` lookups, forwards the rest.
    Passed to the planners only while tracing."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def card(self, graph, s):
        t0 = time.perf_counter()
        out = self._inner.card(graph, s)
        self._tracer.add("oracle.lookup", time.perf_counter() - t0)
        return out

    def __getattr__(self, name):
        return getattr(self._inner, name)


class TimedCostModel(CostModel):
    """Cost-model proxy: counts and times every ``node_cost`` call.
    Passed to the planners only while tracing."""

    tracer: Tracer

    def node_cost(self, graph, node, oracle) -> float:
        t0 = time.perf_counter()
        out = super().node_cost(graph, node, oracle)
        self.tracer.add("costmodels.node_cost", time.perf_counter() - t0)
        return out


def timed_cost_model(cm: CostModel, tracer: Tracer) -> TimedCostModel:
    out = TimedCostModel(cm.name, cm.scan_cost_factor, cm.use_index_nlj, cm.memory_limit)
    out.tracer = tracer
    return out


class SparkJobs:
    """Spark work attributed by job-id range.

    The loop has one client, so every job that starts between a call's
    start and its end belongs to that call, whatever job group it ran
    under (``harness.timed_execution`` sets its own; the LEO loop's
    observe jobs run on pool threads)."""

    STAGE_FIELDS = (
        ("executor_run_s", "executorRunTime", 1e-3),
        ("executor_cpu_s", "executorCpuTime", 1e-9),
        ("shuffle_read_mb", "shuffleReadBytes", 1 / 2**20),
        ("shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20),
        ("spill_mb", "diskBytesSpilled", 1 / 2**20),
        ("input_mb", "inputBytes", 1 / 2**20),
    )

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        gateway = spark.sparkContext._gateway
        self._max_quantile = gateway.new_array(gateway.jvm.double, 1)
        self._max_quantile[0] = 1.0

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """Highest job id the status store has seen (-1 before any)."""
        self._drain()
        # the store lists jobs newest first
        jobs = self._sc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def collect(self, after: int, upto: int) -> dict:
        """Job, stage and task totals for job ids in ``(after, upto]``."""
        store = self._sc.statusStore()
        out = defaultdict(float)
        for job_id in range(after + 1, upto + 1):
            try:
                job = store.job(job_id)
            except Exception:  # job evicted from the status store
                out["missing_jobs"] += 1
                continue
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                try:
                    stage = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: its shuffle was reused
                    continue
                if str(stage.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                for key, field, scale in self.STAGE_FIELDS:
                    out[key] += getattr(stage, field)() * scale
                self._max_task(store, stage, out)
        return out

    def _max_task(self, store, stage, out) -> None:
        dist = store.taskSummary(stage.stageId(), stage.attemptId(), self._max_quantile)
        if dist.isEmpty():
            return
        d = dist.get()
        out["max_task_s"] = max(out["max_task_s"], d.executorRunTime().apply(0) * 1e-3)
        out["max_task_input_mb"] = max(
            out["max_task_input_mb"], d.inputMetrics().bytesRead().apply(0) / 2**20
        )
