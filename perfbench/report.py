"""The result of one run: failures, end-to-end metrics and the traced
per-layer report."""

from __future__ import annotations

import json
import os
import statistics
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"
# every unit's time is its minimum over passes, so a run makes at least two
MIN_PASSES = 2


class Run:
    """One benchmark run: arguments, failures and the result line.

    ``attempted`` and ``failed`` count checked units, not operations: a
    plan_search graph (all its plans and episodes), a join_exec query (its
    verification and every timed pass) or a probe graph.  A unit fails
    once, however many of its checks fail, so one failure moves
    ``ok_ratio`` by at least 1 / units."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        from tracer import Tracer

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer()
        self.data_dir = ""
        self.units: set[str] = set()
        self.failed_units: set[str] = set()
        self.failures: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.details: dict = {"workload": workload, "seed": seed, "cwd": os.getcwd()}

    def attempt(self, unit: str) -> None:
        self.units.add(unit)

    def fail(self, unit: str, what: str) -> None:
        self.units.add(unit)
        self.failed_units.add(unit)
        self.failures.append(f"{unit}: {what}")

    def ok_ratio(self) -> float:
        return 1.0 - len(self.failed_units) / max(1, len(self.units))

    def result(self) -> dict:
        metrics = {
            k: {"value": float(v), "unit": unit} for k, (v, unit) in self.metrics.items()
        }
        return {
            "correct": not self.failed_units,
            "attempted": max(1, len(self.units)),
            "failed": len(self.failed_units),
            "metrics": metrics,
        }


def common_metrics(run: Run, setup_s: float, query_s: dict, rss_mb: float):
    """``setup_s``, ``ok_ratio``, ``peak_rss_mb`` and the query times.

    ``query_s`` maps each query to its time on every pass; a query's time
    is the minimum over passes.  A Spark workload has a dozen queries, too
    few for the ten-beyond rule of ``stats.percentile``, so the query
    percentiles are interpolated and reported with their count."""
    times = [min(v) for v in query_s.values()]
    cuts = statistics.quantiles(times, n=20, method="inclusive")
    run.metrics.update({
        "setup_s": (setup_s, "s"),
        "ok_ratio": (run.ok_ratio(), "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
        "query_total_s": (sum(times), "s"),
        "query_p50_s": (statistics.median(times), "s"),
        "query_p90_s": (cuts[17], "s"),
    })
    run.details["samples"].update({
        "queries": len(times), "query_runs": sum(map(len, query_s.values())),
    })


def finish(run: Run, passes: int, plan_calls: int, extra: dict) -> None:
    """Keep the untraced end-to-end figures; a traced run reports its
    per-layer metrics and its own overhead against the last untraced run
    of the workload in this checkout."""
    from layers import layer_metrics

    last = WORK / f"untraced_{run.workload}.json"
    figures = {k: v for k, (v, _) in run.metrics.items()}
    if not run.trace:
        last.write_text(json.dumps(figures))
        return
    run.details["traced_end_to_end"] = figures
    if last.exists():
        before = json.loads(last.read_text())["query_total_s"]
        extra["trace.query_total_delta_s"] = figures["query_total_s"] - before
    run.metrics = layer_metrics(run.tracer, passes, plan_calls, extra)
