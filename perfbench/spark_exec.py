"""join_exec: planned join queries and curation operators executed on one
local Spark session.

A run builds the session, computes every query's DuckDB answer, runs one
verification pass that compares each result's rows, column names and
``harness.result_hash`` with its ``oracle_sql()`` twin, and then times
whole passes in seed-shuffled orders until ``--seconds`` have passed, at
least two.  A timed query is its runner call plus ``count()``; the count
must equal the oracle's row count, and the query's time is its minimum
over passes.  A fixed planner/wire probe (the join fixtures of
plan_search under ``cm1``, without the REINFORCE planner, whose training
dominates plan_search) gives the workload its planner and env metrics.
The CPU's speed on a shared host swings by half within seconds, so a
planner call's minimum needs samples spread over the run: the probe
plans every graph once before the session starts and once before each
timed query, and runs a round of episodes with the first plans and
before every second timed query, untraced and outside the query times.

Spark work is timed by ``stats.unstolen_s``: wall time less the share of
it the hypervisor withheld from the machine.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import signal
import statistics
import subprocess
import time
from collections import defaultdict

# a warm pass of both sets takes about 12 s on 4 cores, so that a run (JVM
# start, cold verification pass, two timed passes) takes about 80 s
JOIN_QUERIES = (
    "join_cycle_7", "join_env_learned", "join_adaptive_full", "sql_q5_local_revenue",
)
# one operator per family, each with a small first-run cost; the upsert
# writes a store and reads it back
PIPELINE_OPS = (
    "dedup_substring", "emb_kmeans", "text_repetition_stats",
    "corpus_boilerplate", "evt_sessionize", "mm_image_decode",
    "skew_hotkey_hybrid", "stream_hourly_counts", "io_merge_upsert",
)
QUERIES = JOIN_QUERIES + PIPELINE_OPS
FAMILY_OF_PREFIX = {
    "dedup": "functions.dedup_s", "emb": "functions.similarity_s",
    "text": "functions.text_s",
    "corpus": "functions.corpus_s", "evt": "functions.temporal_s",
    "mm": "functions.multimodal_s", "skew": "functions.skew_s",
    "stream": "streaming.ops_s", "io": "sources.io_s",
}
OBSERVE_PREFIXES = ("join_adaptive_", "join_feedback_")
PROBE_RANDOM_EPISODES = 8
PROBE_EPISODES_EVERY = 2  # timed queries between two rounds of probe episodes


def visit_order(names, seed: int, pass_index: int) -> list[str]:
    """The seed-shuffled order of one timed pass."""
    order = list(names)
    random.Random(f"{seed}/{pass_index}").shuffle(order)
    return order


def _session(cpus: str, work):
    """``session.get_session`` with its ``default`` profile, the warehouse
    and the JVM's scratch space moved into the benchmark's work directory."""
    from query_optimizer_spark import session

    # every JVM, the launcher's included, would keep a perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    base = session._base_builder

    def builder(app, cpus=None):
        return (
            base(app, cpus)
            .config("spark.sql.warehouse.dir", str(work / "warehouse" / "spark"))
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work / 'tmp'}")
        )

    session._base_builder = builder
    try:
        return session.get_session("perfbench", "default", cpus)
    finally:
        session._base_builder = base


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM and the Python workers it
    forked)."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name in parentheses may hold spaces; ppid follows it
        children[int(stat.rsplit(")", 1)[1].split()[1])].append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except OSError:
        return True


def _stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, close the JVM gateway and wait until the JVM and every
    process it started have exited (the JVM quits when its stdin closes)."""
    from pyspark import SparkContext

    started = _descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in started:
        while not _ended(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _oracle_answers(data_dir: str, names, oracle_sql) -> dict:
    """``{name: (rows, hash, sorted column names)}`` from DuckDB."""
    import duckdb

    from query_optimizer_spark import TABLES
    from tests.test_spark_exec import duck_hash

    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name in names:
        rows, digest = duck_hash(duck, oracle_sql[name])
        cols = sorted(r[0] for r in duck.execute(f"DESCRIBE {oracle_sql[name]}").fetchall())
        out[name] = (rows, digest, cols)
    duck.close()
    return out


def run(run) -> None:
    import __spark_entry__ as entry
    from query_optimizer_spark import sources
    # the driver-side path of harness.result_hash: same canonical rows and
    # sum, without a Python-worker pass per query
    from query_optimizer_spark.harness import _result_hash_local as result_hash
    from query_optimizer_spark.planners import PLANNERS

    import plan_search as ps
    from report import MIN_PASSES, ROOT, WORK as work, common_metrics, finish
    from stats import peak_rss_mb, unstolen_s, vm_mark
    from tracer import SparkJobs, install_spark_spans

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    shutil.rmtree(work / "warehouse", ignore_errors=True)
    (work / "warehouse").mkdir()
    # the engine keeps session state under its warehouse root
    sources.DEFAULT_WAREHOUSE = str(work / "warehouse")
    data = run.data_dir
    queries = entry.queries()
    extra: dict = {}
    phases = {"probe": 0.0}

    with ps.one_cpu():  # the server thread starts here and keeps the CPU
        probe = ps.Search(
            ps.make_inputs(data, run.seed, probe=True), run.seed, run.tracer,
            str(ROOT / "POLICY.json"), run, random_episodes=PROBE_RANDOM_EPISODES,
            planners={k: v for k, v in PLANNERS.items() if k != "reinforce"},
            unit_prefix="probe:",
        )

    def probe_round(episodes: bool) -> None:
        s0 = time.perf_counter()
        tracing, run.tracer.enabled = run.tracer.enabled, False
        with ps.one_cpu():
            for item in probe.items:
                probe.plan(item, list(probe.planners))
            if episodes:
                probe.episode_round(check=probe.samples.passes == 0)
                probe.samples.passes += 1
        run.tracer.enabled = tracing
        phases["probe"] += time.perf_counter() - s0

    try:
        probe_round(episodes=True)
        m0 = vm_mark()
        spark = _session(cpus, work)
        setup_s = extra["setup.session_s"] = unstolen_s(m0, vm_mark())
        try:
            s0 = time.perf_counter()
            answers = _oracle_answers(data, QUERIES, entry.oracle_sql())
            extra["verify.oracle_s"] = time.perf_counter() - s0

            s0 = time.perf_counter()
            usable, verify_s = [], {}
            for name in QUERIES:
                run.attempt(name)
                v0 = time.perf_counter()
                try:
                    df = queries[name](spark, data)
                    rows, digest = result_hash(df)
                    cols = sorted(df.columns)
                except Exception as exc:  # noqa: BLE001 - counted, never dropped
                    run.fail(name, f"{type(exc).__name__}: {str(exc)[:200]}")
                    continue
                verify_s[name] = time.perf_counter() - v0
                want = answers[name]
                if (rows, digest, cols) != want:
                    run.fail(name, f"got rows={rows} hash={digest} cols={cols}, oracle {want}")
                    continue
                usable.append(name)
            extra["verify.pass_s"] = time.perf_counter() - s0

            jobs = SparkJobs(spark) if run.trace else None
            if run.trace:
                install_spark_spans(run.tracer)
                run.tracer.enabled = True
            item_s: dict[str, list[float]] = {n: [] for n in usable}
            construct, action, per_query = [], [], []
            observe_jobs = []
            s0, probe_s0 = time.perf_counter(), phases["probe"]
            deadline = s0 + run.seconds
            passes = 0
            try:
                while passes < MIN_PASSES or time.perf_counter() < deadline:
                    for i, name in enumerate(visit_order(usable, run.seed, passes)):
                        probe_round(episodes=i % PROBE_EPISODES_EVERY == 0)
                        mark0 = jobs.mark() if jobs else 0
                        m0 = vm_mark()
                        try:
                            df = queries[name](spark, data)
                            q1 = time.perf_counter()
                            mark1 = jobs.mark() if jobs else 0
                            rows = df.count()
                        except Exception as exc:  # noqa: BLE001
                            run.fail(name, f"{type(exc).__name__}: {str(exc)[:200]}")
                            continue
                        m1 = vm_mark()
                        if rows != answers[name][0]:
                            run.fail(name, f"{rows} rows, oracle {answers[name][0]}")
                        item_s[name].append(unstolen_s(m0, m1))
                        construct.append(q1 - m0[0])
                        action.append(m1[0] - q1)
                        if jobs:
                            stats = jobs.collect(mark0, jobs.mark())
                            stats["jobs_before_action"] = mark1 - mark0
                            per_query.append(stats)
                            if name.startswith(OBSERVE_PREFIXES):
                                observe_jobs.append(stats["jobs"])
                    passes += 1
            finally:
                run.tracer.enabled = False
                run.tracer.restore()
            phases["timed"] = time.perf_counter() - s0 - (phases["probe"] - probe_s0)
            timed = max(1, len(construct))
            extra["sources.parquet_reads"] = run.tracer.calls("sources.read") / timed
            extra["sources.read_s"] = run.tracer.total("sources.read") / timed
            extra["executor.render_s"] = run.tracer.total("executor.render") / timed

            jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
            rss = peak_rss_mb([jvm_pid])
        finally:
            _stop_session(spark)
    finally:
        probe.close()

    phases.update({k.split(".")[1]: extra[k] for k in (
        "setup.session_s", "verify.oracle_s", "verify.pass_s")})
    run.details["phases_s"] = {k: round(v, 3) for k, v in phases.items()}
    probe.check_costs()
    metrics, samples = ps.search_metrics(probe.samples)
    run.metrics.update(metrics)
    run.details["samples"] = {"passes": passes, "probe": samples}
    item_s = {n: v for n, v in item_s.items() if v}
    run.details["query_s"] = {
        n: [round(verify_s[n], 3)] + [round(t, 3) for t in v] for n, v in item_s.items()
    }
    common_metrics(run, setup_s, item_s, rss)
    if run.trace:
        extra.update(_spark_layers(item_s, construct, action, per_query, observe_jobs, cpus))
    finish(run, passes, 0, extra)


def _spark_layers(item_s, construct, action, per_query, observe_jobs, cpus) -> dict:
    n = max(1, len(per_query))
    totals = defaultdict(float)
    for q in per_query:
        for k, v in q.items():
            if not k.startswith("max_task"):
                totals[k] += v
    out = {f"spark.{k}": v / n for k, v in totals.items() if k != "missing_jobs"}
    for k in ("max_task_s", "max_task_input_mb"):
        out[f"spark.{k}"] = max((q.get(k, 0.0) for q in per_query), default=0.0)
    wall = sum(construct) + sum(action)
    out["spark.slot_util"] = totals["executor_run_s"] / (wall * int(cpus)) if wall else 0.0
    out["driver.construct_s"] = statistics.fmean(construct) if construct else 0.0
    out["driver.action_s"] = statistics.fmean(action) if action else 0.0
    out["workload.observe_jobs"] = statistics.fmean(observe_jobs) if observe_jobs else 0.0
    for name, times in item_s.items():
        key = FAMILY_OF_PREFIX.get(name.split("_", 1)[0])
        if key:
            out[key] = out.get(key, 0.0) + min(times)
    return out
