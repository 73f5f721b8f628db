"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ``plan_search`` (planners and the park wire, no Spark) and
``join_exec`` (planned join queries and curation operators on Spark).  See perfbench/README.md for what each
metric measures.  The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it carries sample counts, the percentiles actually used, the failures and
the working directory.  With ``--trace 1`` the metrics are the per-layer
ones.  Everything the run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from report import BENCH_DIR, ROOT, WORK

WORKLOADS = ("plan_search", "join_exec")
SETUP_REPEATS = 3


def run_plan_search(run: Run) -> None:
    import plan_search as ps
    from query_optimizer_spark import workload
    from report import MIN_PASSES, common_metrics, finish
    from stats import peak_rss_mb, unstolen_s, vm_mark
    from tracer import install_search_spans

    policy = str(ROOT / "POLICY.json")
    setups = []
    with ps.one_cpu():
        for _ in range(SETUP_REPEATS):
            workload._base_rows.cache_clear()
            m0 = vm_mark()
            items = ps.make_inputs(run.data_dir, run.seed)
            search = ps.Search(items, run.seed, run.tracer, policy, run)
            setups.append(unstolen_s(m0, vm_mark()))
            if len(setups) < SETUP_REPEATS:
                search.close()
        if run.trace:
            install_search_spans(run.tracer)
            run.tracer.enabled = True
        deadline = time.perf_counter() + run.seconds
        try:
            while search.samples.passes < MIN_PASSES or time.perf_counter() < deadline:
                search.run_pass()
        finally:
            run.tracer.enabled = False
            run.tracer.restore()
            search.close()
    search.check_costs()
    s = search.samples
    run.details["samples"] = {"passes": s.passes}
    metrics, samples = ps.search_metrics(s)
    run.metrics.update(metrics)
    run.details["samples"].update(samples)
    common_metrics(run, statistics.median(setups), s.query_s, peak_rss_mb())
    plan_calls = sum(map(len, s.plan_s.values()))
    finish(run, s.passes, plan_calls, {"setup.inputs_s": statistics.median(setups)})


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "query_optimizer_spark" / "__init__.py").is_file():
        print(f"perfbench: no query_optimizer_spark package next to {BENCH_DIR}", file=sys.stderr)
        return 2
    for p in (str(ROOT / "scripts"), str(BENCH_DIR), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)
    WORK.mkdir(exist_ok=True)
    (WORK / "tmp").mkdir(exist_ok=True)
    # Python workers forked by Spark import the package from the repo,
    # whatever the working directory; scratch files stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])
    )
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")

    from report import Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    # tables are built in a child process, so that building them does not
    # count in this process's peak memory on a checkout's first run
    data_dir = WORK / "data"
    subprocess.run([sys.executable, str(BENCH_DIR / "datagen.py"), str(data_dir)], check=True)
    run.data_dir = str(data_dir)
    if args.workload == "plan_search":
        run_plan_search(run)
    else:
        import spark_exec

        spark_exec.run(run)
    run.details["failures"] = run.failures[:50]
    print(json.dumps(run.details, sort_keys=True))
    print(json.dumps(run.result()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
