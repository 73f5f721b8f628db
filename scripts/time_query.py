#!/usr/bin/env python
"""Time individual declared queries in isolation: fresh default-profile
session, the same ``registry.warm_all`` warmup bench.py runs, then N reps
of fn(spark, sf_dir).count() with per-rep wall clock.  For measurement
only -- never part of the bench.

Usage: [SPARK_GRAFT_SF_DIR=...] python scripts/time_query.py [-n REPS]
       [--no-warm] query [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description="time declared queries")
    ap.add_argument("-n", dest="reps", type=int, default=3)
    ap.add_argument("--no-warm", dest="warm", action="store_false")
    ap.add_argument("names", nargs="*")
    args = ap.parse_intermixed_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")

    import __spark_entry__ as entry
    from query_optimizer_spark.functions.registry import warm_all
    from query_optimizer_spark.session import get_session

    spark = get_session("time-query", profile="default", cpus=cpus)
    qs = entry.queries()
    if args.warm:
        t0 = time.monotonic()
        warm_all(spark, sf_dir)
        print(f"warmup {time.monotonic() - t0:.1f}s", flush=True)

    for name in args.names:
        times = []
        for r in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            t0 = time.monotonic()
            n = qs[name](spark, sf_dir).count()
            dt = time.monotonic() - t0
            times.append(dt)
            print(f"  {name} rep{r}: {dt:.3f}s  (rows={n})", flush=True)
        print(
            f"{name}: min {min(times):.3f}s  reps "
            + " ".join(f"{t:.3f}" for t in times),
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
