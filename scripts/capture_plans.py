#!/usr/bin/env python
"""Capture .explain("formatted") for named declared queries into
plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<suffix>.txt (default r16) -- the before/after plan evidence the
optimization round's judge checks against OPTIMIZATION_<round>.md claims.

Usage: python scripts/capture_plans.py <suffix> <query> [query ...]
       (suffix is e.g. 'before' or 'after'; sf dir via SPARK_GRAFT_SF_DIR,
        default sf0.01 -- plan SHAPE is scale-invariant, data size is not)

Streaming queries have no batch explain; for stream_* names the captured
text is the streaming runtime plan from the "stream_audit" state record
after one run.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    import __spark_entry__ as entry
    from query_optimizer_spark.session import get_session

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r16"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session(
        "plan-capture", cpus=os.environ.get("SPARK_GRAFT_CPUS", "16")
    )
    qs = entry.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        if df.isStreaming:
            raise SystemExit(f"{name}: streaming frame reached capture")
        if name.startswith("stream_"):
            # the runner already executed the stream; the runtime plan
            # was captured by _run_to_memory
            from query_optimizer_spark.state import evidence

            audit = evidence(spark, sf_dir, "stream_audit")
            plan = (
                f"[streaming runtime plan via the stream_audit record;"
                f" output_mode={audit.get('output_mode')}]\n"
                + str(audit.get("plan", ""))
            )
        else:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {sf_dir} ({suffix})\n{plan}")
        print(f"wrote {path} ({len(plan)} B)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
