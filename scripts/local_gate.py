"""Local replica of the driver's correctness gate.

Runs EVERY entry of ``__spark_entry__.queries()`` against its
``oracle_sql()`` twin on the same parquet tables and reports
rows/schema/hash agreement -- the driver only records the first 50
declared queries per round, so this is the only place the full surface
gets checked in one shot.

Usage: python scripts/local_gate.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Spark's Python workers import the package too, from their own path
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, [REPO, os.environ.get("PYTHONPATH")])
)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from query_optimizer_spark import TABLES
    from query_optimizer_spark.harness import result_hash
    from query_optimizer_spark.session import get_session
    from tests.test_spark_exec import duck_hash

    spark = get_session("local-gate", cpus=os.environ.get("SPARK_GRAFT_CPUS", "16"))
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    queries = entry.queries()
    oracles = entry.oracle_sql()
    out: dict[str, dict] = {}
    failed = []
    for name, fn in queries.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        rec: dict = {}
        try:
            df = fn(spark, SF_DIR)
            n_spark, h_spark = result_hash(df)
            n_duck, h_duck = duck_hash(duck, oracles[name])
            # schema check: the compare sorts columns by name, so the
            # contract is the NAME SET; DESCRIBE plans without executing
            # the oracle a second time
            duck_cols = sorted(
                r[0]
                for r in duck.execute(
                    f"DESCRIBE {oracles[name]}"
                ).fetchall()
            )
            spark_cols = sorted(df.columns)
            rec = {
                "rows_match": n_spark == n_duck,
                "schema_match": spark_cols == duck_cols,
                "hash_match": h_spark == h_duck,
                "spark_rows": n_spark,
                "oracle_rows": n_duck,
            }
            if not rec["schema_match"]:
                rec["spark_cols"] = spark_cols
                rec["oracle_cols"] = duck_cols
            ok = (
                rec["rows_match"]
                and rec["schema_match"]
                and rec["hash_match"]
            )
        except Exception as e:  # noqa: BLE001 - gate must keep going
            rec = {"err": f"{type(e).__name__}: {e}"}
            ok = False
            traceback.print_exc()
        rec["sec"] = round(time.time() - t0, 2)
        out[name] = rec
        status = "ok" if ok else "FAIL"
        if not ok:
            failed.append(name)
        print(f"{status:4} {name:28} {rec}", flush=True)

    print(f"\n{len(out)} checked, {len(failed)} failed: {failed}")
    # checked-in evidence: the driver's gate records only the first 50
    # declared queries, this file carries the full surface
    if not ONLY:
        with open(os.path.join(REPO, "CORRECTNESS_LOCAL_FULL.json"), "w") as f:
            json.dump({"sf_dir": SF_DIR, "results": out}, f, indent=1)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
