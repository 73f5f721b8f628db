#!/usr/bin/env python
"""Physical-plan audit over the whole driver-contract surface.

Writes PLANS.md: one row per batch gate query with the plan properties
the scale review cares about -- join strategies, exchange (shuffle)
count, whole-stage-codegen spans, whether filters/pruning reached the
scans, and any cartesian products.  The table is the
"explain-until-it's-right" evidence: re-run after operator changes and
diff.

Usage: python scripts/plan_audit.py [--sf-dir DIR] [--out PLANS.md]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _n_ops(plan: str, op: str) -> int:
    """Count physical operators via their numbered detail headers --
    formatted explain prints every operator twice (tree + details), so
    raw substring counts double-count."""
    return len(re.findall(rf"\(\d+\) {op}\b", plan))


def audit(plan: str) -> dict:
    return {
        "bhj": _n_ops(plan, "BroadcastHashJoin"),
        "smj": _n_ops(plan, "SortMergeJoin"),
        "shj": _n_ops(plan, "ShuffledHashJoin"),
        "bnlj": _n_ops(plan, "BroadcastNestedLoopJoin"),
        "cartesian": _n_ops(plan, "CartesianProduct"),
        "exchanges": _n_ops(plan, "Exchange"),
        "broadcasts": _n_ops(plan, "BroadcastExchange"),
        "codegen": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "pushed": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        "topk": "TakeOrderedAndProject" in plan,
        "arrow": _n_ops(plan, "MapInPandas")
        + _n_ops(plan, "FlatMapGroupsInPandas"),
    }


_STATEFUL_OPS = (
    "StateStoreSave",
    "SessionWindowStateStoreSave",
    "StreamingDeduplicateWithinWatermark",
    "StreamingDeduplicate",
    "StreamingSymmetricHashJoin",
    "FlatMapGroupsInPandasWithState",
    "FlatMapGroupsWithState",
)


def _stream_audit(cap: dict) -> dict:
    """Reduce a captured streaming run (micro-batch plan + final
    StreamingQueryProgress) to the bounded-state evidence the scale
    review needs: which stateful operators ran, how many state rows
    they finished with, and whether a watermark advanced (the thing
    that makes the state bounded)."""
    plan = cap.get("plan", "")
    prog = cap.get("progress") or {}
    stateful = [op for op in _STATEFUL_OPS if f"{op} " in plan or f"{op}[" in plan]
    # de-dup substrings (e.g. StreamingDeduplicate inside ...WithinWatermark)
    stateful = [
        op for op in stateful
        if not any(op != o and op in o for o in stateful)
    ]
    ops_prog = prog.get("stateOperators") or []
    wm = (prog.get("eventTime") or {}).get("watermark")
    return {
        "mode": cap.get("output_mode", "?"),
        "stateful": stateful,
        "state_rows": [
            (o.get("operatorName", "?"), o.get("numRowsTotal"))
            for o in ops_prog
        ],
        "watermark": wm,
        "exchanges": len(re.findall(r"Exchange hashpartitioning", plan)),
        "arrow": plan.count("FlatMapGroupsInPandas"),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from query_optimizer_spark.executor import physical_plan
    from query_optimizer_spark.session import get_session
    from query_optimizer_spark.state import evidence

    spark = get_session("plan-audit", profile="default")
    rows = []
    stream_rows = []
    for name, fn in sorted(entry.queries().items()):
        if name.startswith("stream_"):
            # the memory/parquet sink table carries no plan, but the
            # terminated query object does: run the op, then read the
            # captured micro-batch plan + final progress
            try:
                fn(spark, args.sf_dir)
                stream_rows.append((name, _stream_audit(
                    evidence(spark, args.sf_dir, "stream_audit")
                )))
            except Exception as exc:  # pragma: no cover
                stream_rows.append((name, f"ERROR: {exc}"))
            continue
        try:
            a = audit(physical_plan(fn(spark, args.sf_dir)))
        except Exception as exc:  # pragma: no cover
            rows.append((name, f"ERROR: {exc}"))
            continue
        rows.append((name, a))

    with open(args.out, "w") as f:
        f.write(
            "# PLANS — physical-plan audit of the driver-contract surface\n\n"
            f"Generated by `scripts/plan_audit.py` at {args.sf_dir} "
            "(`default` profile: AQE + auto-broadcast on).  Shuffle count "
            "excludes broadcast exchanges.  `arrow` counts Arrow-batched "
            "Python stages (mapInPandas / applyInPandas); row-at-a-time "
            "UDFs would show as BatchEvalPython and are absent by "
            "design.  `dedup_clusters` checkpoints the converged "
            "labels (localCheckpoint every 3 propagation rounds + at "
            "convergence), so its audited lineage is CONSTANT in round "
            "count -- an ExistingRDD scan + the sizes join; at runtime "
            "each round still executes once against cached inputs, one "
            "shuffle per round.  `io_runtime_bloom_prune` audits as a "
            "LocalTableScan (it materializes its 3-row aggregate while "
            "its conf overrides are in force, then restores them); the "
            "REAL join plan is asserted inline in the op itself -- both "
            "`bloom_filter_agg` on the dimension side and "
            "`might_contain` in the fact scan filter must be present or "
            "the op raises (sources.py: runtime_bloom_prune).\n\n"
            "count()-elimination guards (r14, VERDICT r13 #2): a "
            "registry-wide sweep (`scripts/count_prune_audit.py`, "
            "pinned by `tests/test_plan_shape.py::"
            "test_registry_ops_survive_count_pruning`) found 23 ops "
            "whose trailing LEFT joins or Windows Catalyst eliminated "
            "under a bare `count()` -- bench/SCALING were timing plans "
            "that skipped that work.  All now carry row-level invariant "
            "filters pinning the full plan (their bench rows may rise "
            "accordingly -- that is the fix, not a regression): "
            "corpus_boilerplate, corpus_decontaminate_bloom, "
            "corpus_pack_sequences, corpus_shuffle_shard, "
            "corpus_source_stats, corpus_vocab_topk, dedup_semdedup, "
            "emb_matryoshka_recall, evt_anomaly_hours, evt_funnel, "
            "evt_quantile_rollup, evt_quantile_sketch, evt_range_join, "
            "evt_scd2_intervals, evt_transition_matrix, "
            "evt_value_quantiles, sim_range_search, text_bigram_topk, "
            "text_bpe_pair_topk, text_hll_rollup, text_hll_vocab, "
            "text_oov_bigram_rate, text_repetition_stats (plus the two "
            "r13 originals dedup_substring_removal, evt_gapfill_locf).\n\n"
            "| query | BHJ | SMJ | SHJ | BNLJ | cartesian | shuffles | "
            "broadcasts | codegen spans | pushed filters | top-k | arrow |\n"
            "|---|---|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, a in rows:
            if isinstance(a, str):
                f.write(f"| {name} | {a} |\n")
                continue
            f.write(
                f"| {name} | {a['bhj']} | {a['smj']} | {a['shj']} | "
                f"{a['bnlj']} | {a['cartesian']} | {a['exchanges']} | "
                f"{a['broadcasts']} | {a['codegen']} | "
                f"{'yes' if a['pushed'] else '—'} | "
                f"{'yes' if a['topk'] else '—'} | {a['arrow']} |\n"
            )
    with open(args.out, "a") as f:
        f.write(
            "\n## Streaming ops — micro-batch plan + state-store audit\n\n"
            "Captured from each op's terminated `availableNow` run: the\n"
            "last micro-batch physical plan (stateful operators) and the\n"
            "final `StreamingQueryProgress` (state rows, watermark).\n"
            "Every stateful op must show a watermark (or dedup-within-\n"
            "watermark semantics) so its state is bounded; `state rows`\n"
            "is the total retained in the state store at termination.\n\n"
            "| query | mode | stateful operators | state rows "
            "(operator, total) | watermark | shuffles | arrow |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for name, a in stream_rows:
            if isinstance(a, str):
                f.write(f"| {name} | {a} |\n")
                continue
            sr = "; ".join(f"{op}={n}" for op, n in a["state_rows"]) or "—"
            f.write(
                f"| {name} | {a['mode']} | "
                f"{', '.join(a['stateful']) or '—'} | {sr} | "
                f"{a['watermark'] or '—'} | {a['exchanges']} | "
                f"{a['arrow']} |\n"
            )
    n_cart = sum(
        a["cartesian"] for _, a in rows if not isinstance(a, str)
    )
    print(
        f"wrote {args.out}: {len(rows)} batch + {len(stream_rows)} "
        f"streaming queries, {n_cart} cartesians"
    )
    spark.stop()


if __name__ == "__main__":
    main()
