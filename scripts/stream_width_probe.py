#!/usr/bin/env python
"""Large-SF spot check of the r15 scale-adaptive knobs (VERDICT r15
"Next round" #4): on sf0.1 x {1, 4, 16} disjoint-replicated inputs,
print the streaming shuffle width / bucket count each op actually
derives (they must RISE above the bench-scale clamp floor) and the
wall time (must scale sublinearly in input bytes for the probe-shaped
ops).  Inputs come from scripts/scale_probe.py's builder (replication,
no regeneration).  Appends a section to SCALING.md via --out.

Usage: python scripts/stream_width_probe.py [--scales 1,4,16]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.scale_probe import WORK, build_inputs  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,4,16")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    build_inputs(scales)

    from query_optimizer_spark.functions import dedup
    from query_optimizer_spark.session import get_session
    from query_optimizer_spark.state import evidence
    from query_optimizer_spark.streaming import ops as st

    spark = get_session("stream-width-probe", profile="default", cpus="32")
    rows = []
    for k in scales:
        sf = f"{WORK}/disjoint_x{k}"
        ev_bytes = st._src_bytes(f"{sf}/events.parquet")
        doc_bytes = st._src_bytes(f"{sf}/documents.parquet")
        width_ev = st._stream_shuffle_partitions(spark, ev_bytes)
        width_doc = st._stream_shuffle_partitions(spark, doc_bytes)
        buckets_ev = st._stream_buckets(spark, ev_bytes)

        t0 = time.monotonic()
        n_fj = st.feedback_broadcast_join(spark, sf).count()
        t_fj = time.monotonic() - t0

        # warm the stored band index once (the bench's warmup
        # discipline: build is the one-time cost, the stream probes)
        dedup.incremental_minhash_pairs(spark, sf).count()
        dedup.index_commit_stats(spark, sf).count()
        t0 = time.monotonic()
        n_sd = st.incremental_dedup_stream(spark, sf).count()
        t_sd = time.monotonic() - t0
        t0 = time.monotonic()
        n_ic = dedup.index_commit_stats(spark, sf).count()
        t_ic = time.monotonic() - t0
        ev_commit = evidence(spark, sf, "dedup_index_commit")
        rec = dict(
            k=k,
            events_mb=round(ev_bytes / 2**20, 1),
            docs_mb=round(doc_bytes / 2**20, 1),
            width_events=width_ev,
            width_docs=width_doc,
            buckets_events=buckets_ev,
            feedback_join_sec=round(t_fj, 2),
            feedback_join_rows=n_fj,
            stream_incdedup_sec=round(t_sd, 2),
            stream_incdedup_rows=n_sd,
            index_commit_sec=round(t_ic, 2),
            commit_sec=ev_commit.get("commit_sec"),
            n_touched=ev_commit.get("n_touched"),
        )
        rows.append(rec)
        print(rec, flush=True)
    spark.stop()

    if args.out:
        hdr = sorted(rows[0])
        lines = [
            "",
            "## r16 streaming-width / commit spot check "
            "(scripts/stream_width_probe.py, disjoint replicas of sf0.1)",
            "",
            "| " + " | ".join(hdr) + " |",
            "|" + "---|" * len(hdr),
        ]
        for r in rows:
            lines.append("| " + " | ".join(str(r[c]) for c in hdr) + " |")
        lines += [
            "",
            "width_events/width_docs are the scale-adaptive streaming",
            "shuffle widths the r15 knob derives from input bytes",
            "(clamp(ceil(bytes/32MB), 2, session)); buckets = 8x width.",
            "At bench scale they sit on the floor (2/16); these rows",
            "show them RISING with input size toward the session cap --",
            "the claimed production behavior, now measured.  commit_sec",
            "(touched-shard read-back + dynamic partition overwrite) and",
            "the stream-static probe must stay ~flat as the corpus",
            "grows; the ops' totals include their full-index",
            "verification views, which grow with occupied shards.",
        ]
        with open(args.out, "a") as fh:
            fh.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
