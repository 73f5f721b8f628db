"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "n_queries": N,
"reps": N, "cohorts": N, "sf": ...}.

Runs with the 'default' profile (AQE on, auto-broadcast on) -- the
configuration a real cluster would use; the planner still picks the join
order (SURVEY.md §4.2).

Methodology (VERDICT r5 "What's wrong" #1: unexplained run-tail drifts):

- every rep visits the headline queries in a DIFFERENT deterministic
  shuffled order (seed = rep index), so a query's reported best-of-reps
  time is never an artifact of always running at the same point in the
  session's lifetime;
- per-rep raw timings are emitted under "raw" (chronological per query),
  so a drift between rounds is decidable from the artifact alone --
  best-of-reps hides which rep was slow, raw does not;
- $SPARK_GRAFT_BENCH_COHORTS > 1 splits the reps across that many FRESH
  SparkSessions (stop + rebuild between cohorts, each warmed the same
  way), isolating session-aging effects from real regressions;
- the stdout line carries SCALARS ONLY (metric/value/unit/n_queries/
  reps/cohorts/sf, ~140 bytes): the driver's capture window is
  measured at exactly 2,000 bytes (VERDICT r7 #1) and a per-query map
  for 75+ queries can never fit it.  Per-query best-of-reps timings,
  raw per-rep timings, the planning-vs-execution split and the
  adaptive phase decomposition are written to
  $SPARK_GRAFT_BENCH_RAW_PATH (default BENCH_COHORTS_LATEST.json).

Raw-artifact schema ($SPARK_GRAFT_BENCH_RAW_PATH -- the per-query map's
contractual home; VERDICT r15 "what's wrong" #1):

    {"queries":  {name: best_of_reps_sec, ...},   # contract-named map
     "timings":  same map (legacy key, r7+ tooling reads this),
     "total_sec": sum of best-of-reps == the stdout "value",
     "raw":      {name: [per-rep sec, chronological], ...},
     "plan_sec": {fixture: planning-only sec, ...},
     "adaptive_split": {name: [phase decompositions], ...},
     "warmup_sec": [per-cohort fixed-warmup wall sec],
     "reps"/"cohorts"/"sf"/"order"/"note": run metadata}

Keys of "queries"/"timings"/"raw" always equal the headline list below
(enforced by tests/test_bench_contract.py); entries are only ever
ADDED round-over-round, never removed or renamed.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import warnings

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# keep the driver's capture window clean: pandas emits FutureWarning
# per Arrow batch in the asof/empty-frame concat path, and Python UDF
# workers are separate processes -- the env var reaches them where a
# filterwarnings() here cannot (VERDICT r8 #4)
os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
warnings.filterwarnings("ignore", category=FutureWarning)

# the ONLY keys the stdout line may carry; everything else (per-query
# maps, raw reps, phase splits) belongs to the side artifact
STDOUT_KEYS = ("metric", "value", "unit", "n_queries", "reps", "cohorts", "sf")


def stdout_summary_line(summary: dict) -> str:
    """Serialize the driver-facing stdout line from SCALARS ONLY.

    This is the single path to stdout: it rejects unknown keys and any
    non-scalar value, so a future refactor cannot silently route the
    per-query timings map back onto stdout and re-break the driver's
    2,000-byte capture window (VERDICT r8 #7 -- the r3/r6/r7
    "parsed": null saga).
    """
    extra = set(summary) - set(STDOUT_KEYS)
    if extra:
        raise ValueError(f"non-contract stdout keys: {sorted(extra)}")
    for k, v in summary.items():
        if not isinstance(v, (str, int, float)) or isinstance(v, bool):
            raise ValueError(f"stdout value for {k!r} is not a scalar: {type(v)}")
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1024:
        raise ValueError(f"stdout line {len(line)} B > 1024")
    return line

# headline set: every operator family (planner joins, SQL surface,
# dedup, similarity, text, temporal, streaming)
headline = [
    "join_chain_3", "join_star_4", "join_cycle_7", "join_cross_2",
    "join_selfjoin_4", "join_preds_3", "join_events_8", "join_group_3",
    "join_outer_3", "join_outer_removed", "join_outer_mixed_5",
    "sql_agg_pricing", "sql_window_rank", "sql_q5_local_revenue",
    "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_embedding_cosine",
    "sim_bruteforce_topk", "sim_lsh_ann_topk", "sim_ivf_topk",
    "text_token_count", "text_quality_score", "text_fingerprint",
    "text_bigram_topk", "skew_salted_join",
    "evt_hourly_rollup", "evt_sessionize", "evt_asof_join",
    "stream_hourly_counts",
    "corpus_vocab_topk", "corpus_tfidf_topk", "corpus_curate",
    "text_repetition_stats", "corpus_pack_sequences",
    "corpus_filter_funnel", "evt_retention_cohorts",
    "corpus_chunk_overlap", "evt_anomaly_hours", "corpus_score_model",
    # r4/r5 additions: containment dedup, grouped ranking, OOV rate,
    # learned-policy planning, data mixing, sharding, diversity
    "dedup_containment", "evt_hourly_topk", "text_oov_bigram_rate",
    "join_env_learned", "corpus_mix_weighted", "corpus_shuffle_shard",
    "text_token_diversity", "corpus_boilerplate",
    "evt_transition_matrix", "emb_norm_stats",
    # r6 additions: survivor selection, Gram matrix, distributed
    # k-means, BPE pair stats, user featurization, source data card
    "dedup_survivors", "emb_gram_matrix", "emb_kmeans",
    "text_bpe_pair_topk", "evt_user_features", "corpus_source_stats",
    "text_bigram_lm_score", "join_adaptive_reopt", "emb_pca_project",
    "stream_asof_join", "sql_recursive_spine", "io_partitioned_roundtrip",
    "evt_value_quantiles", "text_winnow_fingerprints",
    "dedup_family_agreement", "text_heaps_law", "sim_recall_report",
    "evt_markov_stationary", "corpus_dataset_card", "join_adaptive_full",
    # r7 additions: outer-graph progressive re-optimization, bucketed
    # range join, count-min sketch, cross-query feedback warm re-plan
    "join_adaptive_outer", "evt_range_join", "text_countmin_freq",
    "join_feedback_warm",
    # r8 additions: feedback-store sidecar round trip, streaming
    # broadcast-decision bridge, real BMP/PPM pixel decode, the four
    # derived-partsupp TPC-H shapes
    "join_feedback_persist", "stream_feedback_join", "mm_image_decode",
    "sql_q2_min_cost_supplier", "sql_q11_important_stock",
    "sql_q16_supplier_cnt", "sql_q20_promotion_stock",
    # late-r8 additions: binary-quantized ANN (Hamming pre-rank + exact
    # re-rank), co-located bucketed-table join (zero-Exchange asserted),
    # z-order clustering + footer min/max file skipping, runtime
    # bloom-filter fact-scan pruning (InjectRuntimeFilter asserted),
    # cross-engine bit-identical HyperLogLog vocabulary sketch
    "sim_hamming_topk", "io_bucketed_join", "io_zorder_skipping",
    "io_runtime_bloom_prune", "text_hll_vocab",
    # CDC -> SCD2 dimension build (two windows, one shuffle); PQ-ADC
    # ANN (8-byte codes, LUT probe, exact re-rank of survivors);
    # SemDeDup cluster-blocked semantic dedup (sum(|c|^2), not n^2)
    "evt_scd2_intervals", "sim_pq_adc_topk", "dedup_semdedup",
    # r9 additions: the pipeline-shaped planner fixture (documents x
    # embeddings x events curation probe, also a CARDSENS column) and
    # the table-maintenance trio -- incremental rollup maintenance,
    # copy-on-write MERGE upsert, small-file compaction
    "join_pipeline_5", "evt_incremental_rollup", "io_merge_upsert",
    "io_compact_small_files", "mm_audio_framing",
    # late-r9 additions: IVF-PQ ANN (coarse-quantizer list pruning
    # composed with the in-executor ADC scan), the HLL rollup
    # (per-source sketches merged to the corpus union), and the
    # streaming HLL (one 256-register state row per event_type)
    "sim_ivfpq_topk", "text_hll_rollup", "stream_hll_users",
    # bounded-state quantile sketch (<= 40 buckets/key, <2x bound)
    "evt_quantile_sketch",
    # Levenshtein verify of LSH candidates (quadratic DP per candidate)
    "dedup_edit_distance",
    # Bloom-filter decontamination (8 KB broadcast vs exact semi-join)
    "corpus_decontaminate_bloom",
    # r10 additions: partition-pruned IVF-PQ list layout (non-probed
    # lists never read -- scan metrics asserted), the quantile sketch's
    # rollup proof (per-day histograms merged by count addition), and
    # the streaming bounded-state quantile sketch
    "sim_ivfpq_pruned", "evt_quantile_rollup", "stream_quantile_sketch",
    # the end-to-end curation funnel (dedup -> near-dup -> decontam ->
    # quality), one composed plan, the data card's stage accounting
    "corpus_train_pipeline",
    # residual IVF-PQ (FAISS by_residual=true, precomputed ADC tables)
    "sim_ivfpq_residual",
    # PQ codebook training (per-subspace integer Lloyd, one Arrow
    # pass per round)
    "emb_pq_train",
    # native session_window (one merged-session aggregation)
    "evt_session_window_native",
    # r11 additions: incremental dedup against the stored
    # partition-pruned band index (build once per session, probe reads
    # only the batch's shards), and the park-API cardinality-surface
    # session (setCardinalities-injected planning, episode plan
    # executed engine-side)
    "dedup_incremental", "join_park_cards",
    # the ingest loop's write half: accepted batch docs committed via
    # dynamic partition overwrite of only the batch's shards
    "dedup_index_commit",
    # the ingest loop's streaming leg: arriving docs probe the stored
    # index via a stateless stream-static join
    "stream_incremental_dedup",
    # r12: the two-day ingest loop -- batch1 probe -> commit, then
    # batch2 probes the GROWN index (sees accepted batch1 docs) -- and
    # the KMV/theta set-overlap sketch (pairwise source shingle
    # jaccard estimated on K-int sketches, exact riding along)
    "dedup_multibatch", "text_kmv_overlap", "text_kmv_rollup",
    "stream_kmv_distinct",
    # r12 (cont.): exact duplicate-span detection, hypertable gap-fill
    # + LOCF, FAISS-parity cosine range search, hot-key-isolation join
    "dedup_substring", "evt_gapfill_locf", "sim_range_search",
    "skew_hotkey_hybrid",
    # r12 (cont.): sliding-window funnel, transcendental-free BM25
    # retrieval, mergeSchema generational read, incremental ANN ingest
    "evt_window_funnel", "text_bm25_topk", "io_schema_evolution",
    "sim_ivf_append", "emb_matryoshka_recall", "stream_window_funnel",
    "text_novelty_curve",
    # r13: the two-day IVF ingest leg (day 2 appends onto the grown
    # index), the ExactSubstr removal action (cleaned-corpus emit),
    # the ANN delete primitive (FAISS remove_ids parity), and
    # manifest snapshots + time travel (Iceberg-lite)
    "sim_ivf_multibatch", "dedup_substring_removal", "sim_ivf_delete",
    "io_snapshot_time_travel",
    # r14: IVF list compaction (store maintenance -- reps measure the
    # compacted-store probe), CDC read from manifest diffs, snapshot
    # expiry + vacuum (reps measure the retained-version read), and
    # coarse-quantizer recluster (reps measure the new-model probe)
    "sim_ivf_compact", "io_snapshot_changes", "io_snapshot_expiry",
    "sim_ivf_recluster", "text_bpe_train", "io_snapshot_branch",
    "text_bpe_apply",
    # r15: branch merge + fast-forward (reps measure the four
    # manifest-pruned ref reads; branch2 build + merge arithmetic are
    # warmup), per-doc tokenizer encode (reps measure the zero-shuffle
    # projection; trainer memo is warmup), and the streaming CDC tail
    # (reps measure the per-commit micro-batch replay; feed
    # materialization is warmup)
    "io_snapshot_merge", "text_bpe_encode", "stream_cdc_tail",
]


def _fresh_session(cpus: str):
    from query_optimizer_spark.session import get_session

    return get_session("spark-joinlab-bench", profile="default", cpus=cpus)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")

    import __spark_entry__ as entrymod
    from query_optimizer_spark import workload
    from query_optimizer_spark.functions.registry import warm_all
    from query_optimizer_spark.state import evidence

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    cohorts = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_COHORTS", "1")))
    cohorts = min(cohorts, reps)
    all_qs = entrymod.queries()
    qs = {name: all_qs[name] for name in headline}
    raw: dict[str, list[float]] = {name: [] for name in headline}
    plan_raw: dict[str, list[float]] = {}

    # distribute reps across cohorts (fresh session each); default 1
    per_cohort = [reps // cohorts] * cohorts
    for i in range(reps % cohorts):
        per_cohort[i] += 1

    rep_idx = 0
    spark = None
    adaptive_split: dict[str, list[dict]] = {}
    warmup_secs: list[float] = []
    try:
        for cohort_reps in per_cohort:
            if spark is not None:
                spark.stop()
            t_warm = time.monotonic()
            spark = _fresh_session(cpus)
            # every cohort gets the SAME fixed warmup, so shuffle order
            # can't skew phase splits and cohorts stay comparable
            warm_all(spark, sf_dir)
            warmup_secs.append(round(time.monotonic() - t_warm, 4))
            for _ in range(cohort_reps):
                order = headline[:]
                # deterministic per-rep shuffle: decorrelates a query's
                # timing from its position in the session's lifetime
                random.Random(rep_idx).shuffle(order)
                for name in order:
                    fn = qs[name]
                    t0 = time.monotonic()
                    df = fn(spark, sf_dir)
                    n = df.count() if df.isStreaming is False else -1
                    dt = time.monotonic() - t0
                    assert n >= 0
                    raw[name].append(round(dt, 4))
                    # adaptive queries record an "adaptive_split" state
                    # record (plan/observe/replan rounds) -- copy it so a
                    # total-time spike is decomposable; assembly_sec is
                    # the remainder (final count() outside the split)
                    if name.startswith(("join_adaptive", "join_feedback")):
                        split = evidence(spark, sf_dir, "adaptive_split")
                        split["assembly_sec"] = round(
                            dt
                            - split.get("plan_sec", 0)
                            - split.get("observe_sec", 0)
                            - split.get("replan_sec", 0)
                            # join_feedback_warm: the cold recording
                            # pass is its own split field, not assembly
                            - split.get("cold_record_sec", 0),
                            4,
                        )
                        split["total_sec"] = round(dt, 4)
                        adaptive_split.setdefault(name, []).append(split)
                    elif name == "stream_feedback_join":
                        split = evidence(spark, sf_dir, "feedback_join_split")
                        split["warm_exec_sec"] = round(
                            dt - split.get("record_sec", 0), 4
                        )
                        split["total_sec"] = round(dt, 4)
                        adaptive_split.setdefault(name, []).append(split)
                    elif name == "dedup_survivors":
                        split = evidence(spark, sf_dir, "cluster_split")
                        split["select_sec"] = round(
                            dt
                            - split.get("setup_sec", 0)
                            - split.get("propagate_sec", 0),
                            4,
                        )
                        split["total_sec"] = round(dt, 4)
                        adaptive_split.setdefault(name, []).append(split)
                    # planning-vs-execution split for planner-pipeline
                    # queries: time the planning slice alone (same
                    # oracle construction as the runner), so a total-
                    # time regression is attributable to plan time vs
                    # Spark execution (VERDICT r4 #3)
                    fixture, runner = workload.JOIN_QUERIES.get(name, (None, None))
                    if isinstance(runner, workload.Planned):
                        t0 = time.monotonic()
                        runner.plan(sf_dir, fixture)
                        plan_raw.setdefault(name, []).append(
                            round(time.monotonic() - t0, 4)
                        )
                rep_idx += 1
        timings = {name: round(min(ts), 3) for name, ts in raw.items()}
        plan_secs = {name: min(ts) for name, ts in plan_raw.items()}
        total = round(sum(timings.values()), 3)
        sf = (
            float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
            if "sf" in sf_dir
            else -1.0
        )
        # ONE compact stdout line for the driver.  The capture window
        # is MEASURED at exactly 2,000 bytes (VERDICT r7 #1: the
        # checked-in BENCH_r07 tail is 2,000 chars, chopped mid-key at
        # the front; r3/r6/r7 all recorded "parsed": null).  A
        # per-query map for 75+ queries (~27 B each) can NEVER fit and
        # grows every round, so stdout carries ONLY the scalars
        # (~140 B); the best-of-reps per-query map joins the raw
        # per-rep timings, plan/exec splits and the adaptive phase
        # decomposition in the side artifact.
        print(
            stdout_summary_line(
                {
                    "metric": "headline_queries_total_runtime",
                    "value": total,
                    "unit": "sec",
                    "n_queries": len(timings),
                    "reps": reps,
                    "cohorts": cohorts,
                    "sf": sf,
                }
            ),
            flush=True,
        )
        # the side artifact is best-effort: an unwritable path must not
        # discard the run the driver just captured from stdout
        side_path = os.environ.get(
            "SPARK_GRAFT_BENCH_RAW_PATH",
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_COHORTS_LATEST.json",
            ),
        )
        try:
            with open(side_path, "w") as fh:
                json.dump(
                    {
                        # the per-query map under BOTH names: "queries"
                        # is the driver contract's name for it (the r15
                        # PERF per-query comparison came back empty --
                        # n_common 0 -- plausibly a key-name mismatch);
                        # "timings" stays for every r7+ script/artifact
                        # that reads it.  Same object, never diverges.
                        "queries": timings,
                        "timings": timings,
                        "total_sec": total,
                        "raw": raw,
                        "plan_sec": plan_secs,
                        "adaptive_split": adaptive_split,
                        # per-cohort session-build + fixed-warmup wall
                        # time (r9 VERDICT #6: the driver stdout total
                        # vs this artifact's wall clock differ by
                        # exactly the warmups + the plan-split
                        # instrumentation reruns -- now reconcilable
                        # from the artifact alone)
                        "warmup_sec": warmup_secs,
                        "note": (
                            "total_sec = sum of best-of-reps query"
                            " timings; run wall clock additionally"
                            " includes warmup_sec per cohort and the"
                            " plan_sec instrumentation reruns"
                        ),
                        "reps": reps,
                        "cohorts": cohorts,
                        "order": "shuffled per rep (seed=rep index)",
                        "sf": sf,
                    },
                    fh,
                    indent=1,
                )
        except OSError as exc:
            print(f"side artifact not written ({exc})", file=sys.stderr)
    finally:
        if spark is not None:
            spark.stop()


if __name__ == "__main__":
    main()
