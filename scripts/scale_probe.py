#!/usr/bin/env python
"""Scale probe for the quadratic-prone operators (VERDICT r4 #7).

Builds sf1-equivalent (and beyond) inputs by replicating the sf0.1
testdata -- no driver data regeneration -- and measures wall time and
candidate-pair counts for the three operators whose 100 TB claims rest
on docstrings:

- dedup_containment (MinHash-band candidates -> exact verify)
- embedding_cosine_pairs_blocked (distributed exact all-pairs matmul)
- corpus_tfidf_topk (agg + join, post-r5 hot-key-window fix)

Two replication modes for documents:

- ``replica``:  exact copies under new doc_ids -- the WORST case for
  dedup: every original row gains k exact twins, so true-duplicate
  structure (and candidate pairs) grows ~k^2.  This probes that the
  band-bucket + verify design absorbs a pair blowup without a driver
  collapse.
- ``disjoint``: every token of replica i>0 is suffixed ``q<i>`` (the
  tokenizer keeps [a-z0-9], so replicas share no shingles with the
  original).  Dup-rate per replica stays constant -- the realistic
  corpus-growth model; times should grow ~linearly.

Embeddings replicate exactly (cosine flops are O(n^2) BY SPEC; the
probe verifies the measured exponent and that no driver
materialization sneaks in).

Writes SCALING.md.  Usage:
    python scripts/scale_probe.py [--scales 1,2,4,8] [--out SCALING.md]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from query_optimizer_spark.sources import DEFAULT_WAREHOUSE
from query_optimizer_spark.state import evidence

BASE = "/root/testdata/sf0.1"
WORK = f"{DEFAULT_WAREHOUSE}/scaleprobe"
ID_STRIDE = 10_000_000
# hotuser mode: the hot user's views replicate x (k * HOT_BASE) so the
# skewed key carries real volume (the base user has only ~10 views)
HOT_BASE = 250
# vocabgrowth mode scales (documents only; see build_inputs)
CM_SCALES = (1, 8, 32)


def build_inputs(scales: list[int]) -> None:
    con = duckdb.connect()
    for k in scales:
        for mode in ("replica", "disjoint"):
            d = Path(f"{WORK}/{mode}_x{k}")
            d.mkdir(parents=True, exist_ok=True)
            docs_out = d / "documents.parquet"
            if not docs_out.exists():
                text_expr = (
                    "d.text"
                    if mode == "replica"
                    else "CASE WHEN r.i = 0 THEN d.text ELSE "
                    "array_to_string(list_transform(string_split(d.text, ' '), "
                    "x -> x || 'q' || r.i), ' ') END"
                )
                con.execute(
                    f"""
                    COPY (
                      SELECT d.doc_id + r.i * {ID_STRIDE} AS doc_id,
                             {text_expr} AS text,
                             d.lang, d.source, d.n_chars
                      FROM read_parquet('{BASE}/documents.parquet') d,
                           (SELECT unnest(range({k})) AS i) r
                      ORDER BY doc_id
                    ) TO '{docs_out}' (FORMAT parquet)
                    """
                )
            emb_out = d / "embeddings.parquet"
            if not emb_out.exists():
                # replica: exact vector twins (ANN worst case -- every
                # neighborhood k x denser).  disjoint: replica i>0
                # vectors get a deterministic per-replica rotation-ish
                # perturbation (scale + offset varying by position), so
                # the corpus grows with NEW points -- the realistic ANN
                # growth model (r9 VERDICT #7); the first-ID_STRIDE
                # model rows (queries/centroids/codebook) stay fixed
                emb_expr = (
                    "e.embedding"
                    if mode == "replica"
                    else "CASE WHEN r.i = 0 THEN e.embedding ELSE "
                    "list_transform(e.embedding, "
                    "x -> x * (1.0 + 0.03 * r.i) "
                    "+ 0.017 * r.i * sin(x * 37.0 + r.i)) END"
                )
                con.execute(
                    f"""
                    COPY (
                      SELECT e.vec_id + r.i * {ID_STRIDE} AS vec_id,
                             {emb_expr} AS embedding, e.label
                      FROM read_parquet('{BASE}/embeddings.parquet') e,
                           (SELECT unnest(range({k})) AS i) r
                      ORDER BY vec_id
                    ) TO '{emb_out}' (FORMAT parquet)
                    """
                )
            evt_out = d / "events.parquet"
            if not evt_out.exists():
                # replica: same user_ids -- per-user event volume
                # multiplies by k (hot-user adversarial case for the
                # user_id-shuffled ops); disjoint: replica users are NEW
                # user_ids -- constant per-user volume, user count grows
                # linearly (the realistic growth model)
                user_expr = (
                    "e.user_id"
                    if mode == "replica"
                    else f"e.user_id + r.i * {ID_STRIDE}"
                )
                con.execute(
                    f"""
                    COPY (
                      SELECT e.event_id + r.i * {ID_STRIDE} AS event_id,
                             e.ts, {user_expr} AS user_id,
                             e.event_type, e.value, e.props
                      FROM read_parquet('{BASE}/events.parquet') e,
                           (SELECT unnest(range({k})) AS i) r
                      ORDER BY event_id
                    ) TO '{evt_out}' (FORMAT parquet)
                    """
                )
            # TPC-H dims/facts copied UNCHANGED: the adaptive-fixture
            # probes model fact-table growth (events x k) against
            # constant dimensions -- the realistic warehouse shape
            import shutil

            for t in (
                "region nation customer supplier part orders lineitem"
            ).split():
                dst = d / f"{t}.parquet"
                if not dst.exists():
                    shutil.copyfile(f"{BASE}/{t}.parquet", dst)
    # hotuser mode (events only): ONE user's view events replicate
    # x (k * HOT_BASE), everything else stays single -- the range-join
    # adversarial skew case (VERDICT r7 #7): all the growth lands on
    # one (user_id, bucket) join key, so only AQE skew-splitting stands
    # between the probe and a straggler task.  The hot user is the one
    # with the most view-within-1h-of-purchase matches (maximizing the
    # skewed key's join fanout, not just its build-side rows).
    hot, hot_views = con.execute(
        f"""
        WITH matched AS (
            SELECT p.user_id, count(*) AS pairs
            FROM read_parquet('{BASE}/events.parquet') p
            JOIN read_parquet('{BASE}/events.parquet') v
              ON p.user_id = v.user_id
            WHERE p.event_type = 'purchase' AND v.event_type = 'view'
              AND v.ts > p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
            GROUP BY 1 ORDER BY pairs DESC, p.user_id LIMIT 1
        )
        SELECT m.user_id,
               (SELECT count(*) FROM read_parquet('{BASE}/events.parquet')
                WHERE user_id = m.user_id AND event_type = 'view')
        FROM matched m
        """
    ).fetchone()
    for k in scales:
        d = Path(f"{WORK}/hotuser_x{k}")
        d.mkdir(parents=True, exist_ok=True)
        evt_out = d / "events.parquet"
        if not evt_out.exists():
            con.execute(
                f"""
                COPY (
                  SELECT e.event_id + r.i * {ID_STRIDE} AS event_id,
                         e.ts, e.user_id, e.event_type, e.value, e.props
                  FROM read_parquet('{BASE}/events.parquet') e,
                       (SELECT unnest(range({k * HOT_BASE})) AS i) r
                  WHERE r.i = 0
                     OR (e.user_id = {hot} AND e.event_type = 'view')
                  ORDER BY event_id
                ) TO '{evt_out}' (FORMAT parquet)
                """
            )
    # vocabgrowth mode (documents only, deeper scales): the base corpus
    # vocabulary (~31 tokens) is far below CM_WIDTH=256, so the main
    # scales never saturate the count-min sketch; these dedicated
    # scales push vocabulary to ~4x the width (VERDICT r7 #7)
    for m in CM_SCALES:
        d = Path(f"{WORK}/vocab_x{m}")
        d.mkdir(parents=True, exist_ok=True)
        docs_out = d / "documents.parquet"
        if not docs_out.exists():
            con.execute(
                f"""
                COPY (
                  SELECT d.doc_id + r.i * {ID_STRIDE} AS doc_id,
                         CASE WHEN r.i = 0 THEN d.text ELSE
                           array_to_string(list_transform(
                             string_split(d.text, ' '),
                             x -> x || 'q' || r.i), ' ') END AS text,
                         d.lang, d.source, d.n_chars
                  FROM read_parquet('{BASE}/documents.parquet') d,
                       (SELECT unnest(range({m})) AS i) r
                  ORDER BY doc_id
                ) TO '{docs_out}' (FORMAT parquet)
                """
            )
    con.close()
    return hot, hot_views


def fit_exponent(ns: list[int], ts: list[float]) -> float:
    """Least-squares slope of log t vs log n."""
    xs = [math.log(n) for n in ns]
    ys = [math.log(max(t, 1e-9)) for t in ts]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    num = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    den = sum((x - mx) ** 2 for x in xs)
    return num / den


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,2,4,8")
    ap.add_argument("--out", default="SCALING.md")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    hot_user, hot_views = build_inputs(scales)

    from query_optimizer_spark.functions import (
        clustering,
        corpus,
        dedup,
        similarity,
        temporal,
        text,
    )
    from query_optimizer_spark import sources as qsources
    from query_optimizer_spark.session import get_session
    from query_optimizer_spark.streaming import ops as qstreaming

    spark = get_session("scale-probe", profile="default", cpus="32")

    rows: dict[str, list[dict]] = {}

    def probe(op_name: str, mode: str, k: int, fn, n_rows: int, extra=None,
              post=None):
        t0 = time.monotonic()
        out_rows = fn().count()
        dt = time.monotonic() - t0
        rec = {"k": k, "n": n_rows, "sec": round(dt, 2), "out_rows": out_rows}
        if extra:
            rec.update(extra)
        if post:
            rec.update(post())
        if "build_sec" in rec:
            # split ops (index build + probe): the probe phase alone is
            # the claim under test, so expose it as its own column
            rec["probe_sec"] = round(dt - rec["build_sec"], 2)
        rows.setdefault(f"{op_name} ({mode})", []).append(rec)
        print(f"{op_name} ({mode}) x{k}: n={n_rows} -> {out_rows} rows "
              f"in {dt:.2f}s {extra or ''}", flush=True)

    n_docs0 = 5000
    n_vecs0 = 2000
    n_events0 = 100_000

    # warm the JVM once
    corpus.vocabulary_topk(spark, f"{WORK}/disjoint_x1").count()

    for k in scales:
        # --- containment, worst-case replica mode: candidate count too
        sf = f"{WORK}/replica_x{k}"
        sig = dedup.minhash_signatures(spark, sf)
        n_cand = dedup._band_candidates(sig).count()
        probe("dedup_containment", "replica", k,
              lambda sf=sf: dedup.containment_pairs(spark, sf),
              n_docs0 * k, {"band_candidates": n_cand})
        # --- containment, constant-dup-rate disjoint mode
        sf = f"{WORK}/disjoint_x{k}"
        sig = dedup.minhash_signatures(spark, sf)
        n_cand = dedup._band_candidates(sig).count()
        probe("dedup_containment", "disjoint", k,
              lambda sf=sf: dedup.containment_pairs(spark, sf),
              n_docs0 * k, {"band_candidates": n_cand})
        # --- incremental dedup against the stored band index (r11,
        # VERDICT r10 #4): the batch is the FIXED 50 lowest doc_ids
        # (replica/disjoint growth appends ids at +i*ID_STRIDE, so the
        # batch never grows).  build_sec is the one-time linear index
        # cost; the PROBE phase (total - build) must stay ~flat in
        # corpus size -- files_probed is pinned by the batch's shard
        # union while files_total grows with the corpus.  Disjoint
        # replicas share no shingles (constant collision structure);
        # replica mode is the adversarial case where every batch doc
        # gains k exact twins and out_rows grows ~k.
        def _inc_post(sf_of):
            def post():
                info = evidence(spark, sf_of, "dedup_incremental")
                build = info.pop("build_sec", 0.0)
                return {"build_sec": round(build, 2), **info}

            return post

        sf = f"{WORK}/replica_x{k}"
        probe("dedup_incremental", "replica", k,
              lambda sf=sf: dedup.incremental_minhash_pairs(spark, sf),
              n_docs0 * k, post=_inc_post(sf))
        sf = f"{WORK}/disjoint_x{k}"
        probe("dedup_incremental", "disjoint", k,
              lambda sf=sf: dedup.incremental_minhash_pairs(spark, sf),
              n_docs0 * k, post=_inc_post(sf))
        # --- index commit (r11): the write half.  commit_sec (touched
        # read-back + dynamic partition overwrite) must stay ~flat in
        # corpus size; the op's TOTAL grows linearly because its output
        # is a full-index per-shard aggregate (the verification view,
        # not the commit).  The index was just built by the probe above;
        # the commit is real on the first call per scale point.
        def _commit_post(sf_of):
            def post():
                ev = evidence(spark, sf_of, "dedup_index_commit")
                return {
                    "commit_sec": ev.get("commit_sec"),
                    "n_touched": ev.get("n_touched"),
                    "n_accepted": ev.get("n_accepted"),
                    "commit_skipped": ev.get("commit_skipped"),
                }

            return post

        probe("dedup_index_commit", "disjoint", k,
              lambda sf=sf: dedup.index_commit_stats(spark, sf),
              n_docs0 * k, post=_commit_post(sf))
        # --- tfidf on the realistic growth model
        probe("corpus_tfidf_topk", "disjoint", k,
              lambda sf=sf: corpus.tfidf_topk(spark, sf), n_docs0 * k)
        # --- duplicate-span detection (r12): replica mode is the
        # adversarial case -- every K-gram's occurrence count scales
        # x k, so EVERY span goes duplicate and the gram join fans out
        # maximally; the map-side-combining count + co-partitioned
        # join-back must absorb that without a hot task.  Disjoint
        # replicas share no grams (suffixed tokens): constant dup
        # structure, time ~linear in corpus
        probe("dedup_substring", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}":
                  dedup.substring_dup_spans(spark, sf),
              n_docs0 * k)
        probe("dedup_substring", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  dedup.substring_dup_spans(spark, sf),
              n_docs0 * k)
        # --- novelty curve (r12): same gram machinery as
        # dedup_substring (per-doc distinct grams -> min(doc_id) agg ->
        # co-partitioned join back), so disjoint growth must track its
        # ~linear exponent
        probe("text_novelty_curve", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  text.novelty_curve(spark, sf),
              n_docs0 * k)
        # --- ExactSubstr removal (r13): the diagnostic's gram
        # machinery plus the covered-position explode (K rows per
        # duplicated gram start), the span lag window, and the
        # ordered cleaned-text rollup -- all doc_id-keyed, so disjoint
        # growth must stay ~linear like dedup_substring; replica mode
        # is again the adversarial case (every gram duplicated -> every
        # doc fully excised, maximal covered-explode fan-out)
        probe("dedup_substring_removal", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}":
                  dedup.substring_removal(spark, sf),
              n_docs0 * k)
        probe("dedup_substring_removal", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  dedup.substring_removal(spark, sf),
              n_docs0 * k)
        # --- manifest snapshots (r13; range data-derived r14): the two
        # initial commits are the linear cost; the COW delete must stay
        # bounded by the files overlapping the doomed doc_id range
        # (0 < n_affected < n_files_v2 at EVERY scale -- the takedown
        # bounds are rank order statistics of the observed ids now, so
        # striped disjoint replicas can no longer park the range in an
        # id void and make the claim vacuous, r13 VERDICT), and the
        # AS-OF reads are manifest-pruned.  A fixed-rank takedown
        # against a growing corpus is also the realistic regime: the
        # deletion request does not grow because the table did, so
        # n_affected should stay ~flat.
        def _snap_post(sf=f"{WORK}/disjoint_x{k}"):
            return {k2: evidence(spark, sf, "doc_snapshots").get(k2)
                    for k2 in ("n_files_v1", "n_files_v2", "n_affected",
                               "n_files_v3")}

        probe("io_snapshot_time_travel", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  qsources.snapshot_time_travel(spark, sf),
              n_docs0 * k, post=_snap_post)
        # --- snapshot CDC read (r14): the insert delta is the append
        # commit's files (~half the corpus -> ~linear) but the delete
        # delta reads only the fixed-rank takedown's affected +
        # rewritten files -- n_affected must stay small and ~flat
        probe("io_snapshot_changes", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  qsources.snapshot_changes(spark, sf),
              n_docs0 * k, post=_snap_post)
        # --- snapshot expiry + vacuum (r14): manifest set-arithmetic
        # + |orphans| unlinks (both file-count-bounded, ~flat); the
        # timed read is the retained version's manifest-pruned scan
        def _exp_post(sf=f"{WORK}/disjoint_x{k}"):
            ev = evidence(spark, sf, "doc_snapshots_exp")
            return {"n_orphans_deleted": ev.get("n_orphans_deleted"),
                    "n_retained": ev.get("n_retained")}

        probe("io_snapshot_expiry", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  qsources.snapshot_expiry(spark, sf),
              n_docs0 * k, post=_exp_post)
        # --- snapshot branching (r14): the branch commit reads/writes
        # only the files overlapping its fixed-rank window (~flat);
        # the three ref reads are manifest-pruned
        probe("io_snapshot_branch", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  qsources.snapshot_branch(spark, sf),
              n_docs0 * k)
        # --- BM25 retrieval (r12): the corpus-sized stage is the token
        # explode pruned by the broadcast term join.  Disjoint replicas
        # suffix every token, so query terms match ONLY the original
        # replica: the candidate tf table stays CONSTANT while the
        # corpus grows -- wall time must track the linear scan, and
        # out_rows stays pinned at |queries| * K
        probe("text_bm25_topk", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  text.bm25_topk(spark, sf),
              n_docs0 * k)
        # --- iterative BPE trainer (r14): the corpus-sized stage is
        # the ONE memoized word count (linear); every merge iteration
        # is vocab-sized.  Disjoint replicas suffix tokens, so the
        # vocabulary ALSO grows ~linearly -- wall time must stay
        # ~linear overall, never quadratic in merges x corpus
        probe("text_bpe_train", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  text.bpe_train_merges(spark, sf),
              n_docs0 * k)
        # --- per-doc BPE encode (r15): one narrow projection over the
        # corpus (K chained replaces inside a transform lambda, zero
        # shuffles) -- wall time must stay ~linear in docs; the merge
        # table is memoized model state (charged to the trainer probe)
        probe("text_bpe_encode", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  text.bpe_encode_docs(spark, sf),
              n_docs0 * k)
        # --- branch merge + fast-forward (r15): branch2's rewrite is
        # bounded by the files overlapping its fixed tail-rank window
        # (~flat); the merge itself is manifest set arithmetic (zero
        # data files); the four ref reads are manifest-pruned -- wall
        # time tracks the v2/v3-sized stats scans, file counts constant
        probe("io_snapshot_merge", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  qsources.snapshot_merge(spark, sf),
              n_docs0 * k)
        # --- streaming CDC tail (r15): the change feed is bounded by
        # the commits' changed rows (insert delta ~half the corpus ->
        # ~linear; delete delta fixed-rank ~flat); the replay is two
        # micro-batches at every scale -- per-commit batch count is
        # raise-enforced in-op, so a passing probe IS the contract
        probe("stream_cdc_tail", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  qstreaming.cdc_tail_stream(spark, sf),
              n_docs0 * k)
        # --- exact blocked cosine (block_rows=2000 so every scale is
        # multi-block / genuinely distributed)
        sf = f"{WORK}/replica_x{k}"
        probe("cosine_blocked", "replica", k,
              lambda sf=sf: dedup.embedding_cosine_pairs_blocked(
                  spark, sf, block_rows=2000),
              n_vecs0 * k)
        # --- binary-quantized ANN (r8): the Hamming pre-rank scans the
        # 8-byte packed-signature column once per query set (fixed
        # ANN_N_QUERIES), so wall time must grow ~linearly in corpus
        # size while the exact-cosine re-rank stays CONSTANT
        # (HAM_CANDIDATES survivors per query regardless of n)
        probe("sim_hamming_topk", "replica", k,
              lambda sf=sf: similarity.hamming_topk(spark, sf),
              n_vecs0 * k)
        # --- PQ-ADC ANN (r8): encode is linear in corpus size (one
        # broadcast-codebook pass), the per-query LUT is CONSTANT
        # (PQ_M x PQ_K), the ADC probe is linear, and the exact re-rank
        # stays at PQ_CANDIDATES survivors per query regardless of n
        probe("sim_pq_adc_topk", "replica", k,
              lambda sf=sf: similarity.pq_adc_topk(spark, sf),
              n_vecs0 * k)
        # --- IVF-PQ ANN (r9): composes the coarse-quantizer prune with
        # the ADC scan, so the per-query work is ~(nprobe/nlist) of
        # pq_adc's -- the measured exponent must stay at-or-below
        # pq_adc's and the constant visibly smaller (the probed-list
        # mask cuts candidate volume before the one shuffle)
        probe("sim_ivfpq_topk", "replica", k,
              lambda sf=sf: similarity.ivfpq_topk(spark, sf),
              n_vecs0 * k)
        # --- ANN corpus-growth (disjoint) rows (r9 VERDICT #7): the
        # realistic model -- replicas are NEW perturbed points, so
        # neighborhoods stay constant-density while the corpus grows.
        # These are the scale claims that matter for ANN: one linear
        # codes pass, constant re-rank volume
        sfd = f"{WORK}/disjoint_x{k}"
        probe("sim_pq_adc_topk", "disjoint", k,
              lambda sf=sfd: similarity.pq_adc_topk(spark, sf),
              n_vecs0 * k)
        probe("sim_ivfpq_topk", "disjoint", k,
              lambda sf=sfd: similarity.ivfpq_topk(spark, sf),
              n_vecs0 * k)
        # --- partition-pruned IVF-PQ (r10, VERDICT r9 #2): build
        # (encode + partitioned write) is the one-time linear index
        # cost, reported separately via build_sec; probe_sec = total -
        # build must scale with nprobe/nlist of the corpus, and the
        # files_probed/files_total evidence rides along per scale
        def _pruned_post(sf_of):
            def post():
                info = evidence(spark, sf_of, "ivfpq_pruned")
                build = info.pop("build_sec", 0.0)
                return {"build_sec": round(build, 2), **info}

            return post

        probe("sim_ivfpq_pruned", "replica", k,
              lambda sf=sf: similarity.ivfpq_pruned_topk(spark, sf),
              n_vecs0 * k, post=_pruned_post(sf))
        probe("sim_ivfpq_pruned", "disjoint", k,
              lambda sf=sfd: similarity.ivfpq_pruned_topk(spark, sf),
              n_vecs0 * k, post=_pruned_post(sfd))
        # --- incremental ANN ingest (r12): the batch is a FIXED vec_id
        # slice, so append_sec (frozen-model encode + dynamic partition
        # overwrite of the batch's lists) must stay ~flat while the
        # corpus -- and the one-time base build_sec -- grows linearly;
        # files_probed tracks the probe-list subset, never the corpus
        def _append_post(sf_of):
            def post():
                ev = evidence(spark, sf_of, "ivf_append")
                return {
                    "build_sec": round(ev.get("build_sec", 0.0), 2),
                    "append_sec": ev.get("append_sec"),
                    "n_touched": ev.get("n_touched"),
                    "files_probed": ev.get("files_probed"),
                    "files_total": ev.get("files_total"),
                }

            return post

        probe("sim_ivf_append", "disjoint", k,
              lambda sf=sfd: similarity.ivf_append_topk(spark, sf),
              n_vecs0 * k, post=_append_post(sfd))
        # --- two-day ANN ingest (r13): each day's append touches only
        # that batch's lists, so BOTH day1_sec and day2_sec must stay
        # ~flat while the corpus (and the one-time base build) grows
        def _mb_post(sf_of):
            def post():
                ev = evidence(spark, sf_of, "ivf_multibatch")
                return {
                    "build_sec": round(ev.get("build_sec", 0.0), 2),
                    "day1_sec": ev.get("day1_sec"),
                    "day2_sec": ev.get("day2_sec"),
                    "n_touched_b1": ev.get("n_touched_b1"),
                    "n_touched_b2": ev.get("n_touched_b2"),
                }

            return post

        probe("sim_ivf_multibatch", "disjoint", k,
              lambda sf=sfd: similarity.ivf_multibatch_topk(spark, sf),
              n_vecs0 * k, post=_mb_post(sfd))
        # --- ANN deletion (r13): the doomed set is a FIXED vec_id
        # slice located model-side, so delete_sec (filtered rewrite of
        # its lists) must stay ~flat while the corpus and the one-time
        # full build grow linearly
        def _del_post(sf_of):
            def post():
                ev = evidence(spark, sf_of, "ivf_delete")
                return {
                    "build_sec": round(ev.get("build_sec", 0.0), 2),
                    "delete_sec": ev.get("delete_sec"),
                    "n_touched": ev.get("n_touched"),
                    "n_emptied": ev.get("n_emptied"),
                }

            return post

        probe("sim_ivf_delete", "disjoint", k,
              lambda sf=sfd: similarity.ivf_delete_topk(spark, sf),
              n_vecs0 * k, post=_del_post(sfd))
        # --- ANN store compaction (r14): the per-list file count is
        # bounded by the ingest-batch count regardless of corpus size,
        # so files_before/files_after must stay ~constant while bytes
        # (and compact_sec, a rewrite of only the fragmented lists'
        # rows) grow at most linearly; cold lists are never read
        def _cmp_post(sf_of):
            def post():
                ev = evidence(spark, sf_of, "ivf_compact")
                return {
                    "build_sec": round(ev.get("build_sec", 0.0), 2),
                    "compact_sec": ev.get("compact_sec"),
                    "n_fragmented": ev.get("n_fragmented"),
                    "files_before": ev.get("files_before"),
                    "files_after": ev.get("files_after"),
                }

            return post

        probe("sim_ivf_compact", "disjoint", k,
              lambda sf=sfd: similarity.ivf_compact_topk(spark, sf),
              n_vecs0 * k, post=_cmp_post(sfd))
        # --- IVF recluster (r14): deliberately the LINEAR maintenance
        # op (survivor re-encode, like the initial build); the scale
        # claims are the ids-only membership read (raise-enforced
        # in-op) and the new-model probe staying list-bounded
        def _rc_post(sf_of):
            def post():
                ev = evidence(spark, sf_of, "ivf_recluster")
                return {
                    "build_sec": round(ev.get("build_sec", 0.0), 2),
                    "recluster_sec": ev.get("recluster_sec"),
                    "skew_before": ev.get("skew_before"),
                    "skew_after": ev.get("skew_after"),
                }

            return post

        probe("sim_ivf_recluster", "disjoint", k,
              lambda sf=sfd: similarity.ivf_recluster_topk(spark, sf),
              n_vecs0 * k, post=_rc_post(sfd))
        # --- residual IVF-PQ (r10): per-(query, list) LUTs are
        # corpus-independent model state, so growth must track the
        # non-residual variant's (one linear codes pass)
        probe("sim_ivfpq_residual", "replica", k,
              lambda sf=sf: similarity.ivfpq_residual_topk(spark, sf),
              n_vecs0 * k)
        probe("sim_ivfpq_residual", "disjoint", k,
              lambda sf=sfd: similarity.ivfpq_residual_topk(spark, sf),
              n_vecs0 * k)
        # --- PQ codebook training (r10): M subspace k-means in one
        # Arrow pass per round -- linear in corpus like emb_kmeans,
        # driver holds only the M*K*DSUB model values
        probe("emb_pq_train", "replica", k,
              lambda sf=sf: similarity.pq_train(spark, sf),
              n_vecs0 * k)
        # --- end-to-end curation funnel (r10) on the realistic
        # corpus-growth model: every stage is linear except the LSH
        # near-dup candidates, whose disjoint-mode growth is linear by
        # construction (constant dup rate per replica)
        probe("corpus_train_pipeline", "disjoint", k,
              lambda sf=sfd: corpus.train_pipeline(spark, sf),
              n_docs0 * k)
        # --- native session_window (r10): replica mode multiplies
        # per-user event volume (denser sessions to merge), disjoint
        # grows the user count -- both must stay ~linear, like the
        # hand-rolled sessionize they twin
        probe("evt_session_window_native", "replica", k,
              lambda sf=sf: temporal.session_window_native(spark, sf),
              n_events0 * k)
        probe("evt_session_window_native", "disjoint", k,
              lambda sf=sfd: temporal.session_window_native(spark, sf),
              n_events0 * k)
        # --- distributed k-means: O(n*k*d) per round by spec -- the
        # probe verifies the measured exponent is ~1 in n and that the
        # driver's per-round collect stays at the k*d model-state size
        probe("emb_kmeans", "replica", k,
              lambda sf=sf: similarity.kmeans(spark, sf),
              n_vecs0 * k)
        # --- survivor selection under the giant-cluster worst case:
        # replica mode makes every near-dup family k x larger, so the
        # struct-min aggregation (not a per-cluster window) is what
        # keeps one huge cluster off a single task
        probe("dedup_survivors", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}":
                  clustering.cluster_survivors(spark, sf),
              n_docs0 * k)
        # --- bigram-LM scoring on the realistic growth model: LM
        # tables are vocabulary-sized; disjoint replicas grow the
        # vocabulary ~linearly (worst case for the LM-table join)
        probe("text_bigram_lm_score", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  text.bigram_lm_score(spark, sf),
              n_docs0 * k)
        # --- boilerplate shingles: replica mode multiplies every
        # shingle's df by k (worst case -- the whole corpus crosses the
        # df threshold, so the shingle join fans out maximally);
        # disjoint keeps the df distribution constant per replica
        probe("corpus_boilerplate", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}":
                  corpus.boilerplate_shingles(spark, sf),
              n_docs0 * k)
        probe("corpus_boilerplate", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  corpus.boilerplate_shingles(spark, sf),
              n_docs0 * k)
        # --- the r5 bench-drift suspects (VERDICT r5 #8): prove their
        # growth shape so a future bench wobble can't be mistaken for a
        # scale problem.  repetition_stats: per-doc gram aggs -- both
        # modes linear in docs.  retention_cohorts: replica = hot-user
        # case (per-user events x k on the user_id shuffle), disjoint =
        # linear user growth
        probe("text_repetition_stats", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  text.repetition_stats(spark, sf),
              n_docs0 * k)
        probe("evt_retention_cohorts", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}":
                  temporal.retention_cohorts(spark, sf),
              n_events0 * k)
        probe("evt_retention_cohorts", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  temporal.retention_cohorts(spark, sf),
              n_events0 * k)
        # --- streaming scale probe (VERDICT r6 #8): the stateful
        # streaming as-of under both growth models.  State is ONE row
        # per user, so replica mode (same users, k x events each) must
        # hold state_rows CONSTANT while event volume grows -- the
        # bounded-state claim, measured; disjoint mode grows users
        # linearly, so state_rows tracks n.  state_rows comes from the
        # query's own stateOperators progress metric.
        def _state_rows(sf):
            audit = evidence(spark, sf, "stream_audit")
            ops_m = (audit.get("progress") or {}).get(
                "stateOperators"
            ) or [{}]
            return {"state_rows": ops_m[0].get("numRowsTotal", -1)}

        from query_optimizer_spark import streaming as streaming_mod

        probe("stream_asof_join", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}":
                  streaming_mod.asof_stream(spark, sf),
              n_events0 * k,
              post=lambda sf=f"{WORK}/replica_x{k}": _state_rows(sf))
        probe("stream_asof_join", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  streaming_mod.asof_stream(spark, sf),
              n_events0 * k,
              post=lambda sf=f"{WORK}/disjoint_x{k}": _state_rows(sf))
        # --- streaming quantile sketch (r10; VERDICT r10 #3): state is
        # one <=41-slot count vector per event_type FOREVER, so
        # state_rows must stay flat (= #types) as events grow; runtime
        # is the one availableNow pass over the grown stream
        probe("stream_quantile_sketch", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}":
                  streaming_mod.quantile_sketch_stream(spark, sf),
              n_events0 * k, post=_state_rows)
        probe("stream_quantile_sketch", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  streaming_mod.quantile_sketch_stream(spark, sf),
              n_events0 * k, post=_state_rows)
        # --- streaming leg of the incremental-dedup loop (r12, VERDICT
        # r11 #5): the batch slice is FIXED (doc_id < INC_BATCH_N; id
        # replication appends at +i*ID_STRIDE), the static index side
        # joins pre-filtered on (band, key), and the agg state is the
        # live near-dup pair count -- so per-run wall time and
        # state_rows must stay ~flat as the corpus grows.  The stored
        # index was built (and cached) by the dedup_incremental probes
        # above, so this measures the recurring streaming pass alone.
        probe("stream_incremental_dedup", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  streaming_mod.incremental_dedup_stream(spark, sf),
              n_docs0 * k, post=_state_rows)
        # --- multibatch two-day ingest (r12, VERDICT r11 #2): batch1
        # probe -> commit, then batch2 probes the grown index.  Both
        # batches are FIXED id slices, so probe_sec (total minus the
        # one-time day-1 cost: index build + commit) must stay ~flat
        # in corpus size; files_probed is pinned by the batches' shard
        # unions while files_total grows.
        def _mb_post(sf_of):
            def post():
                ev = evidence(spark, sf_of, "dedup_multibatch")
                return {
                    # day-1 one-time cost (linear build + flat commit),
                    # folded into build_sec so probe_sec isolates the
                    # two batch-bounded probe phases
                    "build_sec": round(
                        ev.get("build_sec", 0.0)
                        + (ev.get("commit_sec") or 0.0), 2
                    ),
                    "commit_sec": ev.get("commit_sec"),
                    "n_touched": ev.get("n_touched"),
                    "files_probed": ev.get("files_probed"),
                    "files_total": ev.get("files_total"),
                }

            return post

        sf = f"{WORK}/disjoint_x{k}"
        probe("dedup_multibatch", "disjoint", k,
              lambda sf=sf: dedup.multibatch_ingest_pairs(spark, sf),
              n_docs0 * k, post=_mb_post(sf))
        # --- KMV set-overlap sketch (r12): replica growth adds exact
        # copies, so every per-source distinct shingle set -- and hence
        # the whole 190-row answer -- must be IDENTICAL at every k
        # (the sketch build's distinct absorbs duplication); disjoint
        # growth suffixes tokens, so per-source sets grow ~k while the
        # pairwise estimation stays K ints per source (out_rows pinned
        # at the pair count either way).  Time should track the
        # distinct+window sketch build, ~linear in the shingle volume.
        from query_optimizer_spark.functions import text as text_ops

        probe("text_kmv_overlap", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}":
                  text_ops.kmv_source_overlap(spark, sf),
              n_docs0 * k)
        probe("text_kmv_overlap", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  text_ops.kmv_source_overlap(spark, sf),
              n_docs0 * k)
        # --- bucketed range join (r7): replica mode is the hot-user
        # adversarial case (per-user view AND purchase volume both x k,
        # so matched pairs inside a bucket grow ~k^2); disjoint grows
        # users linearly with constant per-user volume.  The bucketed
        # equi-join must absorb the k^2 pair growth without a per-user
        # cross product.
        probe("evt_range_join", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}":
                  temporal.range_join(spark, sf),
              n_events0 * k)
        # --- CDC -> SCD2 (r8): two window passes over one hash
        # partitioning.  Replica mode multiplies per-user change
        # events (same users, k x events -- deeper per-user sort
        # runs); disjoint mode grows users with constant per-user
        # history (the horizontal-scaling claim).  Both must stay
        # ~linear: the build is sort + lag/lead, no joins.
        probe("evt_scd2_intervals", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}":
                  temporal.scd2_intervals(spark, sf),
              n_events0 * k)
        probe("evt_scd2_intervals", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  temporal.scd2_intervals(spark, sf),
              n_events0 * k)
        probe("evt_range_join", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  temporal.range_join(spark, sf),
              n_events0 * k)
        # --- incremental rollup maintenance (r9): state_build is the
        # one-time full-history aggregation the pattern replaces; the
        # REFRESH (total - state_build) reads one day's delta plus the
        # compact state table, so it must stay a small fraction of the
        # full rebuild at every scale -- the nightly-pipeline claim,
        # measured under both growth models
        def _rollup_post(sf):
            return {
                "state_build_sec": evidence(spark, sf, "rollup_split").get(
                    "state_build_sec"
                ),
            }

        probe("evt_incremental_rollup", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}":
                  temporal.incremental_rollup(spark, sf),
              n_events0 * k,
              post=lambda sf=f"{WORK}/replica_x{k}": _rollup_post(sf))
        probe("evt_incremental_rollup", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  temporal.incremental_rollup(spark, sf),
              n_events0 * k,
              post=lambda sf=f"{WORK}/disjoint_x{k}": _rollup_post(sf))
        # --- quantile rollup (r10; VERDICT r10 #3): the stored state is
        # one <=41-bucket histogram per (type, day), so sketch_rows must
        # stay FLAT as events grow -- the 'any date range from stored
        # sketches, never the events' claim is a state-size bound.  The
        # total runtime is scan-bound by construction (one pass builds
        # the per-day sketches); the rollup's own cost is
        # sketch_rows-shaped, i.e. constant
        def _qrollup_state(sf):
            def post():
                from pyspark.sql import functions as FF

                n = (
                    temporal.events_df(spark, sf)
                    .select(
                        "event_type",
                        FF.date_trunc("day", "ts").alias("day"),
                        FF.expr(
                            "cast(round(value * 100, 0) as bigint)"
                        ).alias("c"),
                    )
                    .select("event_type", "day",
                            FF.expr(temporal._QSK_BUCKET).alias("b"))
                    .groupBy("event_type", "day", "b")
                    .count()
                    .count()
                )
                return {"sketch_rows": n}

            return post

        probe("evt_quantile_rollup", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}":
                  temporal.quantile_rollup(spark, sf),
              n_events0 * k, post=_qrollup_state(f"{WORK}/replica_x{k}"))
        probe("evt_quantile_rollup", "disjoint", k,
              lambda sf=f"{WORK}/disjoint_x{k}":
                  temporal.quantile_rollup(spark, sf),
              n_events0 * k, post=_qrollup_state(f"{WORK}/disjoint_x{k}"))
        # --- range join under ONE-hot-user skew (VERDICT r7 #7): a
        # single user's views replicate x (k * HOT_BASE) against an
        # otherwise constant table, so ALL the growth lands on one
        # (user_id, bucket) join key; hot_pairs counts that user's
        # matched view fanout -- wall time must stay flat-ish while
        # hot_pairs grows ~k, which is AQE skew-splitting absorbing a
        # straggler key inside the bucketed equi-join
        def _hot_fanout(sf):
            from pyspark.sql import functions as FF

            row = (
                temporal.range_join(spark, sf)
                .filter(FF.col("user_id") == int(hot_user))
                .agg(FF.sum("n_views_1h").alias("p"))
                .collect()[0]
            )
            return {"hot_pairs": int(row.p or 0)}

        probe("evt_range_join", "hotuser", k,
              lambda sf=f"{WORK}/hotuser_x{k}":
                  temporal.range_join(spark, sf),
              n_events0 + hot_views * k * HOT_BASE,
              {"hot_view_rows": hot_views * (1 + k * HOT_BASE)},
              post=lambda sf=f"{WORK}/hotuser_x{k}": _hot_fanout(sf))
        # --- streaming feedback bridge (r8): the recording pass stores
        # the click side's observe() count (the dimension cardinality);
        # the warm pass broadcasts the click dimension iff the OBSERVED
        # count fits the threshold.  As events grow the observed count
        # crosses threshold/80B and the decision flips to shuffle --
        # strategy from measurement, not estimate, with the flip
        # visible in the broadcast column
        def _bridge_post(store, sf):
            audit = evidence(spark, sf, "stream_audit")
            return {
                "observed_dim_rows": int(
                    store.stream_observation("stream_join", "click_side.n")
                    or -1
                ),
                "state_rows": int(
                    store.stream_observation(
                        "stream_join", "state_rows_total"
                    ) or -1
                ),
                "broadcast": "BroadcastHashJoin"
                in (audit.get("plan") or ""),
            }

        from query_optimizer_spark.oracle import FeedbackStore as _FS

        bridge_store = _FS()
        probe("stream_feedback_join", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}", s=bridge_store:
                  streaming_mod.feedback_broadcast_join(spark, sf, store=s),
              n_events0 * k,
              post=lambda s=bridge_store, sf=f"{WORK}/replica_x{k}":
                  _bridge_post(s, sf))
        # --- cold adaptive vs warm re-execution (r7 FeedbackStore):
        # the progressive loop's n-1 count() barriers are paid by the
        # COLD (recording) run; the warm run plans from the store and
        # executes as one job.  Fact table (events) grows x k against
        # constant dims; observe_sec in the cold row is the barrier
        # cost that the warm row eliminates.  Same-session back-to-back
        # so the cold/warm contrast is not session noise.
        from query_optimizer_spark import workload as _wl
        from query_optimizer_spark.oracle import FeedbackStore

        fb_store = FeedbackStore()

        def _cold_split(sf=f"{WORK}/replica_x{k}"):
            split = evidence(spark, sf, "adaptive_split")
            return {
                "observe_sec": split.get("observe_sec"),
                "rounds": split.get("rounds"),
            }

        probe("join_adaptive_cold", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}", s=fb_store:
                  _wl.run_fixture_adaptive_full(
                      spark, sf, "join_events_8", store=s),
              n_events0 * k, post=_cold_split)
        # drop the cold run's persisted blocks BEFORE timing the warm
        # run: the warm claim is a fresh re-execution planning from the
        # store, not a read of the recording run's live caches
        # (targeted unpersist, matching the bench path -- r7 ADVICE)
        _wl.drop_persisted_blocks(spark, f"{WORK}/replica_x{k}")
        probe("join_feedback_warm", "replica", k,
              lambda sf=f"{WORK}/replica_x{k}", s=fb_store:
                  _wl.run_fixture_warm(
                      spark, sf, "join_events_8", store=s),
              n_events0 * k)

    # --- count-min sketch under VOCABULARY growth (VERDICT r7 #7),
    # on its own deeper scales: suffixed replicas multiply the
    # vocabulary by m against the FIXED depth x width sketch (base
    # vocab ~31 << width 256; m=32 pushes ~4x past it), so cells
    # saturate and overcounts rise.  Reported: the measured max/mean
    # overcount on the top-k probe tokens vs the analytic bound
    # eps*N = (e/width)*N (Cormode & Muthukrishnan 2005:
    # P[over > eps*N] <= e^-depth per probe); the sketch stays SOUND
    # (never undercounts), the bound just loosens with N -- the
    # measured gap is the margin.
    from pyspark.sql import functions as FF

    from query_optimizer_spark.functions.constants import CM_WIDTH

    for m in CM_SCALES:
        sf = f"{WORK}/vocab_x{m}"
        t0 = time.monotonic()
        rep = text.countmin_freq(spark, sf).agg(
            FF.max("overcount").alias("mx"),
            FF.round(FF.avg("overcount"), 1).alias("mean"),
        ).collect()[0]
        dt = time.monotonic() - t0
        n_tokens = (
            text._docs(spark, sf)
            .select(FF.explode(FF.expr(text.TOKS)).alias("t"))
            .agg(FF.count("*").alias("n"), FF.countDistinct("t").alias("v"))
            .collect()[0]
        )
        rec = {
            "k": m, "n": n_docs0 * m, "sec": round(dt, 2), "out_rows": 20,
            "vocab": int(n_tokens.v),
            "max_over": int(rep.mx),
            "mean_over": float(rep.mean),
            "bound_eN": int(math.e / CM_WIDTH * n_tokens.n),
        }
        rows.setdefault("text_countmin_freq (vocabgrowth)", []).append(rec)
        print(f"text_countmin_freq (vocabgrowth) x{m}: {rec}", flush=True)

        # --- HLL vocabulary sketch on the same growing vocabulary
        # (r8): fixed 256-register state while true NDV grows past m --
        # the probe records the measured relative error through the
        # linear-counting -> raw-estimator regime switch (the standard
        # error for m=256 is 1.04/sqrt(m) ~ 6.5% once past the
        # small-range regime)
        t0 = time.monotonic()
        hrow = text.hll_vocab(spark, sf).collect()[0]
        rec_h = {
            "k": m, "n": n_docs0 * m,
            "sec": round(time.monotonic() - t0, 2), "out_rows": 1,
            "exact_vocab": int(hrow.exact_vocab),
            "hll_estimate": float(hrow.hll_estimate),
            "rel_err_pct": float(hrow.rel_err_pct),
            "used_regs": int(hrow.used_registers),
        }
        rows.setdefault("text_hll_vocab (vocabgrowth)", []).append(rec_h)
        print(f"text_hll_vocab (vocabgrowth) x{m}: {rec_h}", flush=True)

        # --- HLL rollup on the same growing vocabulary (r9): the
        # merged *ALL* row must track hll_vocab's estimate EXACTLY at
        # every scale (merge losslessness under growth), while state
        # stays |sources| x 256 registers no matter how large the
        # vocabulary gets
        t0 = time.monotonic()
        mrow = {
            r.source: r for r in text.hll_rollup(spark, sf).collect()
        }["*ALL*"]
        rec_m = {
            "k": m, "n": n_docs0 * m,
            "sec": round(time.monotonic() - t0, 2), "out_rows": 21,
            "exact_vocab": int(mrow.exact_vocab),
            "merged_estimate": float(mrow.hll_estimate),
            "merge_lossless": bool(
                float(mrow.hll_estimate) == float(hrow.hll_estimate)
            ),
        }
        rows.setdefault("text_hll_rollup (vocabgrowth)", []).append(rec_m)
        print(f"text_hll_rollup (vocabgrowth) x{m}: {rec_m}", flush=True)

    spark.stop()

    lines = [
        "# SCALING -- measured growth of the quadratic-prone operators",
        "",
        f"Inputs: sf0.1 testdata replicated x{{{','.join(map(str, scales))}}}"
        f" (documents {n_docs0} -> {n_docs0 * scales[-1]}, embeddings"
        f" {n_vecs0} -> {n_vecs0 * scales[-1]}); local[32]; generated by"
        " scripts/scale_probe.py (modes documented there).",
        "",
    ]
    for op, recs in rows.items():
        ns = [r["n"] for r in recs]
        ts = [r["sec"] for r in recs]
        expo = fit_exponent(ns, ts)
        hdr_line = (f"## {op} -- time exponent {expo:.2f}"
                    f" (t ~ n^{expo:.2f})")
        if all("probe_sec" in r for r in recs):
            pexpo = fit_exponent(
                ns, [max(r["probe_sec"], 0.01) for r in recs]
            )
            hdr_line += f"; probe-phase exponent {pexpo:.2f}"
        lines.append(hdr_line)
        lines.append("")
        extra_cols = [c for c in recs[0] if c not in ("k", "n", "sec", "out_rows")]
        hdr = "| x | rows in | sec | pairs out |" + "".join(
            f" {c} |" for c in extra_cols)
        lines.append(hdr)
        lines.append("|---" * (4 + len(extra_cols)) + "|")
        for r in recs:
            lines.append(
                f"| {r['k']} | {r['n']} | {r['sec']} | {r['out_rows']} |"
                + "".join(f" {r[c]} |" for c in extra_cols)
            )
        lines.append("")
    lines += [
        "## Interpretation",
        "",
        "Fitted time exponents at these sizes are depressed by fixed",
        "per-job overhead (Spark scheduling + JVM, ~1-2 s of every cell),",
        "so the informative signals are the COUNT columns against the",
        "TIME deltas: replica-mode candidates grow ~k^2 by construction",
        "(the adversarial dup-structure case) while wall time stays",
        "near-linear -- the band-bucket join + distributed verify absorb",
        "the pair blowup with no driver involvement; disjoint-mode",
        "candidates grow linearly (constant dup-rate, the realistic",
        "corpus-growth model); cosine_blocked is O(n^2) flops BY SPEC",
        "with executor memory bounded by two blocks per task at every",
        "scale (high-threshold escape hatch: sim_lsh_ann_topk).",
        "corpus_boilerplate's replica mode is its worst case -- every",
        "shingle's df multiplies by k, the whole corpus crosses the",
        "BOILER_DF_MIN threshold, and the shingle equi-join fans out",
        "maximally -- yet it stays a partial-agg + AQE-skew-join shape",
        "with no broadcast of the (data-dependent) boilerplate set.",
        "stream_asof_join's replica row is the streaming bounded-state",
        "proof: event volume grows k x with the SAME user population and",
        "state_rows (stateOperators numRowsTotal) stays constant -- the",
        "one-row-per-user carry state depends on users, never on event",
        "count; disjoint mode grows users linearly and state follows.",
        "join_adaptive_cold vs join_feedback_warm (r7): the cold run",
        "pays the progressive loop's n-1 count() barriers (observe_sec",
        "column) and records every observation into a FeedbackStore;",
        "the warm run plans from the store and executes as ONE job --",
        "its wall time should track the static query as the fact table",
        "grows, which is the amortization story for repeated executions",
        "at warehouse scale.",
        "evt_range_join's hotuser mode (r8) is the one-hot-key",
        "adversarial case: a single user's views replicate x(k*250)",
        "while the rest of the table is constant, so hot_pairs (that",
        "user's matched fanout) grows ~k on ONE (user_id, bucket) join",
        "key; flat-ish wall time against that growth is AQE",
        "skew-splitting absorbing the straggler key inside the",
        "bucketed equi-join.",
        "text_countmin_freq's vocabgrowth mode (r8) multiplies the",
        "VOCABULARY by m={1,8,32} against the fixed 4x256 sketch (base",
        "vocab ~31, so x32 is ~4x past the width): max_over/mean_over",
        "are the measured overcounts on the probe tokens and bound_eN",
        "is the analytic eps*N = (e/width)*N guarantee they must stay",
        "under (P[over > eps*N] <= e^-depth per probe) -- saturation",
        "raises the measured overcount, the bound holds, and the",
        "sketch never undercounts by construction.",
        "stream_feedback_join (r8) is the streaming feedback bridge:",
        "observed_dim_rows is the click side's Dataset.observe() count",
        "recorded by the recording pass (state_rows alone understates",
        "the dimension -- watermark eviction already dropped sealed",
        "rows), and the broadcast column is the warm pass's strategy",
        "decision made FROM that observation -- as events grow the",
        "observed count crosses threshold/80B (~131k rows) and the",
        "decision flips from broadcast to shuffle, measured, not",
        "estimated.",
        "evt_quantile_rollup (r11 rows; the op is r10): sketch_rows is",
        "the STORED state -- one <=41-bucket histogram per (type, day)",
        "-- and must stay flat as events grow; the ALL row is computed",
        "only by summing those rows, so its cost is sketch_rows-shaped",
        "(constant) while the total runtime is the one scan that",
        "builds the per-day sketches (linear by construction).",
        "stream_quantile_sketch (r11 rows): state_rows = #event_types",
        "forever (one <=41-slot count vector per key); flat state",
        "against growing event volume is the bounded-state claim,",
        "runtime is the single availableNow pass.",
        "dedup_incremental (r11): the batch is FIXED (50 lowest",
        "doc_ids; growth appends ids above ID_STRIDE), so probe_sec =",
        "total - build_sec must stay ~flat while files_total grows",
        "with the corpus and files_probed stays pinned by the batch's",
        "shard union -- never recompute corpus signatures, never read",
        "non-probed shards.  replica mode is adversarial (every batch",
        "doc gains k exact twins, out_rows ~k); disjoint replicas",
        "share no shingles so collision structure is constant.",
        "dedup_index_commit (r11): commit_sec is the write phase alone",
        "(touched-shard read-back + dynamic partition overwrite) and",
        "must stay ~flat as the corpus grows -- n_touched is pinned by",
        "the fixed batch; the op's TOTAL time grows linearly only",
        "because its returned verification view aggregates the whole",
        "index (out_rows tracks occupied shards).",
    ]
    Path(args.out).write_text("\n".join(lines) + "\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
