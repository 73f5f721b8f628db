"""Pipeline operators vs DuckDB oracles (bit-exact cross-engine checks),
plus semantic sanity on the planted near-duplicates."""

import pytest

from query_optimizer_spark.functions import multimodal
from query_optimizer_spark.functions.registry import PIPELINE_OPS
from query_optimizer_spark.harness import result_hash
from query_optimizer_spark.sources import DEFAULT_WAREHOUSE
from query_optimizer_spark.state import evidence, scope

from .conftest import SF_DIR
from .test_spark_exec import duck_hash


@pytest.mark.parametrize("name", sorted(PIPELINE_OPS))
def test_pipeline_op_matches_duckdb(name, spark, duck):
    runner, oracle = PIPELINE_OPS[name]
    df = runner(spark, SF_DIR)
    got = result_hash(df)
    expected = duck_hash(duck, oracle)
    assert got[0] > 0, f"{name} produced no rows -- weak test"
    assert got == expected, f"{name}: spark={got} duck={expected}"


def test_text_is_ascii(duck):
    """binary_stats oracle equates byte and char stats -- valid only for
    ASCII text; guard the assumption."""
    n = duck.execute(
        "SELECT count(*) FROM documents WHERE strlen(text) <> length(text)"
    ).fetchone()[0]
    assert n == 0


def test_minhash_finds_planted_dups(spark, duck):
    """The testdata has planted near-dup pairs (trigram jaccard ~0.99);
    minhash-LSH must recover pairs that exact ngram-jaccard confirms."""
    exact = {
        (a, b)
        for a, b, _ in duck.execute(
            PIPELINE_OPS["dedup_ngram_jaccard"][1]
        ).fetchall()
    }
    approx_df = PIPELINE_OPS["dedup_minhash_lsh"][0](spark, SF_DIR)
    approx = {(r.doc_a, r.doc_b) for r in approx_df.collect()}
    assert exact, "no planted duplicates found by exact jaccard"
    # every high-jaccard pair should be an LSH candidate (j~0.99 =>
    # band-collision probability ~1)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall too low: {recall}"


def test_embedding_cosine_driver_guard(spark):
    """VERDICT r1 scale-killer #3: above max_driver_vectors the exact
    path must auto-route to the distributed block-pair matmul (no
    driver collect) and produce BIT-IDENTICAL pairs -- both paths run
    the same exact integer float64 arithmetic."""
    from query_optimizer_spark.functions import dedup
    from query_optimizer_spark.executor import physical_plan

    exact_df = dedup.embedding_cosine_pairs(spark, SF_DIR)
    routed_df = dedup.embedding_cosine_pairs(spark, SF_DIR, max_driver_vectors=1)
    # the routed plan is the grouped block matmul, not the driver-collect path
    assert "FlatMapGroupsInPandas" in physical_plan(routed_df)
    exact = {(r.vec_a, r.vec_b, r.cosine) for r in exact_df.collect()}
    routed = {(r.vec_a, r.vec_b, r.cosine) for r in routed_df.collect()}
    assert exact, "no planted cosine near-dups -- weak test"
    assert routed == exact
    # multi-block blocking (5 blocks -> 15 block-pair groups) stays exact
    blocked = dedup.embedding_cosine_pairs_blocked(spark, SF_DIR, block_rows=100)
    assert {(r.vec_a, r.vec_b, r.cosine) for r in blocked.collect()} == exact
    # small-N default stays on the exact driver-matmul baseline
    assert "MapInPandas" in physical_plan(exact_df)
    # the footer-metadata guard (pyarrow, no scan, no oracle-engine
    # dependency) reads the exact row count, and the cutover boundary
    # is strict: n == max stays on the driver baseline, n > max routes
    n = dedup._parquet_rows(f"{SF_DIR}/embeddings.parquet")
    import duckdb

    assert n == duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    ).fetchone()[0]
    at_boundary = dedup.embedding_cosine_pairs(spark, SF_DIR, max_driver_vectors=n)
    assert "MapInPandas" in physical_plan(at_boundary)
    over = dedup.embedding_cosine_pairs(spark, SF_DIR, max_driver_vectors=n - 1)
    assert "FlatMapGroupsInPandas" in physical_plan(over)


def test_decode_image_codec_formats_raise():
    """Codec formats (no dependency-free decoder) raise per-payload
    with the magic named; text bytes (no image magic) raise too."""
    with pytest.raises(NotImplementedError, match="PNG"):
        multimodal._decode_payload(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(NotImplementedError):
        multimodal._decode_payload(b"just some text bytes")


def test_decode_image_fake_stub(spark):
    df = multimodal.with_binary_payload(spark, SF_DIR)
    feats = multimodal.decode_image(df, fake=True)
    rows = feats.limit(5).collect()
    assert len(rows) == 5
    assert set(feats.columns) == {
        "doc_id", "width", "height", "n_channels", "mean_intensity",
    }
    assert all(r.n_channels == 3 and r.width >= 1 for r in rows)


def test_bmp_ppm_roundtrip_exact():
    """encode->decode is the identity on every padding remainder
    (w mod 4 in {0,1,2,3}), both BMP row orders, and a comment-bearing
    PPM header -- pixel-exact, not just shape-exact."""
    import numpy as np

    rng = np.random.default_rng(7)
    for w in (2, 3, 4, 5, 8, 9):
        for h in (1, 2, 5):
            px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            assert np.array_equal(
                multimodal.decode_bmp(multimodal.encode_bmp(px)), px
            )
            assert np.array_equal(
                multimodal.decode_ppm(multimodal.encode_ppm(px)), px
            )
    # top-down BMP (negative height) decodes identically
    px = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    b = bytearray(multimodal.encode_bmp(px[::-1]))  # stored rows reversed
    import struct as _struct

    _struct.pack_into("<i", b, 22, -3)  # declare top-down
    assert np.array_equal(multimodal.decode_bmp(bytes(b)), px[::-1][::-1])
    # netpbm comment in the header
    ppm = multimodal.encode_ppm(px)
    commented = b"P6\n# a comment line\n" + ppm[3:]
    assert np.array_equal(multimodal.decode_ppm(commented), px)


def test_decode_image_real_path_on_bmp_payloads(spark):
    """decode_image(fake=False) really decodes generated BMP payloads
    through the mapInPandas plumbing -- dims and mean from pixels."""
    import numpy as np

    px = np.arange(2 * 4 * 3, dtype=np.uint8).reshape(2, 4, 3)
    pdf = spark.createDataFrame(
        [(1, bytearray(multimodal.encode_bmp(px))),
         (2, bytearray(multimodal.encode_ppm(px)))],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in multimodal.decode_image(pdf).collect()}
    for r in rows.values():
        assert (r.width, r.height, r.n_channels) == (4, 2, 3)
        assert r.mean_intensity == pytest.approx(float(px.mean()), abs=1e-6)


def test_materialize_curated_roundtrip(spark, duck):
    from query_optimizer_spark.functions import corpus

    out = f"{DEFAULT_WAREHOUSE}/curated_corpus"
    back = corpus.materialize_curated(spark, SF_DIR, out)
    n_kept = duck.execute(
        f"SELECT count(*) FROM ({corpus.curate_oracle()}) WHERE keep"
    ).fetchone()[0]
    assert back.count() == n_kept > 0
    assert set(back.select("split").distinct().toPandas()["split"]) <= {
        "train", "valid", "test",
    }
    # partition pruning works on the written dataset
    from query_optimizer_spark.executor import physical_plan

    train = back.filter(back.split == "train")
    assert "PartitionFilters" in physical_plan(train)


def test_lsh_ann_quality(spark, duck):
    """LSH ANN should agree with brute force on a decent fraction of
    top-k sets (approximation sanity, not bit equality)."""
    bf = PIPELINE_OPS["sim_bruteforce_topk"][0](spark, SF_DIR).collect()
    ann = PIPELINE_OPS["sim_lsh_ann_topk"][0](spark, SF_DIR).collect()
    bf_top = {}
    for r in bf:
        bf_top.setdefault(r.query_id, set()).add(r.neighbor_id)
    ann_top = {}
    for r in ann:
        ann_top.setdefault(r.query_id, set()).add(r.neighbor_id)
    overlaps = [
        len(bf_top[q] & ann_top.get(q, set())) / len(bf_top[q]) for q in bf_top
    ]
    assert sum(overlaps) / len(overlaps) > 0.2  # candidates are ~2/256 bands


def test_ivf_ann_quality(spark):
    """IVF with nprobe=4 of 32 lists should recover a solid fraction of
    the exact top-k (approximation sanity; bit-exactness vs DuckDB is
    covered by the parametrized oracle test)."""
    bf = PIPELINE_OPS["sim_bruteforce_topk"][0](spark, SF_DIR).collect()
    ivf = PIPELINE_OPS["sim_ivf_topk"][0](spark, SF_DIR).collect()
    bf_top, ivf_top = {}, {}
    for r in bf:
        bf_top.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in ivf:
        ivf_top.setdefault(r.query_id, set()).add(r.neighbor_id)
    overlaps = [
        len(bf_top[q] & ivf_top.get(q, set())) / len(bf_top[q]) for q in bf_top
    ]
    assert sum(overlaps) / len(overlaps) > 0.3  # nprobe 4/32 lists


def test_ivfpq_neighbors_come_from_probed_lists(spark, duck):
    """Every IVF-PQ neighbor must live in one of its query's nprobe
    probed inverted lists -- the pruning contract.  The probe/assign
    ground truth is recomputed relationally in DuckDB (integer L2,
    ties to smallest cent_id), independent of the Spark pass."""
    from query_optimizer_spark.functions.constants import (
        ANN_N_QUERIES,
        IVF_N_CENTROIDS,
        IVF_NPROBE,
    )
    from query_optimizer_spark.functions.similarity import _SQL_QUANT

    l2 = (
        "list_sum([(a.q[i] - c.q[i]) * (a.q[i] - c.q[i])"
        " for i in generate_series(1, len(a.q))])"
    )
    rows = duck.execute(f"""
        WITH {_SQL_QUANT},
        cdist AS (
            SELECT a.vec_id, c.vec_id AS cent_id,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY {l2}, c.vec_id) AS crank
            FROM qn a JOIN qn c ON c.vec_id < {IVF_N_CENTROIDS}
        )
        SELECT vec_id, cent_id, crank FROM cdist
        WHERE crank = 1 OR (vec_id < {ANN_N_QUERIES}
                            AND crank <= {IVF_NPROBE})
    """).fetchall()
    assign = {v: c for v, c, r in rows if r == 1}
    probes: dict = {}
    for v, c, r in rows:
        if v < ANN_N_QUERIES and r <= IVF_NPROBE:
            probes.setdefault(v, set()).add(c)
    out = PIPELINE_OPS["sim_ivfpq_topk"][0](spark, SF_DIR).collect()
    assert out
    for r in out:
        assert assign[r.neighbor_id] in probes[r.query_id], (
            f"neighbor {r.neighbor_id} of query {r.query_id} sits in "
            f"list {assign[r.neighbor_id]}, outside the probe set"
        )


def test_hll_rollup_merge_equals_direct(spark):
    """The rollup's *ALL* row is computed by MERGING the 20 per-source
    register vectors; hll_vocab computes the same registers directly
    from the full token stream.  max-per-register merge must be
    lossless: identical estimate, identical used_registers."""
    direct = PIPELINE_OPS["text_hll_vocab"][0](spark, SF_DIR).collect()[0]
    merged = {
        r.source: r
        for r in PIPELINE_OPS["text_hll_rollup"][0](spark, SF_DIR).collect()
    }["*ALL*"]
    assert merged.hll_estimate == direct.hll_estimate
    assert merged.used_registers == direct.used_registers
    assert merged.exact_vocab == direct.exact_vocab


def test_bloom_decontaminate_has_no_false_negatives(spark, duck):
    """Bloom's contract: every contaminated doc the exact semi-join
    finds must be flagged by the filter with at least as many hits --
    a Bloom filter can over-report, never under-report."""
    exact = dict(
        duck.execute(PIPELINE_OPS["corpus_decontaminate"][1]).fetchall()
    )
    bloom = {
        r.doc_id: (r.n_bloom_hits, r.n_shared_exact)
        for r in PIPELINE_OPS["corpus_decontaminate_bloom"][0](
            spark, SF_DIR
        ).collect()
    }
    assert exact, "no contaminated docs -- weak test"
    for doc_id, n_shared in exact.items():
        hits, shared = bloom[doc_id]
        assert shared == n_shared
        assert hits >= n_shared
    # and the ride-along exact column agrees per row in general
    for doc_id, (hits, shared) in bloom.items():
        assert hits >= shared


def test_edit_distance_confirms_planted_dups(spark, duck):
    """Pairs the exact trigram-jaccard dedup confirms (planted
    near-dups, jaccard ~0.99) differ by a handful of characters, so
    the Levenshtein verifier must keep nearly all of them under the
    NED bound."""
    exact = {
        (a, b)
        for a, b, _ in duck.execute(
            PIPELINE_OPS["dedup_ngram_jaccard"][1]
        ).fetchall()
    }
    ed = {
        (r.doc_a, r.doc_b)
        for r in PIPELINE_OPS["dedup_edit_distance"][0](
            spark, SF_DIR
        ).collect()
    }
    assert exact, "no planted dups -- weak test"
    assert len(exact & ed) / len(exact) >= 0.8


def test_quantile_sketch_bound_holds(spark):
    """The power-of-two bucket sketch's contract: every estimated
    quantile is >= the exact one (bucket upper bound) and < 2x it
    (bucket width) -- for every event_type and every q."""
    out = PIPELINE_OPS["evt_quantile_sketch"][0](spark, SF_DIR).collect()
    assert out
    for r in out:
        for q in (50, 90, 99):
            est = getattr(r, f"p{q}_est")
            exact = getattr(r, f"p{q}_exact")
            assert exact <= est < 2 * exact, (
                f"{r.event_type} p{q}: est {est} vs exact {exact}"
            )


def test_mix_weighted_proportions(spark):
    """Output mix approximates MIX_WEIGHTS and the limiting (highest
    count/weight-ratio... i.e. smallest) source is kept whole; no
    source is upsampled."""
    from query_optimizer_spark.functions.constants import (
        MIX_DEFAULT_WEIGHT,
        MIX_WEIGHTS,
    )

    out = PIPELINE_OPS["corpus_mix_weighted"][0](spark, SF_DIR)
    kept = {r.source: r.n for r in out.groupBy("source").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    totals = {r.source: r.n for r in docs.groupBy("source").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    w = lambda s: MIX_WEIGHTS.get(s, MIX_DEFAULT_WEIGHT)  # noqa: E731
    # limiting source = min count/weight; uniform counts -> max weight
    lim = min(totals, key=lambda s: (totals[s] / w(s), s))
    assert kept[lim] == totals[lim], "limiting source must be kept whole"
    for s, n in kept.items():
        assert n <= totals[s], "never upsample"
        # achieved share within 3-sigma binomial noise of the exact
        # target rate (25 docs/source at sf0.01 makes this wide)
        target = w(s) * totals[lim] / (w(lim) * totals[s])
        sigma = (target * (1 - target) / totals[s]) ** 0.5
        assert n / totals[s] == pytest.approx(
            target, abs=max(0.05, 3 * sigma)
        )


def test_shuffle_shard_contiguous_and_deterministic(spark):
    from query_optimizer_spark.functions.constants import N_SHARDS

    out = PIPELINE_OPS["corpus_shuffle_shard"][0](spark, SF_DIR).collect()
    by_shard: dict = {}
    for r in out:
        assert 0 <= r.shard < N_SHARDS
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    again = PIPELINE_OPS["corpus_shuffle_shard"][0](spark, SF_DIR).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_token_diversity_bounds(spark):
    rows = PIPELINE_OPS["text_token_diversity"][0](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.simpson < 1.0
        assert r.n_tokens >= 1


def test_transition_probabilities_sum_to_one(spark):
    rows = PIPELINE_OPS["evt_transition_matrix"][0](spark, SF_DIR).collect()
    assert rows
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, 0.0)
        by_type[r.event_type] += r.p
        assert 0.0 < r.p <= 1.0
    for t, s in by_type.items():
        assert s == pytest.approx(1.0, abs=1e-4), t


def test_norm_stats_consistent(spark):
    rows = PIPELINE_OPS["emb_norm_stats"][0](spark, SF_DIR).collect()
    assert rows
    total = sum(r.n for r in rows)
    n_vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert total == n_vecs
    for r in rows:
        assert 0.0 < r.min_norm <= r.mean_norm <= r.max_norm


def test_boilerplate_flags_planted_dups(spark, duck):
    """Planted near-dup pairs share almost all shingles, so both members
    must show a high boilerplate rate; and rates are valid fractions."""
    dups = duck.execute(
        PIPELINE_OPS["dedup_ngram_jaccard"][1]
    ).fetchall()
    dup_ids = {a for a, b, _ in dups} | {b for a, b, _ in dups}
    rows = PIPELINE_OPS["corpus_boilerplate"][0](spark, SF_DIR).collect()
    rates = {r.doc_id: r.boiler_rate for r in rows}
    for r in rows:
        assert 0.0 <= r.boiler_rate <= 1.0
        assert 0 <= r.n_boiler <= r.n_shingles
    assert dup_ids, "no planted dups in testdata?"
    dup_rates = [rates[d] for d in dup_ids if d in rates]
    assert dup_rates and min(dup_rates) >= 0.5


def test_shard_manifest_detects_content_change(spark):
    """The manifest is deterministic, covers every payload, and its
    order-independent checksum actually changes when any payload
    changes (the property dataset versioning relies on)."""
    from pyspark.sql import functions as F

    base = PIPELINE_OPS["mm_shard_manifest"][0](spark, SF_DIR)
    a = {r.source: (r.n_payloads, r.total_bytes, r.n_distinct, r.checksum)
         for r in base.collect()}
    b = {r.source: (r.n_payloads, r.total_bytes, r.n_distinct, r.checksum)
         for r in PIPELINE_OPS["mm_shard_manifest"][0](spark, SF_DIR).collect()}
    assert a == b  # deterministic
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(v[0] for v in a.values()) == n_docs
    # flip one payload byte -> that shard's checksum must move
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mutated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 0, F.concat(F.col("text"), F.lit("!")))
        .otherwise(F.col("text")),
    )
    src0 = docs.filter("doc_id = 0").select("source").first().source
    import tempfile

    with tempfile.TemporaryDirectory(dir=DEFAULT_WAREHOUSE) as td:
        mutated.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        m2 = {r.source: r.checksum
              for r in PIPELINE_OPS["mm_shard_manifest"][0](spark, td).collect()}
    assert m2[src0] != a[src0][3]
    unchanged = [s for s in a if s != src0]
    assert all(m2[s] == a[s][3] for s in unchanged)


def test_kmeans_covers_corpus_and_shrinks_inertia(spark, duck):
    """Every vector lands in exactly one cluster; KMEANS_ITERS rounds of
    Lloyd's must not do worse than the inertia of the initial seeding
    (monotone non-increasing objective is THE k-means invariant)."""
    from query_optimizer_spark.functions.constants import KMEANS_K
    from query_optimizer_spark.functions.similarity import (
        _kmeans_assign_cte,
        kmeans_oracle,
    )

    rows = PIPELINE_OPS["emb_kmeans"][0](spark, SF_DIR).collect()
    assert 0 < len(rows) <= KMEANS_K
    n_vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert sum(r.n for r in rows) == n_vecs
    for r in rows:
        assert 0 <= r.cid < KMEANS_K and r.n > 0
        assert r.c_min <= r.c_max and int(r.inertia) > 0
    # inertia after the trained rounds <= inertia of the seed assignment
    seed_sql = f"""
        WITH q AS (
            SELECT vec_id,
                   [round(x::DOUBLE * 1000)::BIGINT for x in embedding] AS qv
            FROM embeddings
        ),
        c0 AS (SELECT vec_id AS cid, qv AS cv FROM q
               WHERE vec_id < {KMEANS_K}),
        {_kmeans_assign_cte(1, "c0")}
        SELECT sum(dist) FROM a1
    """
    seed_inertia = duck.execute(seed_sql).fetchone()[0]
    trained = sum(int(r.inertia) for r in rows)
    assert trained <= seed_inertia


def test_kmeans_oracle_division_is_integer_exact(duck):
    """The update CTE's centroid division must be Python floor division
    at ANY magnitude -- including sums past 2^53, where the pre-fix
    floor(s::DOUBLE/n) silently rounded (r6 ADVICE), and negative sums,
    where DuckDB's plain // truncates toward zero instead of flooring."""
    cases = [
        (7, 2), (-7, 2), (0, 3), (-1, 5),
        ((1 << 53) + 1, 1), ((1 << 60) + 7, 3), (-(1 << 60) - 7, 3),
        ((1 << 62) + 12345, 997), (-(1 << 62) - 12345, 997),
    ]
    for s, n in cases:
        got = duck.execute(
            "SELECT CAST((s - ((s % n) + n) % n) // n AS BIGINT) "
            "FROM (SELECT CAST(? AS HUGEINT) AS s, CAST(? AS BIGINT) AS n)",
            [s, n],
        ).fetchone()[0]
        assert got == s // n, (s, n, got, s // n)


def test_gram_matrix_is_psd_diagonal(spark):
    """2,080 upper-triangle entries for d=64; the diagonal of a Gram
    matrix is a sum of squares, so it must dominate and be positive."""
    rows = PIPELINE_OPS["emb_gram_matrix"][0](spark, SF_DIR).collect()
    assert len(rows) == 64 * 65 // 2
    g = {(r.i, r.j): int(r.g) for r in rows}
    for i in range(64):
        assert g[(i, i)] > 0
    # Cauchy-Schwarz on a few off-diagonal entries
    for i, j in ((0, 1), (3, 40), (10, 63)):
        assert g[(i, j)] * g[(i, j)] <= g[(i, i)] * g[(j, j)]


def test_survivors_partition_the_corpus(spark, duck):
    """Survivor selection keeps exactly one doc per duplicate cluster and
    every non-clustered doc -- the output IS the deduplicated corpus."""
    surv = PIPELINE_OPS["dedup_survivors"][0](spark, SF_DIR).collect()
    clusters = PIPELINE_OPS["dedup_clusters"][0](spark, SF_DIR).collect()
    by_cluster: dict = {}
    for c in clusters:
        by_cluster.setdefault(c.cluster_id, set()).add(c.doc_id)
    kept = {r.survivor_doc_id for r in surv}
    assert len(kept) == len(surv)  # no doc kept twice
    for cid, members in by_cluster.items():
        assert len(members & kept) == 1, f"cluster {cid}"


def test_bpe_pairs_are_wellformed(spark):
    """Pairs come from single-class runs (letters or digits, never
    mixed), are exactly 2 chars, and ranks descend by count."""
    rows = PIPELINE_OPS["text_bpe_pair_topk"][0](spark, SF_DIR).collect()
    assert rows and len(rows) <= 20
    import re

    last = None
    for r in sorted(rows, key=lambda r: r.rank):
        assert len(r.pair) == 2
        assert re.fullmatch(r"[a-z]{2}|[0-9]{2}", r.pair), r.pair
        assert last is None or r.cnt <= last
        last = r.cnt
    assert len({r.rank for r in rows}) == len(rows)


def test_bpe_train_merge_sequence(spark):
    """The BPE trainer's merge sequence (r14): (a) exactly
    BPE_TRAIN_MERGES rows, ranks 1..K, (b) merge 1 equals
    text_bpe_pair_topk's rank-1 pair (same stage-0 statistic), (c)
    weighted_freq is NON-INCREASING across merges -- merging the
    argmax pair can only create pairs bounded by its own count, the
    classic BPE monotonicity -- and (d) every merged symbol is the
    concatenation of its parts and parts may be prior merges."""
    from query_optimizer_spark.functions.text import BPE_TRAIN_MERGES

    rows = sorted(
        PIPELINE_OPS["text_bpe_train"][0](spark, SF_DIR).collect(),
        key=lambda r: r.merge_rank,
    )
    assert [r.merge_rank for r in rows] == list(
        range(1, BPE_TRAIN_MERGES + 1)
    )
    top = sorted(
        PIPELINE_OPS["text_bpe_pair_topk"][0](spark, SF_DIR).collect(),
        key=lambda r: r.rank,
    )[0]
    assert rows[0].left_sym + rows[0].right_sym == top.pair
    assert rows[0].weighted_freq == top.cnt
    last = None
    seen = set()
    for r in rows:
        assert r.merged == r.left_sym + r.right_sym
        assert last is None or r.weighted_freq <= last
        last = r.weighted_freq
        seen.add(r.merged)
    # later merges may consume earlier merged symbols (that is what
    # distinguishes training from the stage-0 statistic); at minimum
    # nothing requires they don't -- assert structural sanity only
    assert all(len(r.merged) >= 2 for r in rows)

    # the apply/compression twin: each application removes one symbol
    # per NON-overlapping occurrence, and the decision-time count is
    # the OVERLAPPING one, so the removal is bounded by (and on
    # overlap-free corpora equals) sum(weighted_freq); compression is
    # strictly < 1 and n_words <= symbols_after (a word is >= 1 symbol)
    stats = PIPELINE_OPS["text_bpe_apply"][0](spark, SF_DIR).collect()
    assert len(stats) == 1
    st = stats[0]
    assert st.symbols_after >= st.symbols_before - sum(
        r.weighted_freq for r in rows
    )
    assert st.n_words <= st.symbols_after < st.symbols_before
    assert 0 < st.compression < 1


def test_bpe_trainer_lineage_bounded(spark):
    """r15 (VERDICT r14 "what's wrong" #2): the K-merge trainer loop
    localCheckpoints the encoding every BPE_CHECKPOINT_EVERY merges, so
    the final stage's plan holds at most that many chained `replace`s
    REGARDLESS of K -- without the cadence, plan size is linear in K
    (quadratic re-planning over the loop).  Run the loop at K=6 and
    assert the final frame's logical plan is as shallow as the cadence
    promises, then restore the module constants and evict the K=6
    model state so other tests see the default trainer."""
    from query_optimizer_spark.functions import text as T

    sc = scope(spark, SF_DIR)
    old_k = T.BPE_TRAIN_MERGES
    saved_memo = sc.pop("bpe_merges", None)
    saved_ev = sc.pop("bpe_train", None)
    try:
        T.BPE_TRAIN_MERGES = 6
        _, enc = T._bpe_run(spark, SF_DIR)
        plan = enc._jdf.queryExecution().logical().toString()
        n_replace = plan.count("replace(")
        # checkpoints at merges 2 and 4; merges 5 and 6 stack on top
        assert n_replace <= T.BPE_CHECKPOINT_EVERY, plan
        ev = evidence(spark, SF_DIR, "bpe_train")
        assert ev["k"] == 6
        assert ev["merges_per_checkpoint"] == T.BPE_CHECKPOINT_EVERY
        assert ev["n_checkpoints"] == 2
        # the K=6 merge table extends the K=4 one (the loop is a
        # prefix-stable greedy): first 4 merges agree with the default
        six = sc["bpe_merges"]
        assert len(six) == 6
    finally:
        T.BPE_TRAIN_MERGES = old_k
        sc.pop("bpe_merges", None)
        sc.pop("bpe_train", None)
        if saved_memo is not None:
            sc["bpe_merges"] = saved_memo
        if saved_ev is not None:
            sc["bpe_train"] = saved_ev
    # the default-K model state must be rebuildable and prefix-agree
    four = T._bpe_merges(spark, SF_DIR)
    assert four == six[: len(four)]


def test_bpe_encode_token_accounting(spark, duck):
    """text_bpe_encode (r15): per-doc token counts reconcile exactly
    with the apply twin's corpus aggregate -- sum(n_tokens) over all
    docs = symbols_after (vocab words, len >= 2) + the number of
    1-char word OCCURRENCES (excluded from the trainer vocabulary,
    encoded as themselves); every doc appears exactly once; re-running
    yields identical hashes (deterministic ordered encoding)."""
    rows = PIPELINE_OPS["text_bpe_encode"][0](spark, SF_DIR).collect()
    n_docs = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    st = PIPELINE_OPS["text_bpe_apply"][0](spark, SF_DIR).collect()[0]
    one_char = duck.execute(
        "SELECT count(*) FROM (SELECT unnest(regexp_extract_all("
        "lower(text), '[a-z]+|[0-9]+')) AS w FROM documents) "
        "WHERE len(w) = 1"
    ).fetchone()[0]
    assert sum(r.n_tokens for r in rows) == st.symbols_after + one_char
    again = {
        r.doc_id: (r.n_tokens, r.ids_hash)
        for r in PIPELINE_OPS["text_bpe_encode"][0](spark, SF_DIR).collect()
    }
    assert again == {r.doc_id: (r.n_tokens, r.ids_hash) for r in rows}


def test_bpe_encode_vocab_path_is_bit_identical(spark):
    """The realistic-K encode path (via_vocab=True: K replaces paid
    once per DISTINCT word, per-doc order reassembled from positions)
    must be bit-identical to the inline chained-replace path --
    including wordless docs (empty id sequence) and 1-char words."""
    from query_optimizer_spark.functions.text import bpe_encode_docs

    inline = {
        r.doc_id: (r.n_tokens, r.ids_hash)
        for r in bpe_encode_docs(spark, SF_DIR).collect()
    }
    vocab = {
        r.doc_id: (r.n_tokens, r.ids_hash)
        for r in bpe_encode_docs(spark, SF_DIR, via_vocab=True).collect()
    }
    assert vocab == inline


def test_user_features_consistency(spark, duck):
    """Feature vector covers every user exactly once; the dominant type
    really is a modal event type for that user."""
    rows = PIPELINE_OPS["evt_user_features"][0](spark, SF_DIR).collect()
    n_users, n_events = duck.execute(
        "SELECT count(DISTINCT user_id), count(*) FROM events"
    ).fetchone()
    assert len(rows) == n_users
    assert sum(r.n_events for r in rows) == n_events
    modal = {
        (u, t): c
        for u, t, c in duck.execute(
            "SELECT user_id, event_type, count(*) FROM events GROUP BY 1, 2"
        ).fetchall()
    }
    for r in rows:
        assert r.span_s >= 0
        assert (r.mean_gap_s is None) == (r.n_events == 1)
        top_cnt = modal[(r.user_id, r.top_type)]
        assert top_cnt == max(
            c for (u, _), c in modal.items() if u == r.user_id
        )


def test_source_stats_is_a_partition(spark):
    """Data card covers the whole corpus: doc counts sum to the corpus,
    shares sum to 1."""
    rows = PIPELINE_OPS["corpus_source_stats"][0](spark, SF_DIR).collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.share for r in rows) == pytest.approx(1.0, abs=1e-4)
    for r in rows:
        assert r.total_chars > 0 and r.total_tokens > 0
        assert r.n_langs >= 1


def test_bigram_lm_score_bounds(spark, duck):
    """LM scores are valid micro-probabilities; every multi-token doc is
    scored and its bigram count is token count minus one."""
    from query_optimizer_spark.functions.text import LM_QUANT

    rows = PIPELINE_OPS["text_bigram_lm_score"][0](spark, SF_DIR).collect()
    tok = {
        r.doc_id: r.n_ws_tokens
        for r in PIPELINE_OPS["text_token_count"][0](spark, SF_DIR).collect()
    }
    scored = {r.doc_id for r in rows}
    assert scored == {d for d, n in tok.items() if n >= 2}
    for r in rows:
        assert r.n_bigrams == tok[r.doc_id] - 1
        assert 0 < r.mean_p <= LM_QUANT
        assert 0 < r.sum_p <= r.n_bigrams * LM_QUANT


def test_pca_direction_dominates_seed_axis(spark, duck):
    """Power iteration must IMPROVE the Rayleigh quotient over its e_0
    seed (the spectral property that makes it PCA), and the projection
    stats must cover the whole corpus."""
    import numpy as np

    from query_optimizer_spark.functions.similarity import pca_direction

    v = np.array(pca_direction(spark, SF_DIR), dtype=np.float64)
    Q = np.array(
        [
            row[0]
            for row in duck.execute(
                "SELECT [round(x::DOUBLE * 1000)::BIGINT for x in embedding]"
                " FROM embeddings ORDER BY vec_id"
            ).fetchall()
        ],
        dtype=np.float64,
    )
    G = Q.T @ Q
    e0 = np.zeros(len(v))
    e0[0] = 1.0

    def rq(u):
        return (u @ G @ u) / (u @ u)

    assert rq(v) >= rq(e0)
    assert rq(v) >= 0.5 * np.linalg.eigvalsh(G).max()  # near-dominant

    rows = PIPELINE_OPS["emb_pca_project"][0](spark, SF_DIR).collect()
    assert sum(r.n for r in rows) == len(Q)
    for r in rows:
        assert r.min_proj <= r.max_proj
        assert r.min_proj <= int(r.sum_proj) / r.n <= r.max_proj


def test_winnowing_guarantee_on_planted_dups(spark, duck):
    """Winnowing's theorem: any shared token run of length >= k+w-1
    yields a shared selected fingerprint -- so the planted near-dup
    pairs (jaccard ~0.99, long shared runs) MUST share fingerprints;
    and density stays within the [1/w, 1] selection band."""
    from query_optimizer_spark.functions.text import winnow_fingerprints

    rows = winnow_fingerprints(spark, SF_DIR).collect()
    for r in rows:
        assert 0 < r.n_fps
        assert 0.0 < r.density <= 1.0
        assert r.fp_min <= r.fp_max

    # recompute the actual fingerprint SETS (oracle arithmetic) for the
    # planted dup pairs and assert non-empty intersection
    dups = duck.execute(PIPELINE_OPS["dedup_ngram_jaccard"][1]).fetchall()
    assert dups, "no planted dups -- weak test"
    from query_optimizer_spark.functions.constants import sql_tokens, sql_hash16
    from query_optimizer_spark.functions.text import WINNOW_K, WINNOW_W

    h16 = sql_hash16(f"array_to_string(toks[i:i + {WINNOW_K} - 1], ' ')")
    sets_sql = f"""
        WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks
                   FROM documents WHERE doc_id IN ({{ids}})),
        g AS (SELECT doc_id,
                     [{h16} for i in
                      generate_series(1, len(toks) - {WINNOW_K} + 1)] AS grams
              FROM t)
        SELECT doc_id,
               list_distinct([list_min(grams[j:j + {WINNOW_W} - 1])
                for j in generate_series(1, len(grams) - {WINNOW_W} + 1)])
        FROM g
    """
    for a, b, _ in dups[:5]:
        got = dict(
            duck.execute(sets_sql.format(ids=f"{a}, {b}")).fetchall()
        )
        assert set(got[a]) & set(got[b]), (a, b)


def test_family_agreement_consistency(spark, duck):
    """The agreement table must partition the union of the three
    candidate sets: marginal counts recomputed from it equal each
    detector's own pair count."""
    rows = PIPELINE_OPS["dedup_family_agreement"][0](spark, SF_DIR).collect()
    assert all(
        r.in_minhash + r.in_jaccard + r.in_simhash > 0 for r in rows
    )  # the (0,0,0) pattern cannot appear
    marg = {"mh": 0, "ng": 0, "sh": 0}
    for r in rows:
        marg["mh"] += r.in_minhash * r.n_pairs
        marg["ng"] += r.in_jaccard * r.n_pairs
        marg["sh"] += r.in_simhash * r.n_pairs
    n_mh = len(duck.execute(PIPELINE_OPS["dedup_minhash_lsh"][1]).fetchall())
    n_ng = len(duck.execute(PIPELINE_OPS["dedup_ngram_jaccard"][1]).fetchall())
    n_sh = len(duck.execute(PIPELINE_OPS["dedup_simhash"][1]).fetchall())
    assert (marg["mh"], marg["ng"], marg["sh"]) == (n_mh, n_ng, n_sh)


def test_heaps_law_bounds(spark):
    """Vocabulary size per source is positive, at most the token count,
    and the TTR is the exact ratio."""
    rows = PIPELINE_OPS["text_heaps_law"][0](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_types <= r.n_tokens
        assert r.type_token_ratio == round(r.n_types / r.n_tokens, 6)


def test_recall_report_consistent_with_quality_tests(spark):
    """The report's micro-averaged recall must reproduce what the ANN
    quality tests measure; counts are internally consistent."""
    rows = {r.method: r for r in
            PIPELINE_OPS["sim_recall_report"][0](spark, SF_DIR).collect()}
    assert set(rows) == {"lsh", "ivf"}
    for r in rows.values():
        assert 0 <= r.n_hits <= r.n_truth
        assert r.recall == round(r.n_hits / r.n_truth, 6)
    # thresholds mirror test_lsh_ann_quality / test_ivf_ann_quality
    assert rows["lsh"].recall > 0.2
    assert rows["ivf"].recall > 0.3


def test_dataset_card_cross_checks(spark, duck):
    """The card's numbers must agree with independent recomputations
    from the other operators' domains."""
    r = PIPELINE_OPS["corpus_dataset_card"][0](spark, SF_DIR).collect()[0]
    n_docs, = duck.execute("SELECT count(*) FROM documents").fetchone()
    assert r.n_docs == n_docs
    tok_total = sum(
        x.n_ws_tokens
        for x in PIPELINE_OPS["text_token_count"][0](spark, SF_DIR).collect()
    )
    assert r.total_tokens == tok_total
    heaps = PIPELINE_OPS["text_heaps_law"][0](spark, SF_DIR).collect()
    assert r.total_tokens == sum(h.n_tokens for h in heaps)
    assert r.vocab_size <= sum(h.n_types for h in heaps)  # union <= sum
    assert r.n_unique_texts + r.n_exact_dups == r.n_docs
    assert r.dup_rate == round(r.n_exact_dups / r.n_docs, 6)


def test_countmin_overestimates_only(spark):
    """CM-sketch invariant (r7): estimates can only overcount --
    est >= true for every reported token, and the report covers exactly
    the top-k tokens."""
    from query_optimizer_spark.functions.constants import CM_REPORT_TOPK

    rows = PIPELINE_OPS["text_countmin_freq"][0](spark, SF_DIR).collect()
    assert len(rows) == CM_REPORT_TOPK
    for r in rows:
        assert r.est_cnt >= r.true_cnt > 0, r
        assert r.overcount == r.est_cnt - r.true_cnt >= 0


def test_range_join_covers_every_purchase(spark, duck):
    """Bucketed range join invariants (r7): exactly one output row per
    purchase; a row has a view-recency iff it counted at least one
    view, and that recency lies inside the (0, 1h] window."""
    from query_optimizer_spark.functions.temporal import RANGE_JOIN_WINDOW_MS

    rows = PIPELINE_OPS["evt_range_join"][0](spark, SF_DIR).collect()
    n_purchases = duck.execute(
        "SELECT count(*) FROM events WHERE event_type = 'purchase'"
    ).fetchone()[0]
    assert len(rows) == n_purchases
    assert len({r.event_id for r in rows}) == n_purchases
    for r in rows:
        if r.n_views_1h == 0:
            assert r.ms_since_last_view is None
        else:
            assert 0 <= r.ms_since_last_view < RANGE_JOIN_WINDOW_MS


def test_hamming_signature_packing_matches_numpy(spark):
    """The packed sign-bit words (r8) must equal an independent numpy
    packing of the same quantized vectors, and the XOR+popcount Hamming
    distance must equal the element-wise sign-disagreement count."""
    import numpy as np
    from pyspark.sql import functions as F

    from query_optimizer_spark.functions import similarity

    emb = similarity._quantized(spark, SF_DIR).withColumn(
        "w0", F.expr(similarity._ham_word_spark(0))
    ).withColumn("w1", F.expr(similarity._ham_word_spark(1)))
    rows = emb.select("vec_id", "q", "w0", "w1").orderBy("vec_id").collect()
    assert rows
    packed = {}
    for r in rows:
        q = np.asarray(r.q)
        bits = (q > 0).astype(np.int64)
        w0 = int((bits[:32] << np.arange(32)).sum())
        w1 = int((bits[32:64] << np.arange(32)).sum())
        assert (r.w0, r.w1) == (w0, w1), r.vec_id
        packed[r.vec_id] = bits
    # Hamming via packed words == sign-disagreement count, spot-checked
    # across the first query's neighborhood
    a = rows[0]
    for b in rows[1:16]:
        ham = bin(a.w0 ^ b.w0).count("1") + bin(a.w1 ^ b.w1).count("1")
        assert ham == int((packed[a.vec_id] != packed[b.vec_id]).sum())


def test_hamming_topk_contract(spark):
    """sim_hamming_topk (r8): exactly top-k rows per query with dense
    ranks; the exact-cosine re-rank orders each query's rows by
    (cosine desc, neighbor_id); no query returns itself."""
    from query_optimizer_spark.functions.constants import (
        ANN_N_QUERIES,
        ANN_TOP_K,
    )

    rows = PIPELINE_OPS["sim_hamming_topk"][0](spark, SF_DIR).collect()
    assert len(rows) == ANN_N_QUERIES * ANN_TOP_K
    by_q: dict[int, list] = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == ANN_N_QUERIES
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, ANN_TOP_K + 1))
        key = [(-r.cosine, r.neighbor_id) for r in rs]
        assert key == sorted(key), q


def test_bucketed_join_plan_has_no_exchange(spark):
    """io_bucketed_join (r8): the gated runner's inline assert is the
    contract -- the co-located sort-merge join must build with zero
    Exchange; here we also assert the OUTPUT matches a plain (shuffled)
    join of the raw parquet, so bucketing changed the plan, not the
    answer."""
    from pyspark.sql import functions as F

    from query_optimizer_spark.session import read_table

    df = PIPELINE_OPS["io_bucketed_join"][0](spark, SF_DIR)
    got = {r.bucket: (r.n_rows, r.sum_qty, round(r.revenue, 2))
           for r in df.collect()}
    li = read_table(spark, SF_DIR, "lineitem")
    orders = read_table(spark, SF_DIR, "orders")
    plain = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy((F.col("l_orderkey") % 16).cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
            F.expr("cast(sum(cast(l_extendedprice as decimal(18, 2)))"
                   " as double)").alias("revenue"),
        )
    )
    want = {r.bucket: (r.n_rows, r.sum_qty, round(r.revenue, 2))
            for r in plain.collect()}
    assert got == want


def test_zorder_skipping_prunes_most_files(spark, duck):
    """io_zorder_skipping (r8): the footer-stats pruning must skip a
    majority of the clustered files for the ~1/SEL^2 box (that IS the
    operator's reason to exist), and the surviving rows must equal a
    full-scan filter -- no row lost to an over-eager prune."""
    df = PIPELINE_OPS["io_zorder_skipping"][0](spark, SF_DIR)
    got = result_hash(df)
    zorder = evidence(spark, SF_DIR, "zorder")
    n_files, n_kept = zorder["n_files"], zorder["n_kept"]
    assert n_kept < n_files / 2, (n_kept, n_files)
    expected = duck_hash(duck, PIPELINE_OPS["io_zorder_skipping"][1])
    assert got == expected


def test_runtime_bloom_prune_restores_confs(spark, duck):
    """io_runtime_bloom_prune (r8) flips session confs (broadcast OFF,
    bloom thresholds) while building its plan -- they MUST come back,
    or every later query in the session plans under the wrong rules.
    Also: the inline asserts require the runtime filter actually
    injected, and the output matches the full-scan oracle."""
    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter."
            "creationSideThreshold",
        )
    }
    df = PIPELINE_OPS["io_runtime_bloom_prune"][0](spark, SF_DIR)
    got = result_hash(df)
    after = {k: spark.conf.get(k) for k in before}
    assert after == before, (before, after)
    expected = duck_hash(duck, PIPELINE_OPS["io_runtime_bloom_prune"][1])
    assert got == expected


def test_hll_vocab_estimator_quality(spark, duck):
    """text_hll_vocab (r8): the small-range-corrected estimate must
    land within 20% of the exact distinct count (Flajolet's linear-
    counting regime -- the base corpus vocabulary is far below m), the
    raw estimator must visibly overshoot in that regime (that is WHY
    the correction exists), and the register frame must be exactly m
    wide."""
    from query_optimizer_spark.functions.text import HLL_M

    row = PIPELINE_OPS["text_hll_vocab"][0](spark, SF_DIR).collect()[0]
    assert row.m == HLL_M
    assert 0 < row.used_registers <= HLL_M
    assert abs(row.rel_err_pct) <= 20.0, row
    assert row.hll_raw_estimate > row.hll_estimate, row
    exact = duck.execute(
        "SELECT count(DISTINCT tok) FROM (SELECT unnest("
        "list_filter(string_split_regex(trim(regexp_replace(lower(text),"
        " '[^a-z0-9 ]', ' ', 'g')), ' +'), x -> x <> '')) AS tok"
        " FROM documents)"
    ).fetchone()[0]
    assert row.exact_vocab == exact


def test_kmv_overlap_estimator_quality(spark, duck):
    """text_kmv_overlap (r12): the KMV jaccard estimate must agree with
    the DuckDB oracle hash-exactly (both engines build the same K
    smallest hashes), the estimates must be NON-VACUOUS (the exact
    shingle jaccards genuinely vary across source pairs -- token sets
    would all be 1.0), every estimate must sit within the sketch's
    sampling error of its exact value, and the full pair matrix must be
    present."""
    from query_optimizer_spark.functions.constants import KMV_K
    from query_optimizer_spark.harness import result_hash

    df = PIPELINE_OPS["text_kmv_overlap"][0](spark, SF_DIR)
    rows = df.collect()
    assert result_hash(df) == duck_hash(
        duck, PIPELINE_OPS["text_kmv_overlap"][1]
    )
    n_src = len({r.source_a for r in rows} | {r.source_b for r in rows})
    assert len(rows) == n_src * (n_src - 1) // 2, (len(rows), n_src)
    exacts = sorted(r.exact_jaccard for r in rows)
    assert exacts[0] < exacts[-1], "vacuous: all pairs identical"
    assert exacts[-1] < 1.0, "vacuous: full overlap"
    # 6-sigma KMV sampling bound: sigma ~ sqrt(j(1-j)/K) + resolution
    for r in rows:
        j = r.exact_jaccard
        bound = 6.0 * ((j * (1 - j) / KMV_K) ** 0.5) + 1.0 / KMV_K
        assert abs(r.kmv_jaccard - j) <= bound, (r, bound)


def test_kmv_rollup_merge_equals_direct(spark, duck):
    """text_kmv_rollup (r12): merging per-(source, lang) sub-sketches
    must reproduce the direct per-source sketch EXACTLY -- same K
    smallest values, so the pairwise estimates are bit-identical to
    kmv_source_overlap's (they share one oracle).  Also asserts the
    sub-sketch layer is real: more (source, lang) groups than sources,
    every group capped at K rows."""
    from query_optimizer_spark.functions import text
    from query_optimizer_spark.functions.constants import KMV_K
    from query_optimizer_spark.harness import result_hash

    direct = PIPELINE_OPS["text_kmv_overlap"][0](spark, SF_DIR)
    rolled = PIPELINE_OPS["text_kmv_rollup"][0](spark, SF_DIR)
    h = result_hash(rolled)
    assert h == result_hash(direct)
    assert h == duck_hash(duck, PIPELINE_OPS["text_kmv_rollup"][1])

    sub_toks = text._kmv_shared(spark, SF_DIR)["sub_toks"]
    from pyspark.sql import functions as F

    sub_hashed = sub_toks.select(
        "source", "lang", F.expr(text._KMV_H32).alias("h")
    ).distinct()
    sub = text._kmv_topk(sub_hashed, ["source", "lang"])
    groups = sub.groupBy("source", "lang").count().collect()
    n_sources = len({g.source for g in groups})
    assert len(groups) > n_sources, "sub-sketch layer is vacuous"
    assert all(g["count"] <= KMV_K for g in groups)


def test_pq_adc_recall_against_exact(spark):
    """sim_pq_adc_topk (r8): the ADC pre-rank + exact re-rank must
    recover a solid majority of the true cosine top-k (measured 0.82
    at sf0.001 with the seed codebooks; bound left slack), the contract
    shape must match the other ANN ops, and every ADC distance must be
    non-negative."""
    from query_optimizer_spark.functions import similarity
    from query_optimizer_spark.functions.constants import (
        ANN_N_QUERIES,
        ANN_TOP_K,
    )

    exact = similarity.brute_force_topk(spark, SF_DIR).collect()
    pq = PIPELINE_OPS["sim_pq_adc_topk"][0](spark, SF_DIR).collect()
    assert len(pq) == ANN_N_QUERIES * ANN_TOP_K
    assert all(r.adc_dist >= 0 and r.neighbor_id != r.query_id for r in pq)
    ex = {(r.query_id, r.neighbor_id) for r in exact}
    got = {(r.query_id, r.neighbor_id) for r in pq}
    assert len(ex & got) / len(ex) >= 0.6


def test_semdedup_consistent_with_allpairs(spark):
    """dedup_semdedup (r8): every vector appears exactly once; at least
    one planted near-dup is flagged; and for every ALL-PAIRS cosine dup
    whose two vectors landed in the same cluster, the larger id must be
    flagged (within-cluster recall is exact -- only cross-cluster pairs
    are the documented approximation)."""
    from query_optimizer_spark.functions import dedup

    rows = PIPELINE_OPS["dedup_semdedup"][0](spark, SF_DIR).collect()
    n_emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert len(rows) == n_emb
    assert len({r.vec_id for r in rows}) == n_emb
    flagged = {r.vec_id for r in rows if r.is_dup}
    assert flagged, "no semantic dup flagged -- planted dups missed"
    cluster = {r.vec_id: r.cent_id for r in rows}
    for r in rows:
        assert r.is_dup == (r.dup_of is not None)
        if r.is_dup:
            assert r.dup_of < r.vec_id
            assert cluster[r.dup_of] == cluster[r.vec_id]
    allpairs = dedup.embedding_cosine_pairs(spark, SF_DIR).collect()
    same_cluster = [
        p for p in allpairs if cluster[p.vec_a] == cluster[p.vec_b]
    ]
    assert same_cluster, "no planted dup pair shares a cluster"
    for p in same_cluster:
        assert max(p.vec_a, p.vec_b) in flagged, p


def test_merge_upsert_copy_on_write(spark, duck):
    """io_merge_upsert (r9): the MERGE writes a NEW snapshot version;
    the old version must survive the merge untouched (copy-on-write
    isolation) and the batch must have actually changed rows."""
    from query_optimizer_spark import sources

    df = PIPELINE_OPS["io_merge_upsert"][0](spark, SF_DIR)
    got = result_hash(df)
    expected = duck_hash(duck, PIPELINE_OPS["io_merge_upsert"][1])
    assert got == expected
    # the state path is session-scoped + TTL-GC'd (r10); derive it the
    # same way the op does instead of recomputing a tag by hand
    base = sources.session_state_path(spark, SF_DIR, "cust_snapshot")
    v1 = spark.read.parquet(f"{base}_v1")
    v2 = spark.read.parquet(f"{base}_v2")
    # v1 is the pre-cutoff summary: every customer with an early order,
    # none of the post-cutoff counts
    assert v1.count() > 0
    assert v2.count() >= v1.count()
    n_pre = duck.execute(
        "SELECT count(DISTINCT o_custkey) FROM orders "
        f"WHERE o_orderdate < TIMESTAMP '{sources.MERGE_CUTOFF}'"
    ).fetchone()[0]
    assert v1.count() == n_pre


def test_compact_small_files_reduces_file_count(spark, duck):
    """io_compact_small_files (r9): the rewrite must reduce the file
    count by an order of magnitude while the row multiset survives
    byte-identically (hash vs the raw slice)."""
    from query_optimizer_spark import sources

    df = PIPELINE_OPS["io_compact_small_files"][0](spark, SF_DIR)
    got = result_hash(df)
    expected = duck_hash(duck, PIPELINE_OPS["io_compact_small_files"][1])
    assert got == expected
    compact = evidence(spark, SF_DIR, "compact")
    n_in, n_out = compact["n_in"], compact["n_out"]
    assert n_in == sources.COMPACT_SMALL_N
    assert n_out <= n_in / 4, (n_in, n_out)


def test_incremental_rollup_state_is_partial(spark, duck):
    """evt_incremental_rollup (r9): the materialized state must cover
    every day EXCEPT the newest (the incremental claim -- the refresh
    reads one day of raw events plus the compact state), and the merge
    must equal the full recompute."""
    from query_optimizer_spark import sources

    df = PIPELINE_OPS["evt_incremental_rollup"][0](spark, SF_DIR)
    got = result_hash(df)
    expected = duck_hash(duck, PIPELINE_OPS["evt_incremental_rollup"][1])
    assert got == expected
    # session-scoped + TTL-GC'd path (r10): derive it like the op does
    state = spark.read.parquet(
        sources.session_state_path(spark, SF_DIR, "rollup_state")
    )
    full_days = duck.execute(
        "SELECT count(DISTINCT date_trunc('day', ts)) FROM events"
    ).fetchone()[0]
    state_days = state.select("day").distinct().count()
    assert state_days == full_days - 1


def test_audio_framing_geometry(spark, duck):
    """mm_audio_framing (r9): every doc long enough for one window must
    emit exactly 1 + (n - WIN) // HOP frames (the 50%-overlap framing
    contract), and frame features must match the exact-integer oracle."""
    from query_optimizer_spark.functions import multimodal as mm

    df = PIPELINE_OPS["mm_audio_framing"][0](spark, SF_DIR)
    got = result_hash(df)
    expected = duck_hash(duck, PIPELINE_OPS["mm_audio_framing"][1])
    assert got == expected
    per_doc = {
        r.doc_id: r.nf
        for r in df.groupBy("doc_id").count().withColumnRenamed(
            "count", "nf"
        ).collect()
    }
    lens = dict(
        duck.execute(
            "SELECT doc_id, strlen(text) FROM documents"
        ).fetchall()
    )
    for doc_id, n in lens.items():
        want = 1 + (n - mm.AUDIO_WIN) // mm.AUDIO_HOP if n >= mm.AUDIO_WIN else 0
        assert per_doc.get(doc_id, 0) == want, (doc_id, n)


def test_audio_frame_bound_holds_at_every_gate_sf(duck):
    """r9 ADVICE: AUDIO_MAX_FRAMES hard-caps the oracle's
    generate_series (this DuckDB build accepts only constant bounds),
    so a document longer than WIN + HOP*MAX chars would make the
    oracle silently drop frames the Spark side emits.  The op now
    raises on such a payload; this pins that the bound actually holds
    on every dataset the gates run (sf0.001 pytest, sf0.01 driver
    gate, sf0.1 bench), so the raise path stays dead."""
    from query_optimizer_spark.functions import multimodal as mm

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        max_n = duck.execute(
            "SELECT max(strlen(text)) FROM "
            f"read_parquet('/root/testdata/{sf}/documents.parquet')"
        ).fetchone()[0]
        nf = 1 + (max_n - mm.AUDIO_WIN) // mm.AUDIO_HOP
        assert nf <= mm.AUDIO_MAX_FRAMES, (sf, max_n, nf)


def test_quantile_rollup_merge_equals_direct(spark):
    """r9 VERDICT #4, the histogram's analogue of the HLL rollup proof:
    the rollup's 'ALL' row is computed by ADDING the stored per-day
    bucket counts; evt_quantile_sketch computes the same buckets
    directly from the full stream.  Count addition must be lossless:
    identical n_events and identical p50/p90/p99 estimates per type."""
    direct = {
        r.event_type: r
        for r in PIPELINE_OPS["evt_quantile_sketch"][0](
            spark, SF_DIR
        ).collect()
    }
    merged = {
        r.event_type: r
        for r in PIPELINE_OPS["evt_quantile_rollup"][0](spark, SF_DIR)
        .filter("scope = 'ALL'")
        .collect()
    }
    assert set(merged) == set(direct) and merged
    for et, m in merged.items():
        d = direct[et]
        assert m.n_events == d.n_events
        for q in (50, 90, 99):
            assert getattr(m, f"p{q}_est") == getattr(d, f"p{q}_est"), (
                et, q
            )


def test_stream_quantile_sketch_matches_batch_sketch(spark):
    """The streaming histogram's state is the same count vector the
    batch sketch aggregates in one pass; after draining the stream the
    estimates must agree exactly (and with the relational oracle via
    the gate)."""
    batch = {
        r.event_type: r
        for r in PIPELINE_OPS["evt_quantile_sketch"][0](
            spark, SF_DIR
        ).collect()
    }
    stream = {
        r.event_type: r
        for r in PIPELINE_OPS["stream_quantile_sketch"][0](
            spark, SF_DIR
        ).collect()
    }
    assert set(stream) == set(batch) and stream
    for et, s in stream.items():
        b = batch[et]
        assert s.n_events == b.n_events
        for q in (50, 90, 99):
            assert getattr(s, f"p{q}_est") == getattr(b, f"p{q}_est")


def test_train_pipeline_funnel_monotone_and_consistent(spark, duck):
    """The end-to-end funnel must be monotone (each stage is an AND of
    the previous), anchored to the constituent ops: raw == |documents|,
    exact_dedup == the number of dedup_exact survivor groups, and the
    final quality stage keeps a non-trivial corpus."""
    rows = {
        r.stage: r
        for r in PIPELINE_OPS["corpus_train_pipeline"][0](
            spark, SF_DIR
        ).collect()
    }
    assert [rows[s].stage_name for s in range(5)] == [
        "raw", "exact_dedup", "near_dedup", "decontaminated", "quality",
    ]
    for s in range(1, 5):
        assert rows[s].n_docs <= rows[s - 1].n_docs, s
        assert rows[s].n_tokens <= rows[s - 1].n_tokens, s
    n_docs = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert rows[0].n_docs == n_docs
    n_groups = duck.execute(
        f"SELECT count(*) FROM ({PIPELINE_OPS['dedup_exact'][1]})"
    ).fetchone()[0]
    assert rows[1].n_docs == n_groups
    assert 0 < rows[4].n_docs < n_docs


def test_gapfill_locf_dense_grid_and_carry(spark, duck):
    """evt_gapfill_locf (r12): the grid must be DENSE per event_type
    (every hour between the series' first and last observation), gaps
    flagged, and the carried value must equal the most recent observed
    hour's total."""
    rows = PIPELINE_OPS["evt_gapfill_locf"][0](spark, SF_DIR).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert by_type
    n_gaps = 0
    for series in by_type.values():
        series.sort(key=lambda r: r.window_start)
        # dense: consecutive rows exactly one hour apart
        for a, b in zip(series, series[1:]):
            assert (b.window_start - a.window_start).total_seconds() == 3600
        # endpoints are observed by construction
        assert series[0].gap == 0 and series[-1].gap == 0
        last_obs = None
        for r in series:
            if r.gap == 0:
                assert r.n_events > 0
                last_obs = r.locf_value
            else:
                n_gaps += 1
                assert r.n_events == 0
                # carried value equals the last observed hour's total
                assert r.locf_value == last_obs
    assert n_gaps > 0, "no gaps in testdata -- the LOCF path never ran"


def test_substring_dup_spans_bounds_and_planted_dups(spark, duck):
    """dedup_substring (r12): per-doc dup counts are bounded by the span
    count, and the planted near-dup docs (jaccard ~0.99 pairs) must
    show up with high duplicated-span fractions."""
    df = PIPELINE_OPS["dedup_substring"][0](spark, SF_DIR)
    rows = {r.doc_id: r for r in df.collect()}
    assert rows
    for r in rows.values():
        assert 0 <= r.n_dup_grams <= r.n_grams
        assert abs(r.dup_ratio - round(r.n_dup_grams / r.n_grams, 6)) < 1e-12
    planted = duck.execute(
        PIPELINE_OPS["dedup_ngram_jaccard"][1]
    ).fetchall()
    assert planted, "no planted duplicates in testdata"
    for a, b, _ in planted:
        # near-identical docs share almost all K-gram spans
        assert rows[a].dup_ratio >= 0.5, (a, rows[a])
        assert rows[b].dup_ratio >= 0.5, (b, rows[b])


def test_range_search_consistent_with_topk(spark):
    """sim_range_search (r12): range results at tau must contain every
    brute-force top-k neighbor whose cosine >= tau (same scoring), and
    n_in_range must equal the per-query group size."""
    from query_optimizer_spark.functions.constants import RANGE_TAU

    rng = PIPELINE_OPS["sim_range_search"][0](spark, SF_DIR).collect()
    topk = PIPELINE_OPS["sim_bruteforce_topk"][0](spark, SF_DIR).collect()
    in_range = {(r.query_id, r.neighbor_id): r for r in rng}
    counts: dict[int, int] = {}
    for r in rng:
        counts[r.query_id] = counts.get(r.query_id, 0) + 1
    for r in rng:
        assert r.cosine >= RANGE_TAU
        assert r.n_in_range == counts[r.query_id]
    hits = 0
    for t in topk:
        if t.cosine >= RANGE_TAU:
            hits += 1
            got = in_range[(t.query_id, t.neighbor_id)]
            assert got.cosine == t.cosine
    assert hits > 0, "tau above every top-k cosine -- test is vacuous"


def test_hotkey_hybrid_exercises_both_paths(spark, duck):
    """skew_hotkey_hybrid (r12): the hot/cold split must partition the
    probe side exactly (totals equal the plain join) and BOTH paths
    must be non-empty at the gate SF, else the demo demonstrates
    nothing."""
    df = PIPELINE_OPS["skew_hotkey_hybrid"][0](spark, SF_DIR)
    rows = df.collect()
    n_events = sum(r.n_events for r in rows)
    n_hot = sum(r.n_hot_events for r in rows)
    plain = duck.execute(
        "SELECT count(*) FROM events e JOIN customer c "
        "ON e.user_id = c.c_custkey"
    ).fetchone()[0]
    assert n_events == plain
    assert 0 < n_hot < n_events, (n_hot, n_events)


def test_window_funnel_max_anchor_semantics(spark, duck):
    """evt_window_funnel (r12): the level histogram must cover every
    user with a funnel-stage event, and the max-over-anchors semantics
    must differ from greedy first-anchor on this data (else the op
    degenerates to evt_funnel and the test is vacuous)."""
    from query_optimizer_spark.functions.temporal import WF_WINDOW_MS

    rows = PIPELINE_OPS["evt_window_funnel"][0](spark, SF_DIR).collect()
    hist = {r.level: r.n_users for r in rows}
    n_users = duck.execute(
        "SELECT count(DISTINCT user_id) FROM events "
        "WHERE event_type IN ('view','click','purchase')"
    ).fetchone()[0]
    assert sum(hist.values()) == n_users
    assert hist.get(3, 0) > 0, "no full conversions -- weak data"
    w = WF_WINDOW_MS
    lvl = (
        "CASE WHEN len(list_filter(cs, c -> c > v AND c <= v + {w})) = 0 "
        "THEN 1 ELSE CASE WHEN len(list_filter(ps, p -> p > "
        "list_min(list_filter(cs, c -> c > v AND c <= v + {w})) "
        "AND p <= v + {w})) = 0 THEN 2 ELSE 3 END END"
    ).format(w=w)
    n_beats = duck.execute(f"""
        WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms
                   FROM events
                   WHERE event_type IN ('view','click','purchase')),
        pu AS (SELECT user_id,
            list_sort(coalesce(list(ms) FILTER (WHERE event_type='view'), [])) vs,
            list_sort(coalesce(list(ms) FILTER (WHERE event_type='click'), [])) cs,
            list_sort(coalesce(list(ms) FILTER (WHERE event_type='purchase'), [])) ps
          FROM e GROUP BY user_id)
        SELECT count(*) FROM pu WHERE len(vs) > 0
          AND list_max([{lvl} for v in vs]) > [{lvl} for v in vs][1]
    """).fetchone()[0]
    assert n_beats > 0, "first anchor always optimal -- sliding scan untested"


def test_bm25_scores_positive_and_term_grounded(spark, duck):
    """text_bm25_topk (r12): ranks dense 1..K per query, scores
    non-increasing and positive, and every returned doc actually
    contains at least one query term."""
    from query_optimizer_spark.functions.constants import (
        BM25_QUERIES,
        BM25_TOP_K,
    )

    rows = PIPELINE_OPS["text_bm25_topk"][0](spark, SF_DIR).collect()
    terms = dict(BM25_QUERIES)
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {qid for qid, _ in BM25_QUERIES}
    for qid, got in by_q.items():
        got.sort(key=lambda r: r.rank)
        assert [r.rank for r in got] == list(range(1, BM25_TOP_K + 1))
        assert all(r.score > 0 for r in got)
        assert all(a.score >= b.score for a, b in zip(got, got[1:]))
        pat = "|".join(terms[qid])
        grounded = {
            d
            for (d,) in duck.execute(
                "SELECT doc_id FROM documents WHERE "
                f"regexp_matches(lower(text), '\\b({pat})\\b')"
            ).fetchall()
        }
        for r in got:
            assert r.doc_id in grounded, (qid, r.doc_id)


def test_schema_evolution_nulls_and_partition_prune(spark, duck):
    """io_schema_evolution (r12): the mergeSchema read nulls the evolved
    column exactly on pre-evolution rows, and a generation-scoped query
    still prunes directories (PartitionFilters on gen)."""
    from query_optimizer_spark.executor import physical_plan
    from query_optimizer_spark.sources import session_state_path

    # materialize via the op itself (r13: the derived table now lives
    # at the appId-scoped session state path)
    PIPELINE_OPS["io_schema_evolution"][0](spark, SF_DIR).collect()
    out = session_state_path(spark, SF_DIR, "orders_evolved")
    back = spark.read.option("mergeSchema", "true").parquet(out)
    assert "o_orderpriority" in back.columns
    n_bad = back.filter(
        "(gen = 1 AND o_orderpriority IS NOT NULL) OR "
        "(gen = 2 AND o_orderpriority IS NULL)"
    ).count()
    assert n_bad == 0
    pruned = back.filter("gen = 2")
    plan = physical_plan(pruned)
    assert "PartitionFilters" in plan and "gen" in plan.split(
        "PartitionFilters", 1
    )[1][:200], plan[:800]


def test_matryoshka_recall_bounds_and_gradient(spark):
    """emb_matryoshka_recall (r12): recalls bounded in [0,1] with
    n_hits <= k, every (query, prefix_dim) cell present, and the mean
    recall at the largest prefix must beat the smallest (more dims ->
    better retrieval, on average)."""
    from query_optimizer_spark.functions.constants import (
        ANN_N_QUERIES,
        ANN_TOP_K,
    )
    from query_optimizer_spark.functions.similarity import MRL_PREFIX_DIMS

    rows = PIPELINE_OPS["emb_matryoshka_recall"][0](spark, SF_DIR).collect()
    assert len(rows) == ANN_N_QUERIES * len(MRL_PREFIX_DIMS)
    by_dim: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.n_hits <= ANN_TOP_K
        assert abs(r.recall - round(r.n_hits / ANN_TOP_K, 6)) < 1e-12
        by_dim.setdefault(r.prefix_dim, []).append(r.recall)
    assert set(by_dim) == set(MRL_PREFIX_DIMS)
    lo, hi = min(MRL_PREFIX_DIMS), max(MRL_PREFIX_DIMS)
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    assert mean(by_dim[hi]) > mean(by_dim[lo]), (
        mean(by_dim[lo]), mean(by_dim[hi]))


def test_stream_window_funnel_equals_batch(spark):
    """stream_window_funnel (r12): the live per-user levels, finished
    with the monotone max, must reproduce the batch evt_window_funnel
    histogram exactly."""
    from query_optimizer_spark.harness import result_hash

    got = result_hash(PIPELINE_OPS["stream_window_funnel"][0](spark, SF_DIR))
    want = result_hash(PIPELINE_OPS["evt_window_funnel"][0](spark, SF_DIR))
    assert got == want


def test_novelty_curve_duals_substring_dedup(spark, duck):
    """text_novelty_curve (r12): novelty bounded in (0,1]; doc_id 0's
    grams are all first-seen there (novelty == 1 for the smallest
    doc_id); and the planted near-dup pairs' HIGHER doc_id must show
    low novelty (its content was first seen in the lower one)."""
    rows = {
        r.doc_id: r
        for r in PIPELINE_OPS["text_novelty_curve"][0](spark, SF_DIR).collect()
    }
    assert rows
    for r in rows.values():
        assert 0 < r.n_distinct_grams
        assert 0 <= r.n_novel <= r.n_distinct_grams
    assert rows[min(rows)].novelty == 1.0
    planted = duck.execute(PIPELINE_OPS["dedup_ngram_jaccard"][1]).fetchall()
    assert planted
    for a, b, _ in planted:
        hi = max(a, b)
        assert rows[hi].novelty <= 0.5, (hi, rows[hi])


def test_substring_removal_conserves_and_cuts_dups(spark):
    """dedup_substring_removal (r13): token conservation (kept + removed
    == the doc's token count), span bounds (each merged span covers at
    least K tokens, so n_spans * K <= ... removed can be shorter only
    never -- spans are maximal runs of covered positions, each at least
    K long), untouched docs hash to their full tokenization, and every
    doc dedup_substring flags at full dup_ratio ~1 loses (nearly) all
    its tokens."""
    from pyspark.sql import functions as F

    from query_optimizer_spark.functions.constants import SUBSTR_NGRAM
    from query_optimizer_spark.functions.text import TOKS

    df = PIPELINE_OPS["dedup_substring_removal"][0](spark, SF_DIR)
    rows = {r.doc_id: r for r in df.collect()}
    assert rows
    ntoks = {
        r.doc_id: (r.n, r.h)
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            "doc_id",
            F.expr(f"size({TOKS})").alias("n"),
            F.expr(f"md5(array_join({TOKS}, ' '))").alias("h"),
        )
        .collect()
    }
    cut = 0
    for r in rows.values():
        n, full_hash = ntoks[r.doc_id]
        assert r.kept_tokens + r.removed_tokens == n, r
        if r.n_spans:
            cut += 1
            # every maximal covered run contains >= K positions
            assert r.removed_tokens >= r.n_spans * SUBSTR_NGRAM, r
        else:
            assert r.removed_tokens == 0
            assert r.cleaned_hash == full_hash, r
    assert cut > 0, "no doc lost a span -- test is vacuous"
    spans = {
        r.doc_id: r
        for r in PIPELINE_OPS["dedup_substring"][0](spark, SF_DIR).collect()
    }
    for doc_id, s in spans.items():
        # a doc is trimmed iff the diagnostic flags at least one
        # duplicated gram (same K, same corpus-wide occurrence rule)
        assert (rows[doc_id].removed_tokens > 0) == (s.n_dup_grams > 0)
