"""Corpus-preparation operators: the end-to-end text curation steps a
training-data pipeline runs between raw documents and tokenization.

All JVM-side built-ins (regexp/aggregate/window), shuffles only where the
semantics demand one (vocabulary count, document frequency), DuckDB
oracles generated from the same constants.  TF-IDF uses a *rational* idf
(N/df) rather than log(N/df): transcendental functions are the one class
of arithmetic whose last-ulp behavior is not guaranteed identical across
engines, and rational idf preserves the ranking on a fixed corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources import read_parquet
from .constants import (
    BLOOM_K,
    BLOOM_M_BITS,
    BOILER_DF_MIN,
    BOILER_NGRAM,
    DECON_EVAL_MOD,
    DECON_NGRAM,
    DECON_SALT,
    MIX_DEFAULT_WEIGHT,
    MIX_SALT,
    MIX_WEIGHTS,
    N_SHARDS,
    SAMPLE_DEFAULT_RATE,
    SAMPLE_RATES,
    SAMPLE_SALT,
    SHARD_SALT,
    sql_hash32,
    sql_tokens,
)
from .text import TOKS

VOCAB_TOP_K = 50
TFIDF_TOP_K = 3
SPLIT_SALT = "split:v1:"
SPLIT_TRAIN_PCT = 80
SPLIT_VALID_PCT = 10  # remainder -> test

# printable-ASCII normalization: non-printables -> space, collapse, trim
_CLEAN_SPARK = "trim(regexp_replace(regexp_replace(text, '[^ -~]', ' '), ' +', ' '))"
_CLEAN_DUCK = (
    "trim(regexp_replace(regexp_replace(text, '[^ -~]', ' ', 'g'), ' +', ' ', 'g'))"
)

# bracket classes only -- no backslash escapes, which Spark SQL string
# literals and DuckDB string literals would need to escape differently
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]+"
_PHONE_RE = "[+]?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}"


def _docs(spark, sf_dir):
    return read_parquet(spark, sf_dir, f"{sf_dir}/documents.parquet")


# --- cleaning -----------------------------------------------------------------


def clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(f"substring({_CLEAN_SPARK}, 1, 80)").alias("clean_prefix"),
        F.expr(f"cast(length(text) - length({_CLEAN_SPARK}) as int)").alias(
            "n_chars_removed"
        ),
        # count()-elimination guard (r15 bare-scan sweep): total
        # invariant referencing the computed outputs, so the projection
        # executes under a bare count() (otherwise bench/SCALING time a
        # parquet-footer scan count)
    ).filter("n_chars_removed >= 0 AND length(clean_prefix) <= 80")


def clean_text_oracle() -> str:
    return f"""
        SELECT doc_id,
               substring({_CLEAN_DUCK}, 1, 80) AS clean_prefix,
               CAST(length(text) - length({_CLEAN_DUCK}) AS INT) AS n_chars_removed
        FROM documents
    """


# --- PII redaction --------------------------------------------------------------
# The corpus has no planted PII, so the op synthesizes a deterministic
# contact line per document and redacts it -- the redaction path is what
# is under test.

_CONTACT_SPARK = (
    "concat(substring(text, 1, 40), ' contact: user', doc_id, "
    "'@example.com or +1 555-', lpad(cast(doc_id % 10000 as string), 4, '0'))"
)
_CONTACT_DUCK = (
    "substring(text, 1, 40) || ' contact: user' || doc_id || "
    "'@example.com or +1 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
)


def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    redacted = (
        f"regexp_replace(regexp_replace({_CONTACT_SPARK}, "
        f"'{_EMAIL_RE}', '<EMAIL>'), '{_PHONE_RE}', '<PHONE>')"
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(redacted).alias("redacted"),
        F.expr(
            f"cast(length({_CONTACT_SPARK}) - length({redacted}) as int)"
        ).alias("n_chars_redacted"),
        # count()-elimination guard (r15 bare-scan sweep): total
        # invariant referencing the computed outputs, so the projection
        # executes under a bare count() (otherwise bench/SCALING time a
        # parquet-footer scan count)
    ).filter("redacted IS NOT NULL AND n_chars_redacted IS NOT NULL")


def redact_pii_oracle() -> str:
    redacted = (
        f"regexp_replace(regexp_replace({_CONTACT_DUCK}, "
        f"'{_EMAIL_RE}', '<EMAIL>', 'g'), '{_PHONE_RE}', '<PHONE>', 'g')"
    )
    return f"""
        SELECT doc_id,
               {redacted} AS redacted,
               CAST(length({_CONTACT_DUCK}) - length({redacted}) AS INT)
                   AS n_chars_redacted
        FROM documents
    """


# --- vocabulary -----------------------------------------------------------------


def vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-K tokens.  One partial-aggregated shuffle on the
    token (map-side combine makes this scan-bound at 100 TB), then a
    distributed top-K via orderBy().limit(K), which Spark compiles to
    TakeOrderedAndProject -- each partition keeps only its local top-K
    and the driver merges K-row heaps, so no single task ever sees the
    full vocabulary (the global row_number window it replaces did).
    The rank window afterwards runs over exactly K rows."""
    toks = _docs(spark, sf_dir).select(F.explode(F.expr(TOKS)).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    topk = counts.orderBy(F.col("cnt").desc(), F.col("tok")).limit(VOCAB_TOP_K)
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok"))
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "tok", "cnt")
        # row-level invariant guard (row_number >= 1 always): windows
        # never change cardinality, so without a reference Catalyst
        # ELIMINATES the K-row rank window under a bare count() (r14
        # sweep: scripts/count_prune_audit.py)
        .filter(F.col("rank") >= 1)
    )


def vocabulary_topk_oracle() -> str:
    return f"""
        WITH toks AS (
            SELECT unnest({sql_tokens('text')}) AS tok FROM documents
        ),
        counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
        SELECT CAST(rank AS INT) AS rank, tok, cnt FROM (
            SELECT tok, cnt,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank
            FROM counts
        ) WHERE rank <= {VOCAB_TOP_K}
    """


# --- tf-idf ---------------------------------------------------------------------


def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K tokens per document by tf*idf with rational idf = N/df.

    Scale shape: the (doc_id, tok) term counts shuffle once; document
    frequency is a ``groupBy("tok").count()`` over that table (tf is
    unique per (doc_id, tok), so the row count per tok IS df) joined
    back on tok.  The aggregate+join replaces r4's
    ``count() over (partition by tok)`` window: map-side partial
    aggregation collapses a stopword token's billions of (doc, tok)
    rows to one partial per task, and the join runs under AQE skew
    handling -- whereas a window partitioned on a vocabulary-scale key
    routes every row for a hot token into ONE task and AQE cannot split
    window partitions.  No vocabulary broadcast either (multi-GB at web
    scale; the r1->r2 fix).  doc_len rides the FINAL doc_id window
    stage (same partitioning as the rank window, so both share one
    exchange; per-document partitions are bounded by document length).
    N comes from a 1-row aggregate cross-joined in (single-row
    broadcast NLJ), replacing a separate docs.count() driver action so
    the whole query is one job.

    The tokenize+count subtree is deliberately computed twice (once for
    tf, once for df): column pruning differentiates the two exchanges,
    so Catalyst cannot ReuseExchange them, and persisting tf instead
    was MEASURED slower at bench scale (9.5/3.0/1.8 s cached vs
    5.1/2.4/1.5 s recomputed, sf0.1 warm reps) -- and at web scale a
    trillion-row (doc, tok) cache is a worse liability than a second
    streaming pass."""
    docs = _docs(spark, sf_dir)
    n = docs.agg(F.count("*").alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(F.expr(TOKS)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(n)
        .withColumn(
            "doc_len", F.sum("cnt").over(Window.partitionBy("doc_id"))
        )
        .select(
            "doc_id",
            "tok",
            F.expr("round((cnt / doc_len) * (n_docs / df), 6)").alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "tok", "tfidf")
    )


def tfidf_topk_oracle() -> str:
    return f"""
        WITH tf AS (
            SELECT doc_id, tok, count(*) AS cnt
            FROM (SELECT doc_id, unnest({sql_tokens('text')}) AS tok
                  FROM documents)
            GROUP BY doc_id, tok
        ),
        with_len AS (
            SELECT *, sum(cnt) OVER (PARTITION BY doc_id) AS doc_len FROM tf
        ),
        dfreq AS (
            SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT t.doc_id, t.tok,
                   round((t.cnt / t.doc_len) * ((SELECT n_docs FROM n) / d.df), 6)
                       AS tfidf
            FROM with_len t JOIN dfreq d USING (tok)
        )
        SELECT doc_id, CAST(rank AS INT) AS rank, tok, tfidf FROM (
            SELECT doc_id, tok, tfidf,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, tok) AS rank
            FROM scored
        ) WHERE rank <= {TFIDF_TOP_K}
    """


# --- deterministic split ----------------------------------------------------------


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based train/valid/test assignment: a pure function of
    (salt, doc_id) -- stable under re-runs, re-partitioning, and corpus
    growth, which a random() split is not."""
    bucket = (
        f"cast(conv(substring(md5(concat('{SPLIT_SALT}', doc_id)), 1, 8), 16, 10) "
        "as bigint) % 100"
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            f"CASE WHEN {bucket} < {SPLIT_TRAIN_PCT} THEN 'train' "
            f"WHEN {bucket} < {SPLIT_TRAIN_PCT + SPLIT_VALID_PCT} THEN 'valid' "
            "ELSE 'test' END"
        ).alias("split"),
        # count()-elimination guard (r15 bare-scan sweep): total
        # invariant referencing the computed outputs, so the projection
        # executes under a bare count() (otherwise bench/SCALING time a
        # parquet-footer scan count)
    ).filter("split IN ('train', 'valid', 'test')")


def dataset_split_oracle() -> str:
    bucket = sql_hash32(f"'{SPLIT_SALT}' || doc_id") + " % 100"
    return f"""
        SELECT doc_id,
               CASE WHEN {bucket} < {SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN {bucket} < {SPLIT_TRAIN_PCT + SPLIT_VALID_PCT} THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents
    """


# --- benchmark decontamination ----------------------------------------------------


def _spark_hash32(expr: str) -> str:
    """Spark twin of constants.sql_hash32: md5-derived 32-bit int hash."""
    return f"cast(conv(substring(md5({expr}), 1, 8), 16, 10) as bigint)"


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs that share a {DECON_NGRAM}-token shingle with the
    held-out eval slice, with the count of distinct shared shingles.

    Scale shape: shingles are generated map-side (``toks`` hoisted into a
    projection so ``slice`` inside the transform lambda is O(n), not
    O(n^2) -- re-tokenizing per element is the classic trap), the eval
    shingle set is deduplicated, and candidates come from a left-semi
    equi-join on the shingle -- never an all-pairs comparison.  At 100 TB
    the eval side is a fixed benchmark suite (tiny), so AQE turns the
    semi-join into a broadcast; nothing here assumes it fits in memory.
    """
    return _decontaminate_from(
        _docs(spark, sf_dir).select(
            "doc_id", F.expr(TOKS).alias("toks")
        )
    )


def _decontaminate_from(tok: DataFrame) -> DataFrame:
    """``decontaminate`` over a pre-tokenized (doc_id, toks) frame --
    the factoring that lets ``train_pipeline`` feed it from the shared
    tokenized exchange (r16) without changing the standalone op's
    plan."""
    eval_flag = f"({_spark_hash32(f'concat({DECON_SALT!r}, doc_id)')} % {DECON_EVAL_MOD}) = 0"
    base = (
        tok.select(
            "doc_id",
            "toks",
            F.expr(eval_flag).alias("is_eval"),
        )
        .filter(F.expr(f"size(toks) >= {DECON_NGRAM}"))
    )
    grams = base.select(
        "doc_id",
        "is_eval",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {DECON_NGRAM - 1}), "
                f"i -> concat_ws(' ', slice(toks, i, {DECON_NGRAM})))"
            )
        ).alias("g"),
    )
    eval_grams = grams.filter("is_eval").select("g").distinct()
    return (
        grams.filter(~F.col("is_eval"))
        .join(eval_grams, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared"))
    )


def decontaminate_oracle() -> str:
    n = DECON_NGRAM
    return f"""
        WITH base AS (
            SELECT doc_id, {sql_tokens('text')} AS toks,
                   ({sql_hash32(f"'{DECON_SALT}' || doc_id")}
                        % {DECON_EVAL_MOD} = 0) AS is_eval
            FROM documents
        ),
        grams AS (
            SELECT doc_id, is_eval,
                   unnest([array_to_string(toks[i:i+{n - 1}], ' ')
                           for i in generate_series(1, len(toks) - {n - 1})]) AS g
            FROM base WHERE len(toks) >= {n}
        ),
        eval_grams AS (SELECT DISTINCT g FROM grams WHERE is_eval)
        SELECT doc_id, count(DISTINCT g) AS n_shared
        FROM grams
        WHERE NOT is_eval AND g IN (SELECT g FROM eval_grams)
        GROUP BY doc_id
    """


# --- Bloom-filter decontamination --------------------------------------------------


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate scale path next to ``decontaminate``'s exact
    semi-join: the eval shingle set is folded into a Bloom filter --
    ``ceil(BLOOM_M_BITS/63) = 1041`` int64 words (63 usable bits per
    word: bit 63 would overflow DuckDB's checked left shift) built
    with a map-side-combinable ``bit_or`` -- and training shingles
    probe it with ``BLOOM_K`` double-hashed bit tests.  At 100 TB the
    filter is an ~8.3 KB broadcast where the exact path ships the full
    eval shingle set through a shuffle; the price is false positives,
    NEVER false negatives, and the exact count rides along so the
    output (and a test) shows both.

    Everything is relational: filter words live in a <= 1041-row frame
    (broadcast hash join on the word index), positions are pure integer
    md5 halves (Kirsch-Mitzenmacher pos_i = h1 + i*h2 mod m), so Spark
    and DuckDB agree on every bit.  A shingle counts as a hit only when
    ALL k probed bits are set."""
    m, k = BLOOM_M_BITS, BLOOM_K
    h1 = "cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint)"
    h2 = "cast(conv(substring(md5(g), 9, 8), 16, 10) as bigint)"
    eval_flag = f"({_spark_hash32(f'concat({DECON_SALT!r}, doc_id)')} % {DECON_EVAL_MOD}) = 0"
    base = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(TOKS).alias("toks"),
            F.expr(eval_flag).alias("is_eval"),
        )
        .filter(F.expr(f"size(toks) >= {DECON_NGRAM}"))
    )
    grams = base.select(
        "doc_id",
        "is_eval",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {DECON_NGRAM - 1}), "
                f"i -> concat_ws(' ', slice(toks, i, {DECON_NGRAM})))"
            )
        ).alias("g"),
    )
    eval_grams = grams.filter("is_eval").select("g").distinct()
    # build: k positions per eval shingle -> (word, bit) -> bit_or mask
    bloom_words = (
        eval_grams.select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, {k - 1}),"
                    f" i -> ({h1} + i * {h2}) % {m})"
                )
            ).alias("pos")
        )
        .select(
            F.expr("cast(pos div 63 as int)").alias("w"),
            F.expr("shiftleft(cast(1 as bigint), cast(pos % 63 as int))")
            .alias("bit"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(bit)").alias("mask"))
    )
    # probe: every distinct (train doc, shingle) tests its k bits
    train = grams.filter(~F.col("is_eval")).select("doc_id", "g").distinct()
    probes = train.select(
        "doc_id",
        "g",
        F.explode(
            F.expr(
                f"transform(sequence(0, {k - 1}),"
                f" i -> ({h1} + i * {h2}) % {m})"
            )
        ).alias("pos"),
    ).select(
        "doc_id",
        "g",
        F.expr("cast(pos div 63 as int)").alias("w"),
        F.expr("shiftleft(cast(1 as bigint), cast(pos % 63 as int))")
        .alias("bit"),
    )
    per_gram = (
        probes.join(F.broadcast(bloom_words), "w", "left")
        .select(
            "doc_id",
            "g",
            F.expr(
                "case when mask is not null and (mask & bit) != 0"
                " then 1 else 0 end"
            ).alias("hit"),
        )
        .groupBy("doc_id", "g")
        .agg(F.expr(f"case when sum(hit) = {k} then 1 else 0 end").alias("bloom_hit"))
    )
    exact_marked = eval_grams.withColumn("ex", F.lit(1))
    return (
        per_gram.join(F.broadcast(exact_marked), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.expr("cast(sum(bloom_hit) as int)").alias("n_bloom_hits"),
            F.expr(
                "cast(sum(case when ex is not null then 1 else 0 end)"
                " as int)"
            ).alias("n_shared_exact"),
        )
        # the n_shared_exact arm is the count()-elimination guard (r14
        # sweep): eval_grams is unique on g, so a bare count() would
        # drop the exact ride-along; Bloom filters have no false
        # negatives, so every exact-shared shingle is also a bloom hit
        .filter(
            (F.col("n_bloom_hits") > 0)
            & (F.col("n_shared_exact") <= F.col("n_bloom_hits"))
        )
    )


def decontaminate_bloom_oracle() -> str:
    m, k, n = BLOOM_M_BITS, BLOOM_K, DECON_NGRAM
    h1 = "('0x' || substr(md5(g), 1, 8))::BIGINT"
    h2 = "('0x' || substr(md5(g), 9, 8))::BIGINT"
    return f"""
        WITH base AS (
            SELECT doc_id, {sql_tokens('text')} AS toks,
                   ({sql_hash32(f"'{DECON_SALT}' || doc_id")}
                        % {DECON_EVAL_MOD} = 0) AS is_eval
            FROM documents
        ),
        grams AS (
            SELECT doc_id, is_eval,
                   unnest([array_to_string(toks[i:i+{n - 1}], ' ')
                           for i in generate_series(1, len(toks) - {n - 1})]) AS g
            FROM base WHERE len(toks) >= {n}
        ),
        eval_grams AS (SELECT DISTINCT g FROM grams WHERE is_eval),
        eval_pos AS (
            SELECT unnest([({h1} + i * {h2}) % {m}
                           for i in generate_series(0, {k - 1})]) AS pos
            FROM eval_grams
        ),
        bloom_words AS (
            SELECT CAST(pos // 63 AS INT) AS w,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS mask
            FROM eval_pos GROUP BY 1
        ),
        train AS (
            SELECT DISTINCT doc_id, g FROM grams WHERE NOT is_eval
        ),
        probes AS (
            SELECT doc_id, g,
                   unnest([({h1} + i * {h2}) % {m}
                           for i in generate_series(0, {k - 1})]) AS pos
            FROM train
        ),
        per_gram AS (
            SELECT doc_id, g,
                   CASE WHEN sum(CASE WHEN b.mask IS NOT NULL
                                       AND (b.mask & (CAST(1 AS BIGINT)
                                            << CAST(p.pos % 63 AS INT))) != 0
                                      THEN 1 ELSE 0 END) = {k}
                        THEN 1 ELSE 0 END AS bloom_hit
            FROM probes p
            LEFT JOIN bloom_words b ON b.w = CAST(p.pos // 63 AS INT)
            GROUP BY doc_id, g
        )
        SELECT pg.doc_id,
               CAST(sum(pg.bloom_hit) AS INT) AS n_bloom_hits,
               CAST(sum(CASE WHEN eg.g IS NOT NULL THEN 1 ELSE 0 END)
                    AS INT) AS n_shared_exact
        FROM per_gram pg LEFT JOIN eval_grams eg ON eg.g = pg.g
        GROUP BY pg.doc_id
        HAVING sum(pg.bloom_hit) > 0
    """


# --- stratified sampling ----------------------------------------------------------


def _rate_case(col: str) -> str:
    arms = " ".join(
        f"WHEN '{lang}' THEN {rate}" for lang, rate in sorted(SAMPLE_RATES.items())
    )
    return f"CASE {col} {arms} ELSE {SAMPLE_DEFAULT_RATE} END"


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsample: keep a doc when its salted
    hash bucket falls under the language's keep-rate.  A pure map-side
    filter (no shuffle, no state), so the sample is reproducible across
    runs, partitionings, and incremental corpus growth -- unlike
    ``df.sample()``, whose output depends on partition layout."""
    bucket = f"{_spark_hash32(f'concat({SAMPLE_SALT!r}, doc_id)')} % 100"
    return _docs(spark, sf_dir).select(
        "doc_id", "lang", "source"
    ).filter(F.expr(f"{bucket} < {_rate_case('lang')}"))


def sample_stratified_oracle() -> str:
    bucket = sql_hash32(f"'{SAMPLE_SALT}' || doc_id") + " % 100"
    return f"""
        SELECT doc_id, lang, source
        FROM documents
        WHERE {bucket} < {_rate_case('lang')}
    """


# --- boilerplate shingle detection ------------------------------------------------


def boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate fraction: the share of a doc's distinct
    {BOILER_NGRAM}-token shingles that appear in >= BOILER_DF_MIN
    DISTINCT documents -- the C4/CCNet-style template/boilerplate
    signal (navigation chrome, license footers, mirrored pages) that a
    curation pass applies before training.

    Scale shape (r16 opt, completing the r15 single-pass treatment):
    shingles generate map-side (hoisted ``toks``, O(n) slice-transform
    -- same trap-avoidance as ``decontaminate``), dedupe per doc INSIDE
    the row (``array_distinct``), and ONE shingle-keyed aggregation
    carries the document frequency AND the doc attribution
    (collect_list of the per-doc-distinct doc_ids) for EVERY shingle;
    re-exploding that attribution hands each (doc, shingle) row its
    shingle's df, so a single doc-keyed aggregation derives BOTH the
    denominator (n_shingles = the doc's row count) and the numerator
    (n_boiler = rows whose df clears BOILER_DF_MIN).  The r15 shape
    still re-tokenized the corpus a second time for the n_shingles
    spine and joined the two legs; this one tokenizes and explodes the
    grams exactly once and needs no join at all.  The per-shingle doc
    list is bounded by that shingle's df (total volume = the exploded
    gram stream, nothing is amplified); a web corpus with a truly
    viral shingle would salt this aggregation two-level (partial lists
    under (g, salt), df verdict summed across salts -- same shuffle
    volume, bounded reducers)."""
    n = BOILER_NGRAM
    gram_arr = (
        f"array_distinct(transform(sequence(1, size(toks) - {n - 1}), "
        f"i -> concat_ws(' ', slice(toks, i, {n}))))"
    )
    base = (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(TOKS).alias("toks"))
        .filter(F.expr(f"size(toks) >= {n}"))
    )
    return (
        base.select("doc_id", F.explode(F.expr(gram_arr)).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("df"), F.collect_list("doc_id").alias("docs"))
        .select("df", F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_shingles"),
            F.sum(
                F.when(F.col("df") >= BOILER_DF_MIN, 1).otherwise(0)
            ).cast("int").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            F.expr("round(n_boiler / n_shingles, 6)").alias("boiler_rate"),
        )
        # count()-elimination guard (r14 sweep): total invariant tying
        # the outputs together -- a doc's boiler shingles are a subset
        # of its own
        .filter(
            (F.col("n_boiler") >= 0)
            & (F.col("n_boiler") <= F.col("n_shingles"))
        )
    )


def boilerplate_shingles_oracle() -> str:
    n = BOILER_NGRAM
    return f"""
        WITH base AS (
            SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id,
                   unnest([array_to_string(toks[i:i+{n - 1}], ' ')
                           for i in generate_series(1, len(toks) - {n - 1})])
                       AS g
            FROM base WHERE len(toks) >= {n}
        ),
        boiler AS (
            SELECT g FROM grams GROUP BY g
            HAVING count(*) >= {BOILER_DF_MIN}
        )
        SELECT doc_id, CAST(count(*) AS INT) AS n_shingles,
               CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS INT)
                   AS n_boiler,
               round(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)
                     / count(*), 6) AS boiler_rate
        FROM grams LEFT JOIN boiler b ON grams.g = b.g
        GROUP BY doc_id
    """


# --- weighted source mixing -------------------------------------------------------


def _weight_case(col: str) -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN {w}" for s, w in sorted(MIX_WEIGHTS.items())
    )
    return f"CASE {col} {arms} ELSE {MIX_DEFAULT_WEIGHT} END"


def mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blend sources toward target proportions (the LLM data-mixing
    step): keep-rates are derived from the ACTUAL per-source counts so
    the output matches ``MIX_WEIGHTS`` as closely as possible without
    upsampling -- the limiting source (smallest count/weight) is kept
    whole and every other source is hash-downsampled pro rata.

    Scale shape: per-source counts are one tiny aggregate (one row per
    source); the limiting source is picked from that aggregate, and the
    keep decision is a map-side integer comparison
    ``bucket * w_lim * cnt_s < 1e6 * w_s * cnt_lim`` -- exact int64 on
    both engines, no float rate whose last ulp could disagree.  The
    only shuffle is the count aggregate; the filter itself broadcasts
    two tiny tables and streams the corpus once.
    """
    docs = _docs(spark, sf_dir)
    counts = (
        docs.groupBy("source")
        .agg(F.count("*").alias("cnt"))
        .withColumn("w", F.expr(_weight_case("source")))
    )
    lim = (
        counts.orderBy(
            (F.col("cnt").cast("double") / F.col("w")).asc(), F.col("source")
        )
        .limit(1)
        .select(F.col("cnt").alias("lim_cnt"), F.col("w").alias("lim_w"))
    )
    bucket = f"({_spark_hash32(f'concat({MIX_SALT!r}, doc_id)')} % 1000000)"
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(lim))
        .filter(F.expr(f"{bucket} * lim_w * cnt < 1000000 * w * lim_cnt"))
        .select("doc_id", "source")
    )


def mix_weighted_oracle() -> str:
    hashed = sql_hash32(f"'{MIX_SALT}' || doc_id")
    bucket = f"({hashed} % 1000000)"
    return f"""
        WITH counts AS (
            SELECT source, count(*) AS cnt, {_weight_case('source')} AS w
            FROM documents GROUP BY source
        ),
        lim AS (
            SELECT cnt AS lim_cnt, w AS lim_w FROM counts
            ORDER BY CAST(cnt AS DOUBLE) / w, source LIMIT 1
        )
        SELECT d.doc_id, d.source
        FROM documents d JOIN counts c USING (source) CROSS JOIN lim
        WHERE {bucket} * lim.lim_w * c.cnt < 1000000 * c.w * lim.lim_cnt
    """


# --- deterministic global shuffle -> training shards ------------------------------


def shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into ``N_SHARDS`` training shards:
    shard = hash(salt, doc_id) mod N, position = rank of the hash
    within the shard.  This is the shuffled-shard writer every training
    pipeline needs -- example order must be pseudo-random but exactly
    reproducible (resume, re-run, audit), which ``orderBy(rand())``
    is not.

    Scale shape: ONE shuffle (hash-partition by shard), then a
    per-shard sort window -- never a global orderBy.  N_SHARDS is a
    constant here; at 100 TB you set it to O(cluster cores x k) so
    each shard sorts a bounded slice, and the rank becomes the
    within-file record offset of the shard writer.
    """
    h = _spark_hash32(f"concat({SHARD_SALT!r}, doc_id)")
    base = _docs(spark, sf_dir).select(
        "doc_id", F.expr(h).alias("h")
    ).withColumn("shard", F.expr(f"cast(h % {N_SHARDS} as int)"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return base.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("int").alias("pos"),
        # count()-elimination guard (r14 sweep): row_number >= 1 always
    ).filter(F.col("pos") >= 1)


def shuffle_shard_oracle() -> str:
    h = sql_hash32(f"'{SHARD_SALT}' || doc_id")
    return f"""
        WITH base AS (
            SELECT doc_id, {h} AS h,
                   CAST({h} % {N_SHARDS} AS INT) AS shard
            FROM documents
        )
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
                    AS INT) AS pos
        FROM base
    """


# --- curation (composition) --------------------------------------------------------

MIN_TOKENS = 20
MAX_TOKENS = 500
MIN_QUALITY = 0.35


def curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation verdict per document: length bounds, quality
    floor, exact-dup survivorship -- each failure recorded as a reason.
    The composition every real pipeline runs before tokenization."""
    from .text import quality_score

    q = quality_score(spark, sf_dir).select("doc_id", "n_tokens", "quality")
    norm = _docs(spark, sf_dir).select(
        "doc_id", F.expr(f"concat_ws(' ', {TOKS})").alias("norm")
    )
    survivor = norm.groupBy("norm").agg(F.min("doc_id").alias("survivor_id"))
    flags = (
        q.join(norm, "doc_id")
        .join(survivor, "norm")
        .select(
            "doc_id",
            F.expr(
                f"concat_ws(',', "
                f"CASE WHEN n_tokens < {MIN_TOKENS} THEN 'too_short' END, "
                f"CASE WHEN n_tokens > {MAX_TOKENS} THEN 'too_long' END, "
                f"CASE WHEN quality < {MIN_QUALITY} THEN 'low_quality' END, "
                "CASE WHEN doc_id <> survivor_id THEN 'duplicate' END)"
            ).alias("reject_reasons"),
        )
        .select(
            "doc_id",
            F.expr("reject_reasons = ''").alias("keep"),
            "reject_reasons",
        )
    )
    return flags


def materialize_curated(
    spark: SparkSession, sf_dir: str, out_path: str
) -> DataFrame:
    """End of the pipeline: keep curated documents, attach their
    train/valid/test split, and write a hive-partitioned parquet dataset
    (partition column = split, so downstream training jobs prune to
    their slice).  Returns the read-back DataFrame."""
    kept = curate(spark, sf_dir).filter(F.col("keep")).select("doc_id")
    split = dataset_split(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    curated = docs.join(kept, "doc_id").join(split, "doc_id")
    curated.write.mode("overwrite").partitionBy("split").parquet(out_path)
    return spark.read.parquet(out_path)


def curate_oracle() -> str:
    from .text import quality_score_oracle

    toks = sql_tokens("text")
    return f"""
        WITH q AS ({quality_score_oracle()}),
        norm AS (
            SELECT doc_id, array_to_string({toks}, ' ') AS norm FROM documents
        ),
        survivor AS (
            SELECT norm, min(doc_id) AS survivor_id FROM norm GROUP BY norm
        ),
        flags AS (
            SELECT q.doc_id,
                   concat_ws(',',
                       CASE WHEN q.n_tokens < {MIN_TOKENS} THEN 'too_short' END,
                       CASE WHEN q.n_tokens > {MAX_TOKENS} THEN 'too_long' END,
                       CASE WHEN q.quality < {MIN_QUALITY} THEN 'low_quality' END,
                       CASE WHEN q.doc_id <> s.survivor_id THEN 'duplicate' END)
                       AS reject_reasons
            FROM q JOIN norm n ON n.doc_id = q.doc_id
            JOIN survivor s ON s.norm = n.norm
        )
        SELECT doc_id, reject_reasons = '' AS keep, reject_reasons FROM flags
    """


# --- sequence packing ---------------------------------------------------------

PACK_TOKEN_BUDGET = 512
PACK_SHARDS = 16


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each document to a fixed-token-budget training sequence:
    documents are chunked greedily in doc_id order by running token
    count, the deterministic packing step between curation and
    tokenization.

    Shape for 100 TB: the running sum is windowed PER SHARD
    (``doc_id % PACK_SHARDS``), never globally -- a global
    ``Window.orderBy`` would funnel the corpus through one task (the
    exact scale-killer VERDICT r1 flagged in vocab_topk).  Shards pack
    independently and in parallel; at cluster scale you raise
    PACK_SHARDS to O(executors).  One shuffle (hash by shard), one
    sort per shard partition.
    """
    toks = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(f"cast(size({TOKS}) as int)").alias("n_tokens"),
            F.expr(f"cast(doc_id % {PACK_SHARDS} as int)").alias("shard"),
        )
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return toks.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens"))
            / F.lit(PACK_TOKEN_BUDGET)
        ).cast("int").alias("seq_id"),
        # count()-elimination guard (r14 sweep): the running sum minus
        # the row's own contribution is never negative
    ).filter(F.col("seq_id") >= 0)


def pack_sequences_oracle() -> str:
    toks = sql_tokens("text")
    return f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len({toks}) AS INT) AS n_tokens,
                   CAST(doc_id % {PACK_SHARDS} AS INT) AS shard
            FROM documents
        )
        SELECT doc_id, shard, n_tokens,
               CAST(floor((sum(n_tokens) OVER w - n_tokens)
                          / {PACK_TOKEN_BUDGET}) AS INT) AS seq_id
        FROM t
        WINDOW w AS (PARTITION BY shard ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING)
    """


# --- quality-filter funnel ----------------------------------------------------

FUNNEL_MIN_TTR = 0.5  # below = too repetitive (type-token ratio)


def filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, lang) survival report through the standard quality
    filter chain (length -> repetition -> combined): the acceptance
    dashboard every curation pipeline publishes, so threshold changes
    can be judged per slice before re-materializing the corpus.

    One pass: per-doc metrics are narrow projections (token count from
    the token array, type-token ratio via array_distinct -- all
    codegen'd), then a single hash aggregation keyed on (source, lang).
    Conditional sums ride the same shuffle; nothing is re-scanned.
    """
    per_doc = _docs(spark, sf_dir).select(
        "source",
        "lang",
        F.expr(f"cast(size({TOKS}) as int)").alias("n_tokens"),
        F.expr(
            f"cast(size(array_distinct({TOKS})) as int)"
        ).alias("n_types"),
    )
    len_ok = (F.col("n_tokens") >= MIN_TOKENS) & (
        F.col("n_tokens") <= MAX_TOKENS
    )
    rep_ok = (F.col("n_tokens") > 0) & (
        F.col("n_types") / F.col("n_tokens") >= FUNNEL_MIN_TTR
    )
    return (
        per_doc.groupBy("source", "lang")
        .agg(
            F.count("*").cast("int").alias("n_docs"),
            F.sum(len_ok.cast("int")).cast("int").alias("n_len_ok"),
            F.sum(rep_ok.cast("int")).cast("int").alias("n_rep_ok"),
            F.sum((len_ok & rep_ok).cast("int")).cast("int").alias("n_pass"),
        )
    )


def filter_funnel_oracle() -> str:
    toks = sql_tokens("text")
    return f"""
        WITH d AS (
            SELECT source, lang,
                   CAST(len({toks}) AS INT) AS n_tokens,
                   CAST(len(list_distinct({toks})) AS INT) AS n_types
            FROM documents
        )
        SELECT source, lang, CAST(count(*) AS INT) AS n_docs,
               CAST(sum(CASE WHEN n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
                             THEN 1 ELSE 0 END) AS INT) AS n_len_ok,
               CAST(sum(CASE WHEN n_tokens > 0
                              AND n_types / n_tokens >= {FUNNEL_MIN_TTR}
                             THEN 1 ELSE 0 END) AS INT) AS n_rep_ok,
               CAST(sum(CASE WHEN n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
                              AND n_types / n_tokens >= {FUNNEL_MIN_TTR}
                             THEN 1 ELSE 0 END) AS INT) AS n_pass
        FROM d
        GROUP BY source, lang
    """


# --- fixed-window chunking with overlap ---------------------------------------

CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8
CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


def chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document's token stream into fixed-size windows with
    overlap (stride = size - overlap) -- the chunking step feeding
    context-window training and retrieval indexing.

    Pure map-side fan-out: tokenize once, compute the chunk count with
    integer arithmetic, explode a small index range, slice the token
    array per chunk.  No shuffle at all; output rows ~= tokens/stride.
    Chunk counts use DIV so the DuckDB twin is bit-exact.
    """
    n_chunks = (
        f"greatest(1, (size(toks) - {CHUNK_OVERLAP} + {CHUNK_STRIDE} - 1) "
        f"DIV {CHUNK_STRIDE})"
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(TOKS).alias("toks"))
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(0, {n_chunks} - 1)")).alias("chunk_id"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.expr(
                f"slice(toks, chunk_id * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS})"
            ).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.expr("cast(size(chunk) as int)").alias("n_chunk_tokens"),
            F.expr("array_join(chunk, ' ')").alias("chunk_text"),
        )
    )


def chunk_overlap_oracle() -> str:
    toks = sql_tokens("text")
    return f"""
        WITH t AS (
            SELECT doc_id, {toks} AS toks,
                   greatest(1, (len({toks}) - {CHUNK_OVERLAP}
                                + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE})
                       AS n_chunks
            FROM documents
        ),
        c AS (
            SELECT doc_id,
                   unnest([i for i in generate_series(0, n_chunks - 1)])
                       AS chunk_id,
                   toks
            FROM t
        )
        SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
               CAST(len(list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                                   chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}))
                    AS INT) AS n_chunk_tokens,
               array_to_string(list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                                          chunk_id * {CHUNK_STRIDE}
                                          + {CHUNK_TOKENS}), ' ')
                   AS chunk_text
        FROM c
    """


# --- model-scoring plumbing (Arrow-batched inference) -------------------------

# deterministic stand-in weights for a learned quality classifier; a real
# model drops into _score_batch unchanged (same Arrow batch shape)
SCORE_W_LEN = 1.8
SCORE_W_STOP = 2.5
SCORE_W_CHARLEN = -0.6
SCORE_BIAS = -1.1


def score_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-inference plumbing over documents: engineered features
    (length, stopword ratio, mean token length) scored by a linear model
    inside a vectorized Arrow-batched pandas UDF -- the exact shape a
    real learned quality classifier (fastText-style) runs at: features
    computed JVM-side, only the model forward pass in Python, whole
    batches crossing via Arrow.

    The squash is rational (z / (1 + |z|)), not a sigmoid: exp() is the
    one scalar whose last-ulp behavior differs across engines, while
    +,*,/,abs on identical doubles are IEEE-identical -- so the DuckDB
    oracle twin matches bit-for-bit.  Scale: one narrow projection, one
    Arrow exchange, no shuffle.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .text import _hits_expr_spark

    def _score_batch_fn(n_tokens, en_hits, char_sum):
        import numpy as np

        nt = n_tokens.to_numpy(dtype=np.float64)
        z = (
            SCORE_BIAS
            + SCORE_W_LEN * np.minimum(nt, 200.0) / 200.0
            + SCORE_W_STOP * en_hits.to_numpy(dtype=np.float64) / nt
            + SCORE_W_CHARLEN * (char_sum.to_numpy(dtype=np.float64) / nt / 10.0)
        )
        # no rounding here: np.round is half-to-even while SQL round()
        # is half-away-from-zero -- the 6-digit rounding happens in
        # Spark SQL below so both engines use engine round() semantics
        return pd.Series(z / (1.0 + np.abs(z)))

    # real (non-string) annotations: `from __future__ import annotations`
    # stringifies inline hints, which pandas_udf cannot resolve here
    _score_batch_fn.__annotations__ = {
        "n_tokens": pd.Series,
        "en_hits": pd.Series,
        "char_sum": pd.Series,
        "return": pd.Series,
    }
    _score_batch = pandas_udf(_score_batch_fn, "double")

    feats = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(f"cast(size({TOKS}) as int)").alias("n_tokens"),
            F.expr(_hits_expr_spark("en")).alias("en_hits"),
            F.expr(f"aggregate({TOKS}, 0L, (a, x) -> a + length(x))").alias(
                "char_sum"
            ),
        )
        .filter(F.col("n_tokens") > 0)
    )
    return feats.select(
        "doc_id",
        "n_tokens",
        F.round(
            _score_batch("n_tokens", "en_hits", "char_sum"), 6
        ).alias("model_score"),
    )


def score_quality_model_oracle() -> str:
    from .text import _hits_expr_duck

    toks = sql_tokens("text")
    return f"""
        WITH feats AS (
            SELECT doc_id,
                   CAST(len({toks}) AS INT) AS n_tokens,
                   {_hits_expr_duck('en')} AS en_hits,
                   coalesce(list_sum(list_transform({toks},
                                                    x -> length(x))), 0)
                       AS char_sum
            FROM documents
        ),
        z AS (
            SELECT doc_id, n_tokens,
                   {SCORE_BIAS} + {SCORE_W_LEN} * least(n_tokens, 200.0) / 200.0
                   + {SCORE_W_STOP} * en_hits / n_tokens
                   + {SCORE_W_CHARLEN} * (char_sum / n_tokens / 10.0) AS z
            FROM feats WHERE n_tokens > 0
        )
        SELECT doc_id, n_tokens, round(z / (1.0 + abs(z)), 6) AS model_score
        FROM z
    """


# --- per-source data card ----------------------------------------------------


def source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card: the composition summary published next to
    every released training corpus (docs, bytes, tokens, language
    spread, corpus share per source) and the input the mixing weights
    in ``mix_weighted`` are chosen from.

    Scale shape: ONE pass over the corpus -- tokenization and n_chars
    ride the same projection -- into a map-side-combinable hash
    aggregation onto source (~#sources groups).  The corpus-share
    denominator is a window over the ALREADY-AGGREGATED per-source
    table (tens of rows at any corpus size), never a second scan.
    """
    agg = (
        _docs(spark, sf_dir)
        .select("source", "lang", "n_chars", F.expr(f"size({TOKS})").alias("n_toks"))
        .groupBy("source")
        .agg(
            F.count("*").cast("int").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_toks").alias("total_tokens"),
            F.countDistinct("lang").cast("int").alias("n_langs"),
        )
    )
    w = Window.partitionBy()
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        "total_tokens",
        "n_langs",
        F.expr("round(total_chars / n_docs, 2)").alias("avg_chars"),
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w), 6
        ).alias("share"),
        # count()-elimination guard (r14 sweep; predicate revised r15
        # ADVICE): strict positivity is checked on the UNROUNDED
        # n_docs (a genuine source with share < 5e-7 rounds to 0.0,
        # so `share > 0` would silently drop it at large corpus
        # sizes); `share <= 1` is total -- round() can never push a
        # ratio above 1 -- and keeps the window column referenced so
        # Catalyst cannot eliminate the window under a bare count()
    ).filter((F.col("n_docs") >= 1) & (F.col("share") <= 1))


def source_stats_oracle() -> str:
    return f"""
        WITH agg AS (
            SELECT source,
                   CAST(count(*) AS INT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(sum(len({sql_tokens('text')})) AS BIGINT)
                       AS total_tokens,
                   CAST(count(DISTINCT lang) AS INT) AS n_langs
            FROM documents GROUP BY source
        )
        SELECT source, n_docs, total_chars, total_tokens, n_langs,
               round(total_chars::DOUBLE / n_docs, 2) AS avg_chars,
               round(n_docs::DOUBLE / sum(n_docs) OVER (), 6) AS share
        FROM agg
    """


# --- dataset card (release capstone) ------------------------------------------


def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row dataset card a corpus release ships: volume (docs,
    chars, tokens), composition breadth (sources, languages),
    vocabulary size, and the exact-duplication rate.  Everything a
    reviewer reads before anything else, produced by the engine that
    produced the data.

    Scale shape: three independent aggregation passes (scalar volume
    stats; distinct-token count over the vocabulary domain; exact-dup
    groups over the text-hash domain) cross-joined as 1-row
    broadcasts.  No pass is wider than the corpus scan and none holds
    more than the vocabulary/hash domain in the shuffle.
    """
    docs = _docs(spark, sf_dir)
    volume = docs.agg(
        F.count("*").cast("int").alias("n_docs"),
        F.countDistinct("source").cast("int").alias("n_sources"),
        F.countDistinct("lang").cast("int").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.expr(f"size({TOKS})")).alias("total_tokens"),
    )
    vocab = (
        docs.select(F.explode(F.expr(TOKS)).alias("tok"))
        .agg(F.countDistinct("tok").cast("int").alias("vocab_size"))
    )
    dups = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.count("*").alias("n"))
        .agg(
            F.sum(F.expr("n - 1")).cast("int").alias("n_exact_dups"),
            F.count("*").cast("int").alias("n_unique_texts"),
        )
    )
    return (
        volume.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(dups))
        .select(
            "n_docs", "n_sources", "n_langs", "total_chars",
            "total_tokens", "vocab_size", "n_unique_texts", "n_exact_dups",
            F.expr(
                "round(n_exact_dups / cast(n_docs as double), 6)"
            ).alias("dup_rate"),
        )
    )


def dataset_card_oracle() -> str:
    toks = sql_tokens("text")
    return f"""
        WITH volume AS (
            SELECT CAST(count(*) AS INT) AS n_docs,
                   CAST(count(DISTINCT source) AS INT) AS n_sources,
                   CAST(count(DISTINCT lang) AS INT) AS n_langs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(sum(len({toks})) AS BIGINT) AS total_tokens
            FROM documents
        ),
        vocab AS (
            SELECT CAST(count(DISTINCT tok) AS INT) AS vocab_size
            FROM (SELECT unnest({toks}) AS tok FROM documents)
        ),
        dups AS (
            SELECT CAST(sum(n - 1) AS INT) AS n_exact_dups,
                   CAST(count(*) AS INT) AS n_unique_texts
            FROM (SELECT md5(text) AS h, count(*) AS n
                  FROM documents GROUP BY 1)
        )
        SELECT n_docs, n_sources, n_langs, total_chars, total_tokens,
               vocab_size, n_unique_texts, n_exact_dups,
               round(n_exact_dups / n_docs::DOUBLE, 6) AS dup_rate
        FROM volume, vocab, dups
    """


# --- end-to-end training-data pipeline funnel -----------------------------------


def train_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation run, composed from the shipped operators
    in the order a production training-data pipeline executes them,
    with the stage-survival funnel as the output (5 rows):

      0 raw            every document
      1 exact_dedup    survivor of its normalized-text group
                       (``dedup_exact``'s min-doc_id rule)
      2 near_dedup     AND not the larger side of any MinHash-LSH
                       verified near-duplicate pair (``dedup_minhash_lsh``
                       candidates; the smaller doc_id is kept -- the
                       non-iterative industry rule, deterministic and
                       purely relational)
      3 decontaminated AND not in the held-out eval slice AND sharing
                       zero eval shingles (``corpus_decontaminate``'s
                       semi-join, drop threshold = any shared shingle)
      4 quality        AND length bounds + quality floor
                       (``corpus_curate``'s thresholds over
                       ``text_quality_score``)

    Each row reports surviving doc and token counts -- the numbers a
    data card quotes per pipeline stage.  Everything is ONE lazy
    composed plan: per-doc flags land in a single projection (the dedup
    survivor join, the near-dup anti-join, the decontamination
    anti-join, the quality left join all feed it), one aggregation
    computes every stage's conditional sums in one pass, and a
    ``stack`` unpivots the single aggregate row to the 5-stage funnel.
    Nothing is re-scanned per stage and nothing collects to the driver.

    At 100 TB this is the pipeline's dry-run accounting mode: the same
    flags that would gate ``materialize_curated`` are aggregated
    instead of materialized, so threshold changes are costed before any
    rewrite.  The DuckDB oracle recomputes every stage from scratch
    with independent SQL (5 scans, a different shape entirely)."""
    from .dedup import minhash_lsh_pairs
    from .text import _quality_from

    # r16 (guide §2.4 two operations keyed the same way share one
    # exchange): ONE tokenized projection of the corpus is hash-
    # repartitioned by doc_id, and every leg that only needs
    # (doc_id, toks) -- the base flags/survivor spine, the
    # decontamination grams, the quality features -- consumes that SAME
    # exchange through an explode(array(struct(..))) Generate fence.
    # The fence must cover doc_id TOO: a filter on only the generated
    # toks is already unpushable, but doc_id-derived predicates (the
    # decontamination eval-slice hash, a join's isnotnull) lawfully
    # cross a plain Generate and land below the exchange, making each
    # leg's copy structurally different and defeating reuse (measured:
    # only 1 of 4 legs reused until doc_id rode the struct).  With the
    # whole row re-emitted as one generated struct attribute, nothing
    # can push below the exchange, the copies stay identical, and
    # physical planning/AQE emit ONE shuffle write plus ReusedExchange
    # reads -- the corpus is scanned and tokenized once for these legs
    # instead of once per leg.  The MinHash leg keeps its own scan: its
    # signature pass caches a bounded (doc_id, 16 ints) table that
    # three consumers reuse, and a cached plan compiles separately --
    # it could not reuse this exchange anyway.
    shared = (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(TOKS).alias("toks"))
        .repartition("doc_id")
    )

    def fenced() -> DataFrame:
        return shared.select(
            F.explode(F.array(F.struct("doc_id", "toks"))).alias("s")
        ).select(F.col("s.doc_id").alias("doc_id"), F.col("s.toks").alias("toks"))

    base = fenced().select(
        "doc_id", F.expr("cast(size(toks) as int)").alias("toks_n"),
        F.expr("concat_ws(' ', toks)").alias("norm"),
    )
    survivor = base.groupBy("norm").agg(
        F.min("doc_id").alias("survivor_id")
    )
    near_dropped = (
        minhash_lsh_pairs(spark, sf_dir).select(
            F.col("doc_b").alias("doc_id")
        ).distinct()
    )
    eval_flag = (
        f"({_spark_hash32(f'concat({DECON_SALT!r}, doc_id)')}"
        f" % {DECON_EVAL_MOD}) = 0"
    )
    contaminated = _decontaminate_from(fenced()).select("doc_id").distinct()
    q = _quality_from(fenced()).select("doc_id", "quality")
    flags = (
        base.join(survivor, "norm")
        .join(near_dropped.withColumn("near_dup", F.lit(True)),
              "doc_id", "left")
        .join(contaminated.withColumn("contaminated", F.lit(True)),
              "doc_id", "left")
        .join(q, "doc_id", "left")
        .select(
            "doc_id",
            "toks_n",
            (F.col("doc_id") == F.col("survivor_id")).alias("ok1"),
            F.col("near_dup").isNull().alias("ok2"),
            (
                ~F.expr(eval_flag) & F.col("contaminated").isNull()
            ).alias("ok3"),
            F.expr(
                f"coalesce(toks_n between {MIN_TOKENS} and {MAX_TOKENS}"
                f" and quality >= {MIN_QUALITY}, false)"
            ).alias("ok4"),
        )
    )
    stages = {
        0: ("raw", "true"),
        1: ("exact_dedup", "ok1"),
        2: ("near_dedup", "ok1 and ok2"),
        3: ("decontaminated", "ok1 and ok2 and ok3"),
        4: ("quality", "ok1 and ok2 and ok3 and ok4"),
    }
    aggs = []
    for s, (_, cond) in stages.items():
        aggs.append(
            F.expr(f"cast(sum(case when {cond} then 1 else 0 end) as int)")
            .alias(f"n{s}")
        )
        aggs.append(
            F.expr(
                f"cast(sum(case when {cond} then toks_n else 0 end)"
                " as bigint)"
            ).alias(f"t{s}")
        )
    one = flags.agg(*aggs)
    stack = ", ".join(
        f"{s}, '{name}', n{s}, t{s}" for s, (name, _) in stages.items()
    )
    return one.selectExpr(
        f"stack(5, {stack}) as (stage, stage_name, n_docs, n_tokens)"
    ).select(
        F.col("stage").cast("int"), "stage_name", "n_docs", "n_tokens"
    )


def train_pipeline_oracle() -> str:
    from .dedup import minhash_lsh_oracle
    from .text import quality_score_oracle

    toks = sql_tokens("text")
    hash_expr = sql_hash32(f"'{DECON_SALT}' || doc_id")
    eval_flag = f"({hash_expr} % {DECON_EVAL_MOD} = 0)"
    return f"""
        WITH base AS (
            SELECT doc_id, CAST(len({toks}) AS INT) AS toks_n,
                   array_to_string({toks}, ' ') AS norm,
                   {eval_flag} AS is_eval
            FROM documents
        ),
        survivor AS (
            SELECT norm, min(doc_id) AS survivor_id FROM base GROUP BY norm
        ),
        near_dropped AS (
            SELECT DISTINCT doc_b AS doc_id
            FROM ({minhash_lsh_oracle()}) p
        ),
        contaminated AS (
            SELECT DISTINCT doc_id FROM ({decontaminate_oracle()}) d
        ),
        q AS ({quality_score_oracle()}),
        flags AS (
            SELECT b.doc_id, b.toks_n,
                   b.doc_id = s.survivor_id AS ok1,
                   nd.doc_id IS NULL AS ok2,
                   (NOT b.is_eval AND c.doc_id IS NULL) AS ok3,
                   coalesce(b.toks_n BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
                            AND q.quality >= {MIN_QUALITY}, false) AS ok4
            FROM base b
            JOIN survivor s ON s.norm = b.norm
            LEFT JOIN near_dropped nd ON nd.doc_id = b.doc_id
            LEFT JOIN contaminated c ON c.doc_id = b.doc_id
            LEFT JOIN q ON q.doc_id = b.doc_id
        )
        SELECT 0 AS stage, 'raw' AS stage_name,
               CAST(count(*) AS INT) AS n_docs,
               CAST(sum(toks_n) AS BIGINT) AS n_tokens FROM flags
        UNION ALL
        SELECT 1, 'exact_dedup', CAST(count(*) AS INT),
               CAST(sum(toks_n) AS BIGINT) FROM flags WHERE ok1
        UNION ALL
        SELECT 2, 'near_dedup', CAST(count(*) AS INT),
               CAST(sum(toks_n) AS BIGINT) FROM flags WHERE ok1 AND ok2
        UNION ALL
        SELECT 3, 'decontaminated', CAST(count(*) AS INT),
               CAST(sum(toks_n) AS BIGINT) FROM flags
        WHERE ok1 AND ok2 AND ok3
        UNION ALL
        SELECT 4, 'quality', CAST(count(*) AS INT),
               CAST(sum(toks_n) AS BIGINT) FROM flags
        WHERE ok1 AND ok2 AND ok3 AND ok4
    """
