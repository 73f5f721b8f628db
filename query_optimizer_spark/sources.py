"""Sources & sinks beyond plain parquet reads.

The reference's only source is a JDBC catalog and its sinks are JSON/ser
files (SURVEY.md §2.1).  A Spark engine needs the full ingest/egress
surface; this module adds the pieces with scale-relevant behavior:

- multi-format readers with explicit schemas (no inference jobs at scale),
- partitioned parquet sinks (hive-style directory pruning),
- bucketed tables for co-located, shuffle-free joins (the 100 TB answer
  to repeated large-large joins on the same key).

All writes stay inside the repo tree (``.warehouse/`` by default).
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .state import scope

# the on-disk state root: ``.warehouse`` next to the package
DEFAULT_WAREHOUSE = str(Path(__file__).resolve().parents[1] / ".warehouse")

# dead-session state older than this is garbage-collected by
# session_state_path; every session-scoped op writes AND reads its
# state within one invocation (seconds), so hours of slack cannot
# race a live session
STATE_TTL_SEC = 3 * 3600


def session_state_path(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """Session-scoped warehouse path ``<prefix>_<md5(sf_dir|appId)>``.

    Session scoping exists so CONCURRENT sessions never overwrite each
    other's state before the returned lazy DataFrame's action reads it
    back (r9 ADVICE) -- but it also means every stopped session leaves
    its state behind (r10 review: 254 entries / 340 MB accumulated
    from bench's fresh-session cohorts + gates).  So this helper also
    garbage-collects SIBLING ``<prefix>_*`` entries untouched for
    ``STATE_TTL_SEC``: old enough to belong to a dead session, never a
    live one.  Callers write-then-read within one invocation, but the
    returned DataFrame is LAZY -- a result held longer than the TTL
    (long bench session, debugger pause) could otherwise look dead to
    a sibling session's GC and be rmtree'd mid-plan (r10 ADVICE).  So
    the caller's OWN path gets its mtime refreshed here on every
    return: as long as a session keeps re-invoking its ops, its state
    can never age past the TTL, and liveness is enforced rather than
    assumed."""
    import hashlib
    import os
    import shutil
    import time

    tag = hashlib.md5(
        f"{sf_dir.rstrip('/')}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:12]
    root = Path(DEFAULT_WAREHOUSE)
    root.mkdir(exist_ok=True)
    now = time.time()
    for p in root.glob(f"{prefix}_*"):
        if tag in p.name:
            continue
        try:
            if now - p.stat().st_mtime > STATE_TTL_SEC:
                shutil.rmtree(p) if p.is_dir() else p.unlink()
        except OSError:
            pass  # a concurrent GC won the race; nothing to do
    own = root / f"{prefix}_{tag}"
    try:
        os.utime(own)  # refresh liveness for a sibling session's GC
    except OSError:
        pass  # not created yet (first call) -- the write stamps it
    return str(own)


# The one read path for a parquet file or store whose content is stable
# within a session: base tables (``{sf_dir}/<table>.parquet``) and the
# partitioned stores the curation operators commit to.  Resolving a path
# costs a schema-inference job (55-110 ms per table) and, on a store
# with hundreds of partition directories, a driver-side listing (1.5 s
# per read over the 1024-shard band index at sf0.1).  ``read_parquet``
# memoizes the RESOLVED DataFrame per path in the sf_dir's
# ``state.scope`` -- metadata only, every action still scans the files
# -- and guards it with a stat fingerprint, so a rewritten file or a
# store's commit (dynamic partition overwrite, snapshot swap, external
# restore) misses and resolves afresh.


def _store_fingerprint(path: str) -> tuple:
    """``(st_size, st_mtime_ns)`` of a file; ``(name, mtime_ns)`` of
    every immediate child of a store root -- any file added/removed
    inside a partition directory bumps that directory's mtime, so one
    shallow scandir detects every rewrite."""
    import os
    import stat

    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_size, st.st_mtime_ns)
        with os.scandir(path) as it:
            return tuple(
                sorted((e.name, e.stat().st_mtime_ns) for e in it)
            )
    except FileNotFoundError:
        return ("<missing>",)


def read_parquet(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the resolved relation memoized
    per (session, sf_dir, path) until the path's fingerprint changes."""
    memo = scope(spark, sf_dir).setdefault("parquet_reads", {})
    fp = _store_fingerprint(path)
    ent = memo.get(path)
    if ent is not None and ent[0] == fp:
        return ent[1]
    df = spark.read.parquet(path)
    memo[path] = (fp, df)
    return df


# A partition-keyed store (the IVF inverted lists, the dedup band index)
# is read and rewritten one partition set at a time.  ``read_partitions``
# is its one pruned read: the ``column IN (values)`` predicate must reach
# the scan as a PartitionFilter (metadata-only pruning, never a post-scan
# data filter), and it raises rather than asserts so the guarantee
# survives ``python -O``.  ``overwrite_partitions`` is its one write: a
# dynamic partition overwrite chosen per write through the writer option,
# so no caller flips the session-global ``partitionOverwriteMode`` conf.


def read_partitions(
    spark: SparkSession, sf_dir: str, path: str, column: str,
    values: Iterable[int],
) -> DataFrame:
    """The rows of a partitioned store in the ``column`` partitions listed
    in ``values``; raises RuntimeError unless the filter prunes at the
    scan."""
    from .executor import physical_plan

    df = read_parquet(spark, sf_dir, path)
    df = df.filter(df[column].isin([int(v) for v in values]))
    plan = physical_plan(df)
    seg = plan.split("PartitionFilters", 1)
    if len(seg) != 2 or column not in seg[1][:200]:
        raise RuntimeError(
            f"the {column} filter on {path} did not reach the scan as a"
            f" PartitionFilter; plan:\n{plan}"
        )
    return df


def overwrite_partitions(df: DataFrame, path: str, column: str) -> None:
    """Replace exactly the ``column`` partitions of the store at ``path``
    that occur in ``df``; every other partition directory is left as it
    is.  ``df``'s lineage must not read ``path`` (Spark refuses a
    self-overwrite), so a caller merging with existing rows checkpoints
    them first."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(column)
        .parquet(path)
    )


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for the body of a ``with``; afterwards each key
    goes back to its prior explicitly set value, or is unset if it had
    none."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def read_any(spark: SparkSession, path: str, fmt: str, schema=None) -> DataFrame:
    """Schema-explicit multi-format reader (csv/json/parquet/orc).
    Schema inference is a full extra pass over the data -- never at scale."""
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.load(path)


def write_partitioned(
    df: DataFrame, path: str, partition_by: list[str], fmt: str = "parquet"
) -> None:
    """Hive-style partitioned sink: readers filtering on the partition
    columns prune whole directories (visible as PartitionFilters in the
    read plan)."""
    df.write.format(fmt).mode("overwrite").partitionBy(*partition_by).save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str | list[str],
    n_buckets: int = 8,
    sort_by: str | list[str] | None = None,
) -> None:
    """Bucketed managed table: rows are hash-partitioned into fixed
    buckets at WRITE time, so two tables bucketed the same way join with
    NO exchange at read time -- the co-location strategy for repeated
    large-large joins (pre-shuffle once, join many times)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a stale managed-table directory from a previous session blocks
    # saveAsTable even in overwrite mode (LOCATION_ALREADY_EXISTS)
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    import shutil

    shutil.rmtree(Path(warehouse) / table.lower(), ignore_errors=True)
    cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    w = df.write.mode("overwrite").bucketBy(n_buckets, *cols)
    if sort_by:
        s = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*s)
    w.saveAsTable(table)


def bucketed_join_demo(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[DataFrame, str]:
    """Bucket lineitem + orders on the join key, join them, and return
    (result, physical plan).  The plan must contain no Exchange on
    either side -- asserted in tests.  The bucketed tables are written
    once per (session, sf_dir, n_buckets): repeat calls measure the
    read-side claim (co-located pre-sorted buckets, zero Exchange),
    which is the strategy's entire purpose.

    Table NAMES carry the (sf_dir, appId) tag, mirroring
    ``session_state_path``: a single shared name ("li_bucketed") was
    rewritten whenever a sibling session or a different sf_dir came
    through, and this session's cached relation then pointed at
    deleted files (FAILED_READ_FILE mid-pytest).  Per-(session,
    source) names make reuse safe by construction; dead sessions'
    table dirs are TTL-GCed like every other session-scoped state."""
    import hashlib
    import os
    import time

    Path(DEFAULT_WAREHOUSE).mkdir(exist_ok=True)
    li = read_parquet(spark, sf_dir, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = read_parquet(spark, sf_dir, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    tag = hashlib.md5(
        f"{sf_dir.rstrip('/')}|{spark.sparkContext.applicationId}"
        f"|{n_buckets}".encode()
    ).hexdigest()[:12]
    li_tbl, od_tbl = f"li_bucketed_{tag}", f"orders_bucketed_{tag}"
    warehouse = Path(
        spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
    )
    # TTL-GC sibling sessions' bucketed dirs (catalog entries die with
    # their in-memory catalog; the dirs do not) + the pre-tag legacy
    # names; refresh own mtimes so a live session never ages out
    now = time.time()
    for p in list(warehouse.glob("li_bucketed*")) + list(
        warehouse.glob("orders_bucketed*")
    ):
        if tag in p.name:
            try:
                os.utime(p)
            except OSError:
                pass
            continue
        try:
            legacy = p.name in ("li_bucketed", "orders_bucketed")
            if legacy or now - p.stat().st_mtime > STATE_TTL_SEC:
                import shutil

                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    if not (
        spark.catalog.tableExists(li_tbl)
        and spark.catalog.tableExists(od_tbl)
        and (warehouse / li_tbl / "_SUCCESS").exists()
        and (warehouse / od_tbl / "_SUCCESS").exists()
    ):
        # the two table builds are independent jobs: overlap them so
        # one build's straggler tail back-fills with the other's tasks
        # (guide §2.6).  Spark's job group/description/pool are
        # JVM-THREAD-local and a fresh pool thread starts with none, so
        # the caller's properties (a bench label, or a cancellable job
        # group set by harness.timed_execution -- whose cancelJobGroup
        # must reach these writes on timeout) are copied into each
        # submitted task explicitly (r15 ADVICE).
        from concurrent.futures import ThreadPoolExecutor, wait

        sc = spark.sparkContext
        parent_props = {
            k: sc.getLocalProperty(k)
            for k in (
                "spark.jobGroup.id",
                "spark.job.description",
                "spark.job.interruptOnCancel",
                "spark.scheduler.pool",
            )
        }

        def _build(df, tbl, key):
            for k, v in parent_props.items():
                if v is not None:
                    sc.setLocalProperty(k, v)
            write_bucketed(df, tbl, key, n_buckets, key)

        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [
                pool.submit(_build, li, li_tbl, "l_orderkey"),
                pool.submit(_build, orders, od_tbl, "o_orderkey"),
            ]
            wait(futs)
            # surface EVERY failure, not just whichever future is
            # inspected first (r15 ADVICE: a dual failure used to
            # report one cause and silently discard the other)
            errs = [f.exception() for f in futs if f.exception()]
            if len(errs) == 1:
                raise errs[0]
            if errs:
                raise RuntimeError(
                    f"both bucketed builds failed: {errs[0]!r}; {errs[1]!r}"
                )
    a = spark.table(li_tbl)
    b = spark.table(od_tbl)
    # merge hint: broadcast would win on toy data, but sort-merge is the
    # strategy bucketing exists for (both sides pre-hashed + pre-sorted
    # => no Exchange, no Sort at read time)
    joined = a.hint("merge").join(b.hint("merge"), a.l_orderkey == b.o_orderkey, "inner")
    from .executor import physical_plan

    return joined, physical_plan(joined)


def bucketed_join_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated co-located join: lineitem and orders are written as
    bucketed managed tables hash-partitioned on the join key, then
    sort-merge joined with NO Exchange on either side (asserted on the
    physical plan inline -- a silent regression to shuffling would
    still return correct rows).  This is the pre-shuffle-once,
    join-many-times strategy for repeated large-large joins at 100 TB:
    the write pays the shuffle one time, every later join reads
    co-located, pre-sorted buckets.

    The output aggregates the join per orderkey residue class (16
    groups): the revenue sum goes through DECIMAL(18,2) so engine
    summation order cannot move the double result."""
    joined, plan = bucketed_join_demo(spark, sf_dir)
    assert "Exchange" not in plan, "bucketed join must not shuffle"
    from pyspark.sql import functions as F

    return (
        joined.groupBy(
            (F.col("l_orderkey") % 16).cast("int").alias("bucket")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
            F.expr(
                "cast(sum(cast(l_extendedprice as decimal(18, 2)))"
                " as double)"
            ).alias("revenue"),
        )
    )


def bucketed_join_gate_oracle() -> str:
    return """
        SELECT CAST(l_orderkey % 16 AS INT) AS bucket,
               count(*) AS n_rows,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18, 2)))
                    AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    """


# --- z-order data skipping ---------------------------------------------------

# bits per dimension in the interleaved z-value: 20 bits covers keys to
# ~1M; at larger domains widen (the curve only needs to ORDER, so
# truncation above 2^20 would degrade clustering, not correctness)
ZORDER_BITS = 20
# target file count for the clustered layout (each file = one z range)
ZORDER_FILES = 32
# the probe box selects keys <= max/ZORDER_SEL per dimension, so the
# query touches ~1/ZORDER_SEL^2 of the data at ANY scale factor
ZORDER_SEL = 25


def _zorder_expr(c1: str, c2: str, bits: int = ZORDER_BITS) -> str:
    """Bit-interleave two non-negative integer columns into one z-value
    (bit b of c1 -> bit 2b, bit b of c2 -> bit 2b+1).  Pure integer
    arithmetic, single codegen projection; the terms write disjoint bits
    so + is |."""
    terms = []
    for b in range(bits):
        terms.append(f"shiftleft(shiftright({c1}, {b}) & 1, {2 * b})")
        terms.append(f"shiftleft(shiftright({c2}, {b}) & 1, {2 * b + 1})")
    return " + ".join(terms)


def zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering + file-level min/max data skipping -- the
    Delta/Iceberg OPTIMIZE ZORDER BY pattern, built from parts:

    1. cluster lineitem on the z-interleave of (l_partkey, l_suppkey)
       (repartitionByRange on the z-value + sortWithinPartitions), so
       every output file covers a NARROW range of BOTH dimensions;
    2. prune files from parquet footer min/max stats alone (driver-side
       metadata, the role a table format's manifest plays at 100 TB) --
       a file is read only if its [min,max] intersects the predicate
       box on BOTH dimensions; skipping must actually happen (asserted);
    3. read only the surviving files, apply the residual filter, return
       the matching rows.

    The predicate box is scale-relative (keys <= max/{sel} per
    dimension, floor division in both engines), so the query selects
    ~1/{sel}^2 of the rows at every sf.  Correctness of the PRUNING is
    what the driver gate checks: a dropped needed file would lose rows
    and break the hash match against the full-scan oracle.

    At 100 TB this is the difference between scanning a 2-D slice's
    worth of files and scanning the table: with z-order both
    dimensions' min/max ranges are narrow per file, where a sort on one
    column only prunes that column's dimension.
    """
    from pyspark.sql import functions as F

    li = read_parquet(spark, sf_dir, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    hi = li.agg(
        F.max("l_partkey").alias("p"), F.max("l_suppkey").alias("s")
    ).first()
    p_hi, s_hi = hi.p // ZORDER_SEL, hi.s // ZORDER_SEL

    # the clustered layout is OPTIMIZE ZORDER output -- table
    # maintenance a store pays once, amortized over every later
    # pruned read.  Build it once per (session, sf_dir) like the band /
    # IVF indexes (session-scoped path + _SUCCESS marker); repeat
    # calls measure the claimed recurring phase: footer-stats pruning
    # + the pruned read (guide §1: time the claim, not the setup)
    out = Path(session_state_path(spark, sf_dir, "lineitem_zorder"))
    if not (out / "_SUCCESS").exists():
        (
            li.withColumn(
                "zval", F.expr(_zorder_expr("l_partkey", "l_suppkey"))
            )
            .repartitionByRange(ZORDER_FILES, "zval")
            .sortWithinPartitions("zval")
            .write.mode("overwrite")
            .parquet(str(out))
        )

    # file-level skipping from footer stats only (no data IO)
    import pyarrow.parquet as pq

    files = sorted(str(p) for p in out.glob("*.parquet"))
    keep = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        lo = {c: None for c in ("l_partkey", "l_suppkey")}
        hi2 = dict(lo)
        stats_missing = False
        for rg in range(md.num_row_groups):
            for c in lo:
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or st.min is None or st.max is None:
                    # a writer may omit stats; without them the file's
                    # key range is unknown -- conservatively keep it
                    # (r8 ADVICE: never prune on absent evidence)
                    stats_missing = True
                    continue
                lo[c] = st.min if lo[c] is None else min(lo[c], st.min)
                hi2[c] = st.max if hi2[c] is None else max(hi2[c], st.max)
        if (
            stats_missing
            or lo["l_partkey"] is None
            or lo["l_suppkey"] is None
            or (lo["l_partkey"] <= p_hi and lo["l_suppkey"] <= s_hi)
        ):
            keep.append(f)
    assert keep, "z-order pruning kept zero files"
    # pruning-nothing is a layout observation, not a failure: a
    # single-file output or uniform key range legitimately keeps all
    # files, and the query must still answer correctly (r8 ADVICE
    # downgraded the former assert)
    # observability for tests and SCALING probes (the OUTPUT never
    # depends on layout)
    scope(spark, sf_dir)["zorder"] = dict(
        n_files=len(files), n_kept=len(keep)
    )

    return (
        spark.read.parquet(*keep)
        .filter(
            (F.col("l_partkey") <= p_hi) & (F.col("l_suppkey") <= s_hi)
        )
        .select(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_quantity",
        )
    )


def runtime_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter pruning (Spark's InjectRuntimeFilter): a
    selective dimension predicate is turned into a bloom filter AT RUN
    TIME and pushed into the fact-side scan as ``might_contain``, so
    fact rows that cannot join are dropped at the scan -- before the
    shuffle -- without any precomputed index.  At 100 TB this is the
    difference between shuffling the whole fact table and shuffling the
    ~1% that can match a 1% dimension slice.

    The injection is ASSERTED on the physical plan (both the
    ``bloom_filter_agg`` build on the dimension side and the
    ``might_contain`` probe in the fact scan filter); a regression to a
    plain shuffle join would still answer correctly, so the assert is
    what makes this a feature gate rather than a correctness gate.
    Broadcast is disabled inside the op (restored after) because a
    broadcast join already prunes at the scan -- the runtime filter is
    the strategy for the LARGE-dimension case where broadcast is off
    the table.  The result is materialized eagerly while the confs are
    in force; only the 3-row aggregate ever reaches the driver.
    """
    from pyspark.sql import functions as F

    from .executor import physical_plan

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # the toy dimension is far below the default 10 MB creation
        # threshold's intent; at real scale the defaults apply
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
        # default 10 GB: injection only pays off when the pruned scan
        # is big -- exactly the regime this op models on toy data
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_conf(spark, confs):
        orders = read_parquet(spark, sf_dir, f"{sf_dir}/orders.parquet").filter(
            "o_custkey % 97 = 0"
        )
        li = read_parquet(spark, sf_dir, f"{sf_dir}/lineitem.parquet")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("l_quantity").cast("bigint").alias("sum_qty"),
            )
        )
        plan = physical_plan(j)
        assert "bloom_filter_agg" in plan, "runtime filter not built"
        assert "might_contain" in plan, "runtime filter not applied"
        rows = j.collect()
    return spark.createDataFrame(rows, schema=j.schema)


def runtime_bloom_prune_oracle() -> str:
    return """
        SELECT o_orderstatus, count(*) AS n_rows,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_custkey % 97 = 0
        GROUP BY o_orderstatus
    """


def zorder_skipping_oracle() -> str:
    return f"""
        WITH thr AS (
            SELECT CAST(floor(max(l_partkey) / {ZORDER_SEL}) AS BIGINT)
                       AS p_hi,
                   CAST(floor(max(l_suppkey) / {ZORDER_SEL}) AS BIGINT)
                       AS s_hi
            FROM lineitem
        )
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        FROM lineitem, thr
        WHERE l_partkey <= p_hi AND l_suppkey <= s_hi
    """


def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source/sink round-trip: write the documents table as JSON
    lines (the interchange format most raw training corpora arrive in),
    read it back through the JSON source with an EXPLICIT schema (schema
    inference is a full extra pass at 100 TB -- never rely on it), and
    project a fidelity record.  The DuckDB oracle reads the original
    parquet, so the hash match proves the round-trip is lossless.
    Corpus text is printable ASCII (asserted in tests), so JSON escaping
    is bijective here."""
    from pyspark.sql import functions as F

    import hashlib

    # tag by a hash of the full path, not just the basename, so two
    # sf_dirs with the same leaf name can't collide on the output dir
    tag = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:12]
    out = f"{DEFAULT_WAREHOUSE}/documents_jsonl_{tag}"
    docs = read_parquet(spark, sf_dir, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema("doc_id bigint, text string").json(out)
    return back.select(
        "doc_id",
        F.length("text").cast("int").alias("n_chars"),
        F.expr("substring(text, 1, 40)").alias("prefix"),
        # count()-elimination guard (r15 bare-scan sweep): forces the
        # JSON parse to actually run under a bare count() -- the
        # fidelity read IS the timed claim
    ).filter("n_chars >= 0 AND length(prefix) <= 40")


def jsonl_roundtrip_oracle() -> str:
    return """
        SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
               substring(text, 1, 40) AS prefix
        FROM documents
    """


def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink round-trip on the orders table: write with
    header, read back with an EXPLICIT schema (inference is an extra
    full pass at scale -- and silently types everything it can't parse
    as string), project a fidelity record.  The DuckDB oracle reads the
    original parquet, so a hash match proves numeric/string round-trip
    fidelity through the text format."""
    from pyspark.sql import functions as F

    import hashlib

    tag = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:12]
    out = f"{DEFAULT_WAREHOUSE}/orders_csv_{tag}"
    orders = read_parquet(spark, sf_dir, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.mode("overwrite").option("header", "true").csv(out)
    back = (
        spark.read.schema(
            "o_orderkey bigint, o_custkey bigint, "
            "o_orderstatus string, o_totalprice double"
        )
        .option("header", "true")
        .csv(out)
    )
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.expr("round(o_totalprice, 3)").alias("price_r"),
        # count()-elimination guard (r15 bare-scan sweep): forces the
        # CSV parse of every projected field under a bare count()
    ).filter("o_orderstatus IS NOT NULL AND price_r IS NOT NULL")


def csv_roundtrip_oracle() -> str:
    return """
        SELECT o_orderkey, o_custkey, o_orderstatus,
               round(o_totalprice, 3) AS price_r
        FROM orders
    """


def partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink/source round-trip: write documents
    partitioned by (lang), read back ONLY two partitions through a
    partition filter, and aggregate -- the layout every 100 TB corpus
    uses so per-language jobs touch 1/Nth of the data.  The read plan
    must show PartitionFilters (directory pruning, asserted in tests);
    the DuckDB oracle aggregates the original parquet with the same
    predicate, so the hash match proves the round-trip is lossless AND
    the pruned read is complete."""
    import hashlib

    from pyspark.sql import functions as F

    tag = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:12]
    out = f"{DEFAULT_WAREHOUSE}/documents_bylang_{tag}"
    docs = read_parquet(spark, sf_dir, f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source", "n_chars"
    )
    write_partitioned(docs, out, ["lang"])
    back = spark.read.parquet(out).filter(F.col("lang").isin("en", "fr"))
    return back.groupBy("lang", "source").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def partitioned_roundtrip_oracle() -> str:
    return """
        SELECT lang, source, CAST(count(*) AS INT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               min(doc_id) AS min_doc, max(doc_id) AS max_doc
        FROM documents
        WHERE lang IN ('en', 'fr')
        GROUP BY lang, source
    """


# --- copy-on-write MERGE (upsert) ---------------------------------------------

# the MERGE cutoff: orders strictly before the split date form the
# stored dimension snapshot; the rest arrive as the CDC batch
MERGE_CUTOFF = "1997-01-01"


def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE INTO -- the Delta/Iceberg upsert pattern
    built from parts: a per-customer order summary snapshot (n_orders,
    latest order) is materialized to parquet from history before
    MERGE_CUTOFF, a CDC batch aggregates the orders since, and the
    MERGE is one full-outer join producing the new snapshot version --
    matched keys update (counts add, latest-order resolves by the
    total order (ms, orderkey)), unmatched source keys insert,
    unmatched target keys carry over.  The new snapshot is written to
    a NEW path and read back: the old version stays intact
    (copy-on-write time travel, the isolation a table format provides
    at 100 TB).

    Scale shape: the join shuffles only the snapshot (one row per
    customer) and the pre-aggregated batch (one row per changed
    customer) -- never raw orders; both group-bys are map-side
    combinable.  The driver gate proves snapshot-v1 + batch == the
    full recompute (the DuckDB oracle aggregates all orders in one
    pass -- a different algorithm shape)."""
    import hashlib

    from pyspark.sql import functions as F

    from .session import read_table

    def summarize(df):
        return df.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.count("*").alias("n_orders"),
            F.max(F.struct(
                F.expr("unix_millis(o_orderdate)").alias("ms"),
                F.col("o_orderkey").alias("okey"),
                F.col("o_totalprice").alias("price"),
            )).alias("last"),
        ).select(
            "custkey", "n_orders",
            F.col("last.ms").alias("last_ms"),
            F.col("last.okey").alias("last_okey"),
            F.col("last.price").alias("last_price"),
        )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    cut = F.expr(f"timestamp'{MERGE_CUTOFF} 00:00:00'")
    # session-scoped + TTL-GC'd state path (r9 ADVICE + r10 review)
    base = session_state_path(spark, sf_dir, "cust_snapshot")
    v1 = Path(f"{base}_v1")
    v2 = Path(f"{base}_v2")
    snapshot = summarize(orders.filter(F.col("o_orderdate") < cut))
    snapshot.write.mode("overwrite").parquet(str(v1))
    batch = summarize(orders.filter(F.col("o_orderdate") >= cut))

    # both versions are read back with the schema of the frame just
    # written: inferring it would start a Spark job per read
    t = spark.read.schema(snapshot.schema).parquet(str(v1)).alias("t")
    s = batch.alias("s")
    src_wins = (F.col("t.custkey").isNull()) | (
        F.col("s.custkey").isNotNull()
        & (
            F.struct(F.col("s.last_ms"), F.col("s.last_okey"))
            > F.struct(F.col("t.last_ms"), F.col("t.last_okey"))
        )
    )
    merged = t.join(s, F.col("t.custkey") == F.col("s.custkey"), "full_outer").select(
        F.coalesce(F.col("t.custkey"), F.col("s.custkey")).alias("custkey"),
        (
            F.coalesce(F.col("t.n_orders"), F.lit(0))
            + F.coalesce(F.col("s.n_orders"), F.lit(0))
        ).alias("n_orders"),
        F.when(src_wins, F.col("s.last_ms")).otherwise(F.col("t.last_ms")).alias("last_ms"),
        F.when(src_wins, F.col("s.last_okey")).otherwise(F.col("t.last_okey")).alias("last_okey"),
        F.when(src_wins, F.col("s.last_price")).otherwise(F.col("t.last_price")).alias("last_price"),
    )
    merged.write.mode("overwrite").parquet(str(v2))
    out = spark.read.schema(merged.schema).parquet(str(v2))
    return out.select(
        "custkey", "n_orders", "last_ms", "last_okey",
        F.round("last_price", 3).alias("last_price"),
        # count()-elimination guard (r15 bare-scan sweep): a parquet
        # count() is answered from footer metadata alone; the merged-
        # table READ is the timed claim, so force the column decode
    ).filter("custkey IS NOT NULL AND n_orders >= 1")


def merge_upsert_oracle() -> str:
    # row_number argmax over ALL orders in one pass -- a different
    # algorithm than the snapshot+batch merge it verifies
    return """
        WITH ranked AS (
            SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC,
                                               o_orderkey DESC) AS rn,
                   COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
            FROM orders
        )
        SELECT o_custkey AS custkey, n_orders,
               epoch_ms(o_orderdate) AS last_ms,
               o_orderkey AS last_okey,
               round(o_totalprice, 3) AS last_price
        FROM ranked WHERE rn = 1
    """


# --- small-file compaction ----------------------------------------------------

# seed fragmentation: the slice is written as this many files, the
# compactor re-bins them toward COMPACT_TARGET_BYTES per output file
COMPACT_SMALL_N = 64
COMPACT_TARGET_BYTES = 4 << 20


def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction -- the OPTIMIZE table-maintenance pattern:
    a fragmented table (COMPACT_SMALL_N tiny parquet files -- what
    streaming ingest or over-parallel writes leave behind) is rewritten
    into ceil(total_bytes / COMPACT_TARGET_BYTES) right-sized files.
    The output file count is planned from FOOTER METADATA only
    (driver-side, no data IO -- the role a table format's manifest
    plays), the rewrite is one repartition, and row content must be
    byte-identical -- the driver gate hashes the compacted table
    against the raw slice.

    At 100 TB fragmentation is the silent killer: every query pays
    per-file open/footer costs and the scheduler drowns in splits;
    compaction restores scan throughput without touching semantics.
    """
    import hashlib
    import math

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    li = read_parquet(spark, sf_dir, f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_linenumber") <= 2
    ).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    # session-scoped + TTL-GC'd like merge_upsert's snapshots
    frag = Path(session_state_path(spark, sf_dir, "frag"))
    compacted = Path(session_state_path(spark, sf_dir, "compacted"))
    li.repartition(COMPACT_SMALL_N).write.mode("overwrite").parquet(str(frag))

    files = sorted(str(p) for p in frag.glob("*.parquet"))
    total = sum(
        pq.ParquetFile(f).metadata.serialized_size
        + sum(
            pq.ParquetFile(f).metadata.row_group(i).total_byte_size
            for i in range(pq.ParquetFile(f).metadata.num_row_groups)
        )
        for f in files
    )
    n_out = max(1, math.ceil(total / COMPACT_TARGET_BYTES))
    (
        spark.read.parquet(str(frag))
        .repartition(n_out)
        .write.mode("overwrite")
        .parquet(str(compacted))
    )
    out_files = sorted(str(p) for p in compacted.glob("*.parquet"))
    assert len(out_files) < len(files), (
        f"compaction produced {len(out_files)} files from {len(files)}"
    )
    scope(spark, sf_dir)["compact"] = dict(
        n_in=len(files), n_out=len(out_files)
    )
    # count()-elimination guard (r15 bare-scan sweep): a parquet
    # count() is answered from footer metadata alone; reading the
    # compacted rows back is the timed claim, so force column decode
    return spark.read.parquet(str(compacted)).filter(
        "l_orderkey IS NOT NULL AND l_linenumber >= 1"
    )


def compact_small_files_oracle() -> str:
    return """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_linenumber <= 2
    """


# --- schema evolution (mergeSchema generational read) --------------------------

# orders strictly before this date were written BEFORE the schema added
# o_orderpriority; later files carry the evolved 4-column schema
EVOLVE_CUTOFF = "1996-01-01"


def schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generational parquet read across a schema change (mergeSchema).

    The table-format reality at 100 TB: files written before a column
    existed sit next to files written after, forever -- rewriting
    petabytes to backfill one column is not an option.  Gen-1 files
    (orders before EVOLVE_CUTOFF) are written WITHOUT o_orderpriority;
    gen-2 files carry it.  One ``mergeSchema`` read unions the
    schemas: the evolved column is NULL exactly on pre-evolution rows,
    and the ``gen=N`` directory names surface as a partition column,
    so generation-scoped queries still prune directories.

    The aggregate proves both halves: per (gen, priority-or-sentinel)
    counts and exact integer-cent totals must match the oracle's
    recompute from the ORIGINAL table with the generation derived from
    the same cutoff -- i.e. the evolved read lost nothing, invented
    nothing, and nulled exactly the right rows.

    Scale shape: two narrow projection writes; the read is one scan
    whose footer-schema union Spark computes distributed (mergeSchema
    is a file-footer operation, not a data rewrite); the aggregate
    shuffles a handful of (gen, priority) groups.
    """
    from pyspark.sql import functions as F

    # appId-scoped + TTL-GC'd (r12 ADVICE): a path keyed only on
    # sf_dir let two concurrent sessions (bench's fresh-session
    # cohorts) both miss _DONE and interleave mode=overwrite writes --
    # a mix of both writers' part files could persist behind a _DONE;
    # a stale _DONE also survived testdata regeneration, and nothing
    # GC'd the directory.  session_state_path solves all three.
    out = session_state_path(spark, sf_dir, "orders_evolved")
    done = Path(out) / "_DONE"
    if not done.exists():
        orders = read_parquet(spark, sf_dir, f"{sf_dir}/orders.parquet")
        gen1 = orders.filter(
            F.col("o_orderdate") < EVOLVE_CUTOFF
        ).select("o_orderkey", "o_custkey", "o_totalprice")
        gen2 = orders.filter(
            F.col("o_orderdate") >= EVOLVE_CUTOFF
        ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        gen1.write.mode("overwrite").parquet(f"{out}/gen=1")
        gen2.write.mode("overwrite").parquet(f"{out}/gen=2")
        done.touch()
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy(
        F.col("gen").cast("int").alias("gen"),
        F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias(
            "priority"
        ),
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(
            F.sum(
                F.expr(
                    "cast(round(o_totalprice * 100, 0) as bigint)"
                )
            )
            / 100.0,
            2,
        ).alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


def schema_evolution_oracle() -> str:
    return f"""
        SELECT CAST(CASE WHEN o_orderdate < TIMESTAMP '{EVOLVE_CUTOFF}'
                    THEN 1 ELSE 2 END AS INT) AS gen,
               CASE WHEN o_orderdate < TIMESTAMP '{EVOLVE_CUTOFF}'
                    THEN '<pre-evolution>' ELSE o_orderpriority
               END AS priority,
               count(*) AS n_orders,
               round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                     / 100.0, 2) AS total_price,
               min(o_orderkey) AS min_key,
               max(o_orderkey) AS max_key
        FROM orders
        GROUP BY 1, 2
    """


# --- manifest snapshots + time travel (Iceberg-lite) ----------------------------

# commits are range-clustered on doc_id into this many files (the
# sorted-table layout), so the keyed delete below overlaps only a
# strict subset of them -- copy-on-write stays file-bounded
SNAPSHOT_FILES_PER_COMMIT = 4

# the COW takedown deletes the doc_ids at ranks (TD_LO_RANK, TD_HI_RANK]
# of the DISTINCT ascending doc_id order.  Rank-derived bounds come
# from the OBSERVED id distribution (r13 VERDICT "what's wrong" #2: a
# range derived from max(doc_id)/k arithmetic landed in id VOIDS on
# scale_probe's striped disjoint replicas, so n_affected == 0 left the
# COW file-bounding claim unmeasured exactly where the probe should
# measure it); a rank window is non-empty at every corpus size
# >= TD_HI_RANK, and each bound is an exact order statistic both
# engines compute identically (max of the r smallest -- in Spark a
# TakeOrderedAndProject top-K, never a global sort).  A FIXED-size
# takedown against a growing corpus is also the realistic regime: the
# deletion request does not grow because the table did.
SNAPSHOT_TD_LO_RANK = 32
SNAPSHOT_TD_HI_RANK = 96
# the BRANCH's takedown window -- a different rank range than main's,
# so the two refs' histories genuinely diverge from the shared fork
SNAPSHOT_BR_LO_RANK = 128
SNAPSHOT_BR_HI_RANK = 192
# the MERGE demo's branch deletes a window at the TAIL of the id space
# (descending ranks): main's takedown lives in ranks (32, 96] of the
# ASCENDING order -- always inside commit1 (ids <= split) -- while
# this window lives in the top 192 ranks -- always inside commit2 (ids
# > split) once the corpus holds >= 384 distinct ids.  Commit file
# sets are disjoint by construction, so the two refs never COW-touch
# the same ancestor file and the 3-way merge is conflict-free at every
# test scale; the conflict RAISE path is pytest-driven with refs that
# do collide.
SNAPSHOT_MG_LO_RANK = 192  # descending rank of the window's low edge
SNAPSHOT_MG_HI_RANK = 128  # descending rank of the window's high edge

def _uri_to_path(uri: str) -> str:
    """Normalize an ``input_file_name()`` URI to a local filesystem
    path.  input_file_name returns percent-encoded ``file://`` URIs, so
    a bare ``str.replace("file://", "")`` silently fails to match glob
    paths containing URL-escapable characters (r13 ADVICE) -- decode
    via urllib instead."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme else uri


def _rank_bound(ids: DataFrame, rank: int):
    """doc_id at ascending rank ``rank`` of the distinct ids -- the max
    of the ``rank`` smallest (TakeOrderedAndProject, never a global
    sort).  One scalar collect -- model state."""
    from pyspark.sql import functions as F

    return (
        ids.orderBy("doc_id").limit(rank).agg(F.max("doc_id"))
        .collect()[0][0]
    )


def _rank_bound_desc(ids: DataFrame, rank: int):
    """doc_id at DESCENDING rank ``rank`` of the distinct ids -- the
    min of the ``rank`` largest (TakeOrderedAndProject, never a global
    sort).  One scalar collect -- model state."""
    from pyspark.sql import functions as F

    return (
        ids.orderBy(F.col("doc_id").desc())
        .limit(rank)
        .agg(F.min("doc_id"))
        .collect()[0][0]
    )


def _snapshot_bounds(spark: SparkSession, docs: DataFrame):
    """(split, lo, hi) -- the v1/v2 append split (floor(max/2): exact
    integer arithmetic) and the takedown ranks' doc_id values.  Three
    scalar collects -- model state, never data."""
    from pyspark.sql import functions as F

    split = docs.agg(
        F.expr("cast(floor(max(doc_id) / 2.0) as bigint)")
    ).collect()[0][0]
    ids = docs.select("doc_id").distinct()
    return (
        split,
        _rank_bound(ids, SNAPSHOT_TD_LO_RANK),
        _rank_bound(ids, SNAPSHOT_TD_HI_RANK),
    )


def _snapshot_bounds_sql(with_merge: bool = False) -> str:
    """The bounds CTE every snapshot oracle shares -- same split, the
    same rank-order-statistic takedown bounds, plus the branch ranks'
    bounds, all recomputed by DuckDB.  ``with_merge`` adds the merge
    branch's descending-rank bounds (only the merge oracle needs them;
    the flag keeps the other snapshot oracles' SQL byte-stable)."""

    def _rb(rank: int) -> str:
        return (
            "(SELECT max(doc_id) FROM ("
            "SELECT DISTINCT doc_id FROM documents"
            f" ORDER BY doc_id LIMIT {rank}))"
        )

    def _rbd(rank: int) -> str:
        # descending ranks among the ids ABOVE the append split --
        # commit2's id domain (matches _rank_bound_desc over ids2)
        return (
            "(SELECT min(doc_id) FROM ("
            "SELECT DISTINCT doc_id FROM documents"
            " WHERE doc_id > (SELECT CAST(floor(max(doc_id) / 2.0)"
            " AS BIGINT) FROM documents)"
            f" ORDER BY doc_id DESC LIMIT {rank}))"
        )

    merge_cols = (
        f""",
                   {_rbd(SNAPSHOT_MG_LO_RANK)} AS mlo,
                   {_rbd(SNAPSHOT_MG_HI_RANK)} AS mhi"""
        if with_merge
        else ""
    )
    return f"""bounds AS (
            SELECT (SELECT CAST(floor(max(doc_id) / 2.0) AS BIGINT)
                    FROM documents) AS s,
                   {_rb(SNAPSHOT_TD_LO_RANK)} AS lo,
                   {_rb(SNAPSHOT_TD_HI_RANK)} AS hi,
                   {_rb(SNAPSHOT_BR_LO_RANK)} AS blo,
                   {_rb(SNAPSHOT_BR_HI_RANK)} AS bhi{merge_cols}
        )"""


def _snapshot_commits(
    spark: SparkSession, sf_dir: str, store: str = "doc_snapshots"
) -> tuple[Path, dict[int, list[str]]]:
    """Build (idempotently) the three-commit manifest store and return
    ``(base, {version: file list})`` for every manifest still present.

    Shared by time-travel / CDC-changes / expiry (the latter on its own
    ``store`` -- expiry MUTATES the store, and the gate's other
    snapshot ops must keep reading an intact one).  Commit 1 = initial
    load (doc_id <= split, range-clustered); commit 2 = append-only;
    commit 3 = copy-on-write delete of the rank-derived takedown range
    -- only files holding a doomed row are rewritten, located via a
    normalized ``input_file_name()`` probe that must resolve inside the
    v2 file set (raise otherwise).  File-count evidence (n_files_v1/v2/v3,
    n_affected) is recorded on EVERY call -- cached ones reload the
    manifests -- as the sf_dir's ``state`` record named ``store``."""
    import json as _json

    from pyspark.sql import functions as F

    base = Path(session_state_path(spark, sf_dir, store))
    docs = read_parquet(spark, sf_dir, f"{sf_dir}/documents.parquet")

    def _manifest(v: int) -> Path:
        return base / f"manifest_v{v}.json"

    def _files(d: Path) -> list[str]:
        return sorted(str(p) for p in d.glob("*.parquet"))

    if not _manifest(3).exists():
        split, lo, hi = _snapshot_bounds(spark, docs)
        # commit 1: initial load, range-clustered on the table key
        c1 = base / "commit1"
        if not (c1 / "_SUCCESS").exists():
            (
                docs.filter(F.col("doc_id") <= split)
                .repartitionByRange(SNAPSHOT_FILES_PER_COMMIT, "doc_id")
                .write.mode("overwrite")
                .parquet(str(c1))
            )
        v1 = _files(c1)
        _manifest(1).write_text(_json.dumps(v1))
        # commit 2: append-only -- new files, v1 files untouched
        c2 = base / "commit2"
        if not (c2 / "_SUCCESS").exists():
            (
                docs.filter(F.col("doc_id") > split)
                .repartitionByRange(SNAPSHOT_FILES_PER_COMMIT, "doc_id")
                .write.mode("overwrite")
                .parquet(str(c2))
            )
        v2 = v1 + _files(c2)
        _manifest(2).write_text(_json.dumps(v2))
        # commit 3: copy-on-write delete of only the affected files
        doomed_cond = (F.col("doc_id") > lo) & (F.col("doc_id") <= hi)
        snap2 = spark.read.parquet(*v2)
        affected_uris = sorted(
            r.f
            for r in snap2.filter(doomed_cond)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        )
        affected_set = {_uri_to_path(f) for f in affected_uris}
        stray = affected_set - set(v2)
        if stray:
            raise RuntimeError(
                "input_file_name probe resolved outside the v2 file"
                f" set (URI normalization bug?): {sorted(stray)[:3]}"
            )
        if not affected_set:
            raise RuntimeError(
                "rank-derived takedown matched zero files -- the COW"
                " claim would be vacuous (corpus smaller than"
                f" {SNAPSHOT_TD_HI_RANK} docs?)"
            )
        c3 = base / "commit3"
        if not (c3 / "_SUCCESS").exists():
            (
                spark.read.parquet(*sorted(affected_set))
                .filter(~doomed_cond)
                .write.mode("overwrite")
                .parquet(str(c3))
            )
        v3 = [f for f in v2 if f not in affected_set] + _files(c3)
        _manifest(3).write_text(_json.dumps(v3))

    manifests = {
        v: _json.loads(_manifest(v).read_text())
        for v in (1, 2, 3)
        if _manifest(v).exists()
    }
    ev: dict[str, int] = {
        f"n_files_v{v}": len(fs) for v, fs in manifests.items()
    }
    if 2 in manifests and 3 in manifests:
        ev["n_affected"] = len(set(manifests[2]) - set(manifests[3]))
    scope(spark, sf_dir)[store] = ev
    return base, manifests


def _snapshot_stats(df: "DataFrame", version: int) -> "DataFrame":
    from pyspark.sql import functions as F

    return (
        df.groupBy()
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .select(
            F.lit(version).cast("int").alias("version"),
            "n_docs",
            "total_chars",
            "min_doc",
            "max_doc",
        )
    )


def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-based snapshots + time travel over plain parquet -- the
    Iceberg/Delta table-format primitive, reduced to its two moving
    parts: IMMUTABLE data files and a tiny per-commit MANIFEST (the
    JSON list of files that ARE the table at that version).

    Three commits over the documents table:

    1. ``v1`` -- initial load: the first half of the corpus
       (doc_id below the median split) written once; manifest v1
       lists its files.
    2. ``v2`` -- APPEND: the second half lands as NEW files only;
       manifest v2 = manifest v1 + the new files.  Zero bytes of v1
       data move -- at 100 TB an append commit is a manifest swap,
       which is the entire point of the format.
    3. ``v3`` -- COPY-ON-WRITE DELETE: the doc_ids at ranks
       (TD_LO_RANK, TD_HI_RANK] of the observed distinct-id order are
       removed (a fixed-size takedown keyed on the table's cluster
       column; rank-derived so it is NON-EMPTY at every corpus size --
       r13's max/k arithmetic hit id voids on striped replicas).
       Commits are range-clustered on doc_id (``repartitionByRange``
       -- the sorted-table layout), so the doomed rows live in the few
       files overlapping that range: ``input_file_name()`` finds WHICH
       (a file-count-bounded collect -- model state); only those files
       are rewritten without their doomed rows; manifest v3 =
       untouched v2 files + the rewrites.  Files without a doomed row
       are never read again, never rewritten -- a strict subset,
       pytest-asserted.

    The op then TIME-TRAVELS: it reads each manifest's exact file
    list (``spark.read.parquet(*files)``) and aggregates -- and
    because data files are immutable, reading manifest v1 AFTER
    commits 2 and 3 must still reproduce the original table
    bit-for-bit (the pytest asserts v1's files byte-identical through
    both later commits).  The oracle recomputes every version from
    the raw table with the version predicates -- agreement proves the
    manifests carve exactly the right file sets.

    Columns: one row per version -- (version, n_docs, total_chars,
    min_doc, max_doc); all-integer, so Spark and DuckDB agree on
    every bit.

    Scale shape: commit 1/2 are one filtered write each; commit 3
    reads ONLY the doomed rows' files (the input_file_name probe
    projects doc_id alone) and rewrites that subset; time-travel
    reads are manifest-pruned scans.  The manifests are KBs on the
    driver -- never data."""
    _, manifests = _snapshot_commits(spark, sf_dir)
    out = None
    for v in (1, 2, 3):
        stats = _snapshot_stats(spark.read.parquet(*manifests[v]), v)
        out = stats if out is None else out.unionByName(stats)
    return out


_SNAP_STATS_SQL = (
    "CAST(count(*) AS BIGINT) AS n_docs,"
    " CAST(sum(n_chars) AS BIGINT) AS total_chars,"
    " min(doc_id) AS min_doc, max(doc_id) AS max_doc"
)


def snapshot_time_travel_oracle() -> str:
    return f"""
        WITH {_snapshot_bounds_sql()}
        SELECT CAST(1 AS INT) AS version, {_SNAP_STATS_SQL}
        FROM documents, bounds WHERE doc_id <= bounds.s
        UNION ALL
        SELECT CAST(2 AS INT) AS version, {_SNAP_STATS_SQL} FROM documents
        UNION ALL
        SELECT CAST(3 AS INT) AS version, {_SNAP_STATS_SQL}
        FROM documents, bounds
        WHERE NOT (doc_id > bounds.lo AND doc_id <= bounds.hi)
    """


def snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental / CDC read between snapshot versions -- "what
    changed from v_from to v_to", answered from the MANIFESTS' file-set
    difference alone (Iceberg's incremental scan / Delta's CDF, the
    batch analog of a streaming table source): the weekly 100 TB regime
    is "process what changed", never "rescan the table".

    - v1 -> v2 (the append commit): changed files = manifest2 minus
      manifest1; every row in them is an INSERT.  The scan reads ONLY
      those files -- zero bytes of v1.
    - v2 -> v3 (the copy-on-write delete): removed = m2 - m3 (the
      affected files), added = m3 - m2 (their rewrites).  DELETEs =
      rows of the removed files anti-joined against the added files'
      doc_ids (old minus new); the rewrite may never INVENT rows, so
      new-minus-old must be empty -- raise-enforced here, which also
      proves the diff needed to read only removed+added files.

    Columns: (from_version, to_version, change, n_docs, total_chars,
    min_doc, max_doc) -- one row per (commit, change kind); integers +
    a literal tag, bit-exact cross-engine.  The oracle recomputes both
    deltas from the raw table with the same split / rank-bound
    predicates the commits used -- agreement proves the manifest diff
    carves exactly the rows that changed.

    Scale shape: both scans are manifest-pruned to the changed files
    (PLANS.md shows no other file in the plan); the anti-join's right
    side is the rewritten files only.  Manifest set-difference is
    driver-side metadata, KBs."""
    from pyspark.sql import functions as F

    _, manifests = _snapshot_commits(spark, sf_dir)
    s1, s2, s3 = (set(manifests[v]) for v in (1, 2, 3))
    ins12 = sorted(s2 - s1)
    removed23 = sorted(s2 - s3)
    added23 = sorted(s3 - s2)

    inserts = spark.read.parquet(*ins12)
    old = spark.read.parquet(*removed23)
    new = (
        spark.read.parquet(*added23)
        if added23
        else old.filter(F.lit(False))
    )
    # a COW rewrite deletes; it may never invent rows
    invented = new.join(
        old.select("doc_id"), "doc_id", "left_anti"
    ).count()
    if invented:
        raise RuntimeError(
            f"v2->v3 rewrite invented {invented} rows -- manifest diff"
            " does not carve a pure delete"
        )
    deletes = old.join(new.select("doc_id"), "doc_id", "left_anti")

    def _chg(df: DataFrame, fv: int, tv: int, kind: str) -> DataFrame:
        return (
            df.groupBy()
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .select(
                F.lit(fv).cast("int").alias("from_version"),
                F.lit(tv).cast("int").alias("to_version"),
                F.lit(kind).alias("change"),
                "n_docs",
                "total_chars",
                "min_doc",
                "max_doc",
            )
        )

    return _chg(inserts, 1, 2, "insert").unionByName(
        _chg(deletes, 2, 3, "delete")
    )


def snapshot_changes_oracle() -> str:
    return f"""
        WITH {_snapshot_bounds_sql()}
        SELECT CAST(1 AS INT) AS from_version, CAST(2 AS INT) AS to_version,
               'insert' AS change, {_SNAP_STATS_SQL}
        FROM documents, bounds WHERE doc_id > bounds.s
        UNION ALL
        SELECT CAST(2 AS INT) AS from_version, CAST(3 AS INT) AS to_version,
               'delete' AS change, {_SNAP_STATS_SQL}
        FROM documents, bounds
        WHERE doc_id > bounds.lo AND doc_id <= bounds.hi
    """


def snapshot_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot EXPIRY + VACUUM -- the retention half of the table
    format (Iceberg ``expire_snapshots`` + orphan-file removal): keep
    only the latest version, drop the older manifests, and delete every
    data file no RETAINED manifest references.  Without it a mutable
    100 TB table retains every superseded byte forever -- expiry is the
    weekly maintenance op that caps storage at ~live size.

    Runs on its OWN store (``doc_snapshots_exp``): expiry mutates the
    store, and the gate's time-travel / CDC ops must keep reading an
    intact one.  Steps: build the same three commits, then retain ONLY
    v3 -- orphans = (m1 ∪ m2) − m3, exactly the affected files the v3
    copy-on-write superseded (v1 ⊂ v2 and v2's untouched files carry
    into v3, so nothing else is unreachable).  Orphan data files are
    unlinked FIRST, manifests second (a crash between heals on re-run:
    the recompute sees the surviving manifests and re-deletes), and the
    op raise-enforces that every retained file still exists -- i.e. no
    retained manifest references a deleted file.

    The returned frame is the retained version read AFTER the vacuum,
    against the same from-raw predicate oracle -- agreement proves
    expiry deleted exactly the unreachable bytes and nothing live.

    Scale shape: expiry is driver-side manifest set-arithmetic plus
    |orphans| file deletes; no data is read or moved (the one scan is
    the returned frame's manifest-pruned read)."""
    store = "doc_snapshots_exp"
    base, manifests = _snapshot_commits(spark, sf_dir, store=store)
    retained = set(manifests[3])
    n_orphans = 0
    if 1 in manifests or 2 in manifests:
        orphans = (
            set(manifests.get(1, [])) | set(manifests.get(2, []))
        ) - retained
        n_orphans = len(orphans)
        for f in sorted(orphans):
            Path(f).unlink(missing_ok=True)
        for v in (1, 2):
            (base / f"manifest_v{v}.json").unlink(missing_ok=True)
    missing = sorted(f for f in retained if not Path(f).exists())
    if missing:
        raise RuntimeError(
            "vacuum deleted files a retained manifest still"
            f" references: {missing[:3]}"
        )
    sc = scope(spark, sf_dir)
    sc[store] = {
        **sc.get(store, {}),
        "n_orphans_deleted": n_orphans,
        "n_retained": len(retained),
    }
    return _snapshot_stats(
        spark.read.parquet(*sorted(retained)), 3
    )


def snapshot_expiry_oracle() -> str:
    return f"""
        WITH {_snapshot_bounds_sql()}
        SELECT CAST(3 AS INT) AS version, {_SNAP_STATS_SQL}
        FROM documents, bounds
        WHERE NOT (doc_id > bounds.lo AND doc_id <= bounds.hi)
    """


def snapshot_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot BRANCHING -- divergent histories over shared immutable
    files (Iceberg refs / Nessie's git-for-data): a branch is nothing
    but another manifest chain whose first entry points at an existing
    version's file set.  The lakehouse workflow this enables at 100 TB
    -- audit a takedown, test a migration, stage a backfill WITHOUT
    copying the table -- is pure manifest arithmetic.

    ``branch1`` forks from v2 (the fork point main's v3 also grew
    from) and applies its OWN copy-on-write delete of a DIFFERENT
    rank window [BR_LO, BR_HI): affected files are located with the
    same normalized ``input_file_name`` probe, rewritten filtered into
    the branch's OWN ``branch1/`` directory, and
    ``manifest_branch1.json`` = v2's untouched files + the branch
    rewrites.  Main's manifests and data files are never written --
    raise-enforced here by snapshotting every main-manifest path
    before and after the branch commit (and pytest re-asserts
    byte-identity of the shared files).  The two refs now share most
    of their storage while disagreeing exactly on their private
    deletes.

    Columns: one row per ref -- (ref, n_docs, total_chars, min_doc,
    max_doc) for the common ancestor ``base@v2``, ``main@v3``, and
    ``branch1`` -- each read from ITS manifest's exact file list; the
    oracle recomputes all three from raw with the same split/rank
    predicates.  Scale shape: the branch commit reads only the files
    overlapping its range; the three reads are manifest-pruned."""
    import json as _json

    from pyspark.sql import functions as F

    base, manifests = _snapshot_commits(spark, sf_dir)
    bmanifest = base / "manifest_branch1.json"
    if not bmanifest.exists():
        docs = read_parquet(spark, sf_dir, f"{sf_dir}/documents.parquet")
        ids = docs.select("doc_id").distinct()
        blo = _rank_bound(ids, SNAPSHOT_BR_LO_RANK)
        bhi = _rank_bound(ids, SNAPSHOT_BR_HI_RANK)
        doomed = (F.col("doc_id") > blo) & (F.col("doc_id") <= bhi)
        # the shared build-branch block verifies main moved by zero
        # bytes BEFORE returning; the manifest is written only after
        # (r15 ADVICE write-ordering: a raise may not leave the branch
        # manifest behind to mask the violation on warm calls)
        bfiles = _commit_branch(
            spark, base, manifests[2], doomed, "branch1", "branch"
        )
        bmanifest.write_text(_json.dumps(bfiles))

    def _ref_stats(files: list[str], ref: str) -> DataFrame:
        return (
            spark.read.parquet(*files)
            .groupBy()
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .select(
                F.lit(ref).alias("ref"),
                "n_docs",
                "total_chars",
                "min_doc",
                "max_doc",
            )
        )

    bfiles = _json.loads(bmanifest.read_text())
    return (
        _ref_stats(manifests[2], "base@v2")
        .unionByName(_ref_stats(manifests[3], "main@v3"))
        .unionByName(_ref_stats(bfiles, "branch1"))
    )


def snapshot_branch_oracle() -> str:
    return f"""
        WITH {_snapshot_bounds_sql()}
        SELECT 'base@v2' AS ref, {_SNAP_STATS_SQL} FROM documents
        UNION ALL
        SELECT 'main@v3' AS ref, {_SNAP_STATS_SQL}
        FROM documents, bounds
        WHERE NOT (doc_id > bounds.lo AND doc_id <= bounds.hi)
        UNION ALL
        SELECT 'branch1' AS ref, {_SNAP_STATS_SQL}
        FROM documents, bounds
        WHERE NOT (doc_id > bounds.blo AND doc_id <= bounds.bhi)
    """


def _commit_branch(
    spark: SparkSession,
    base: Path,
    v2: list[str],
    doomed,
    dirname: str,
    label: str,
) -> list[str]:
    """The shared COW build-branch block of ``snapshot_branch`` /
    ``snapshot_merge`` (r15 review: the two ops previously duplicated
    ~40 lines, so an invariant fix had to land twice).  Locates the
    ancestor files overlapping ``doomed`` via the normalized
    ``input_file_name`` probe (must resolve inside the fork's file set
    -- raise), rewrites them filtered into the branch's OWN
    ``dirname`` directory, verifies main's manifests moved by ZERO
    bytes, and returns the branch's file list (fork's untouched files
    + the rewrites).  The CALLER writes its manifest(s) -- only after
    its own remaining checks pass (the r15 ADVICE write-ordering
    discipline)."""
    from pyspark.sql import functions as F

    main_state = {
        v: (base / f"manifest_v{v}.json").read_text() for v in (1, 2, 3)
    }
    affected = {
        _uri_to_path(r.f)
        for r in spark.read.parquet(*v2)
        .filter(doomed)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    stray = affected - set(v2)
    if stray:
        raise RuntimeError(
            f"{label} probe left the v2 file set: {sorted(stray)[:3]}"
        )
    if not affected:
        raise RuntimeError(
            f"{label} takedown matched zero files -- the divergence"
            " would be vacuous"
        )
    bdir = base / dirname
    if not (bdir / "_SUCCESS").exists():
        (
            spark.read.parquet(*sorted(affected))
            .filter(~doomed)
            .write.mode("overwrite")
            .parquet(str(bdir))
        )
    bfiles = [f for f in v2 if f not in affected] + sorted(
        str(p) for p in bdir.glob("*.parquet")
    )
    # a branch commit may not move main by a single byte
    for v, txt in main_state.items():
        if (base / f"manifest_v{v}.json").read_text() != txt:
            raise RuntimeError(f"{label} commit rewrote main manifest v{v}")
    return bfiles


class SnapshotMergeConflict(RuntimeError):
    """Both refs copy-on-write-touched the same ancestor file -- the
    merge cannot pick a side without losing one ref's rewrite
    (Nessie/Iceberg refs raise exactly here)."""


def _merge_manifest(
    target: list[str], fork: list[str], branch: list[str]
) -> list[str]:
    """3-way manifest MERGE of ``branch`` into ``target``, both forked
    at ``fork`` -- pure set arithmetic on file lists (the entire merge
    at 100 TB: no data file is read or written).

    An ancestor file a ref "touched" is one present at the fork but
    absent from the ref's head (the COW delete replaced or dropped it).
    If both refs touched the same ancestor, raise
    ``SnapshotMergeConflict`` -- the merged table would otherwise
    silently lose one ref's rewrite of those rows.  Otherwise the
    merged manifest is target's files minus branch-touched ancestors,
    plus branch's private (post-fork) files.  When ``target == fork``
    (target never advanced) this degenerates to a FAST-FORWARD: the
    result is exactly ``branch`` -- same code path, no special case.
    """
    t, f_, b = set(target), set(fork), set(branch)
    target_touched = f_ - t
    branch_touched = f_ - b
    conflicts = sorted(target_touched & branch_touched)
    if conflicts:
        raise SnapshotMergeConflict(
            "merge conflict: both refs rewrote ancestor file(s) "
            f"{[c.rsplit('/', 1)[-1] for c in conflicts[:3]]}"
            f" (+{max(0, len(conflicts) - 3)} more)"
        )
    return sorted(
        [x for x in target if x not in branch_touched]
        + [x for x in branch if x not in f_]
    )


def snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch MERGE + fast-forward -- the second half of the
    git-for-data workflow ``snapshot_branch`` opened (VERDICT r14
    missing #1: branching without merging is half of Nessie/Iceberg
    refs; a staging-backfill user hits the merge on day one).

    A fresh ``branch2`` forks at v2 and COW-deletes a window at the
    TAIL of the id space: descending ranks [MG_LO, MG_HI) of the
    distinct ids ABOVE the append split, so branch2's ancestors are
    commit2 files whenever commit2 holds >= MG_LO distinct ids --
    rank-true under ANY id distribution (r15 review: an unrestricted
    descending-rank window could dip below a value-skewed split and
    collide with main's takedown).  Main's takedown is commit1-bounded
    whenever commit1 holds >= TD_HI_RANK distinct ids, so the refs
    touch disjoint commits under those two rank conditions; anything
    more pathological lands in the conflict raise, never a silent
    wrong merge.  Then:

    - 3-WAY MERGE into main: ``_merge_manifest(v3, v2, branch2)`` --
      main's chain + branch2's private rewrites, CONFLICT raise if
      both refs rewrote the same ancestor (``SnapshotMergeConflict``,
      pytest-driven with colliding refs); the v4 manifest is written
      only after the merged file list verifies against both parents.
    - FAST-FORWARD: merging branch2 into the fork point itself
      (``_merge_manifest(v2, v2, branch2)``) must yield exactly
      branch2's file set -- raise-enforced, same code path.

    The merge reads and writes ZERO data files -- it is manifest set
    arithmetic (lists bounded by file counts); only the v4/branch2
    manifests and branch2's one-time rewrite directory are created,
    and main's manifests are snapshot-asserted untouched.  Columns:
    (ref, n_docs, total_chars, min_doc, max_doc) for main@v3, branch2,
    merged@v4, and ff@fork+branch2 -- each read from ITS manifest's
    exact file list; the oracle recomputes all four from raw with the
    two rank-window predicates."""
    import json as _json

    from pyspark.sql import functions as F

    base, manifests = _snapshot_commits(spark, sf_dir)
    bmanifest = base / "manifest_branch2.json"
    mmanifest = base / "manifest_v4_merge.json"
    v2, v3 = manifests[2], manifests[3]
    if not mmanifest.exists():
        docs = read_parquet(spark, sf_dir, f"{sf_dir}/documents.parquet")
        split = docs.agg(
            F.expr("cast(floor(max(doc_id) / 2.0) as bigint)")
        ).collect()[0][0]
        # descending ranks among the ids ABOVE the split: commit2's id
        # domain, so the window is commit2-bounded regardless of how
        # ids are distributed around the value-based split
        ids2 = (
            docs.filter(F.col("doc_id") > split)
            .select("doc_id")
            .distinct()
        )
        mlo = _rank_bound_desc(ids2, SNAPSHOT_MG_LO_RANK)
        mhi = _rank_bound_desc(ids2, SNAPSHOT_MG_HI_RANK)
        doomed = (F.col("doc_id") >= mlo) & (F.col("doc_id") < mhi)
        bfiles = sorted(
            _commit_branch(spark, base, v2, doomed, "branch2", "merge-branch")
        )
        # the merge itself: pure manifest arithmetic, conflict-checked
        merged = _merge_manifest(v3, v2, bfiles)
        # fast-forward claim: merging into the unadvanced fork point
        # IS branch2 -- same code path, raise-enforced identity
        ff = _merge_manifest(v2, v2, bfiles)
        if set(ff) != set(bfiles):
            raise RuntimeError(
                "fast-forward merge did not reproduce the branch head"
            )
        # merged must contain main's private rewrites AND branch2's,
        # and nothing the refs deleted
        for req in set(v3) - set(v2):
            if req not in merged:
                raise RuntimeError(f"merge dropped main's rewrite {req}")
        for req in set(bfiles) - set(v2):
            if req not in merged:
                raise RuntimeError(f"merge dropped branch2's rewrite {req}")
        # manifests are written only after every check above passes
        # (main-chain byte-identity was raise-verified inside the
        # shared build-branch block, after its only disk write)
        bmanifest.write_text(_json.dumps(bfiles))
        mmanifest.write_text(_json.dumps(merged))

    bfiles = _json.loads(bmanifest.read_text())
    merged = _json.loads(mmanifest.read_text())
    # evidence is (re)recorded on EVERY call -- _snapshot_commits
    # replaces the store's record each invocation, so a cold-path-only
    # update vanished on warm reruns (r15 review)
    sc = scope(spark, sf_dir)
    sc["doc_snapshots"] = {
        **sc.get("doc_snapshots", {}),
        "n_merge_conflicts": 0,
        "n_branch2_private": len(set(bfiles) - set(v2)),
        "n_merged_files": len(merged),
        "merge_ff_ok": 1,
    }

    def _ref_stats(files: list[str], ref: str) -> DataFrame:
        return (
            spark.read.parquet(*files)
            .groupBy()
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .select(
                F.lit(ref).alias("ref"),
                "n_docs",
                "total_chars",
                "min_doc",
                "max_doc",
            )
        )

    # the ff row re-labels branch2's aggregate instead of re-scanning
    # its file list (the fast-forward identity set(ff) == set(bfiles)
    # is raise-verified at commit time, so the stats are equal by
    # construction; r15 review caught the duplicated scan in the
    # timed rep path)
    b2_both = _ref_stats(bfiles, "branch2").select(
        F.explode(
            F.array(F.lit("branch2"), F.lit("ff@fork+branch2"))
        ).alias("ref"),
        "n_docs",
        "total_chars",
        "min_doc",
        "max_doc",
    )
    return (
        _ref_stats(v3, "main@v3")
        .unionByName(_ref_stats(merged, "merged@v4"))
        .unionByName(b2_both)
    )


def snapshot_merge_oracle() -> str:
    return f"""
        WITH {_snapshot_bounds_sql(with_merge=True)}
        SELECT 'main@v3' AS ref, {_SNAP_STATS_SQL}
        FROM documents, bounds
        WHERE NOT (doc_id > bounds.lo AND doc_id <= bounds.hi)
        UNION ALL
        SELECT 'branch2' AS ref, {_SNAP_STATS_SQL}
        FROM documents, bounds
        WHERE NOT (doc_id >= bounds.mlo AND doc_id < bounds.mhi)
        UNION ALL
        SELECT 'merged@v4' AS ref, {_SNAP_STATS_SQL}
        FROM documents, bounds
        WHERE NOT (doc_id > bounds.lo AND doc_id <= bounds.hi)
          AND NOT (doc_id >= bounds.mlo AND doc_id < bounds.mhi)
        UNION ALL
        SELECT 'ff@fork+branch2' AS ref, {_SNAP_STATS_SQL}
        FROM documents, bounds
        WHERE NOT (doc_id >= bounds.mlo AND doc_id < bounds.mhi)
    """
