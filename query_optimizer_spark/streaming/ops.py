"""Streaming operators (see package docstring)."""

from __future__ import annotations

import contextlib
import json
import uuid
import warnings
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import (
    DataFrame,
    SparkSession,
    Window,
    functions as F,
    types as T,
)
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.temporal import SESSION_GAP_MS
from ..session import configure_runtime, normalize_ts
from ..sources import read_parquet, scoped_conf
from ..state import scope

def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source readStream over the events parquet with a proper
    timestamp column restored.

    The stream schema is taken from a batch read of the same file, so
    the reader tracks whichever parquet flavor the testdata ships
    (TIMESTAMP(NANOS)-as-INT64 or TIMESTAMP_NTZ) and ``normalize_ts``
    restores plain TimestampType either way.
    """
    configure_runtime(spark)
    stored_schema = read_parquet(spark, sf_dir, f"{sf_dir}/events.parquet").schema
    # file source requires a directory; glob-filter to the events file
    sdf = (
        spark.readStream.schema(stored_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .option("recursiveFileLookup", "false")
        .load(sf_dir)
    )
    return normalize_ts(sdf)


def _src_bytes(*paths) -> int:
    """Total on-disk bytes of a streaming source (file or directory of
    parquet) -- the input-size signal ``_stream_shuffle_partitions``
    scales the query's shuffle width by."""
    from pathlib import Path

    total = 0
    for p in paths:
        pth = Path(p)
        if pth.is_dir():
            total += sum(
                f.stat().st_size for f in pth.glob("**/*.parquet")
            )
        elif pth.exists():
            total += pth.stat().st_size
    return total


def _stream_shuffle_partitions(spark, input_bytes: int) -> int:
    """Scale-adaptive shuffle-partition count for ONE streaming query
    (optimization guide §2.2/§2.5 + §2 'make partitioning
    scale-adaptive').  Stateful streaming operators allocate one state
    store INSTANCE per shuffle partition (a stream-stream join
    allocates four) and pay per-instance version-commit overhead every
    micro-batch -- measured on join_stream at sf0.1: 128 instances
    carrying 79 final state rows, summed commitTimeMs ~69 s, 8.1 s
    wall; 4 partitions -> 3.0 s, identical results.  AQE cannot
    coalesce streaming shuffles, so the width must be derived from the
    INPUT SIZE rather than the session's batch-parallelism default:

        partitions = clamp(ceil(input_bytes / target), 2, session)

    target = $SPARK_GRAFT_STREAM_SHUFFLE_TARGET_BYTES (default 32 MB,
    the guide's 100 MB-1 GB post-shuffle partition advice scaled by
    the observed shuffle amplification of these pipelines).  At bench
    scale (MB inputs) this floors at 2; at production scale the
    session cap always wins, so cluster behavior is the configured
    parallelism, unchanged."""
    import os as _os

    target = int(
        _os.environ.get(
            "SPARK_GRAFT_STREAM_SHUFFLE_TARGET_BYTES", str(32 << 20)
        )
    )
    session = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    want = -(-max(input_bytes, 1) // target)  # ceil div
    return max(2, min(session, want))


def _stream_buckets(spark, input_bytes: int) -> int:
    """Bucket count for user-keyed stateful operators that carry their
    per-user state VECTORIZED inside bucket-level rows (guide §4: the
    Python boundary is paid per GROUP per micro-batch, so grouping the
    stateful op by ``pmod(user_id, B)`` instead of the raw user id
    turns |users| tiny per-user Python calls into B vectorized calls
    -- measured at sf0.1: 1,500 per-user calls ~2 ms each vs 16
    bucket calls).  B scales with the input like the shuffle width
    (8 buckets per state-store partition), so per-bucket state stays
    bounded as the corpus grows: production inputs push the shuffle
    width to the session cap and B grows with it.  Semantics are
    unchanged -- the bucket function applies the same per-user logic
    vectorized, pinned by the equivalence tests against the per-user
    reference implementations."""
    return 8 * _stream_shuffle_partitions(spark, input_bytes)


@contextlib.contextmanager
def _stream_width(spark, input_bytes):
    """Pin spark.sql.shuffle.partitions to the scale-adaptive width for
    the duration of one streaming query start (the query captures the
    value at planning time), restoring the session's prior setting
    after."""
    if input_bytes is None:
        yield
        return
    width = str(_stream_shuffle_partitions(spark, input_bytes))
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": width}):
        yield


def _capture_audit(q, spark, sf_dir: str, output_mode: str) -> None:
    """Record the last executed streaming query's plan and progress as the
    sf_dir's ``state`` record "stream_audit", for the plan audit
    (scripts/plan_audit.py reads it after running each stream_* op; the
    memory/parquet sink table itself carries no plan)."""
    import io

    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            q.explain(extended=False)
    except Exception:  # a zero-batch run has no lastExecution
        pass
    scope(spark, sf_dir)["stream_audit"] = {
        "output_mode": output_mode,
        "plan": buf.getvalue(),
        "progress": q.lastProgress,
    }


def _record_stream_feedback(q, store, op: str) -> None:
    """Harvest every micro-batch's progress into a FeedbackStore: the
    state operator's numRowsTotal (the streaming analog of a batch
    block's observed cardinality -- rows the operator actually holds),
    the summed per-batch numInputRows, and any named observed metrics
    the query attached via Dataset.observe() (e.g. the click-side row
    count -- the dimension cardinality the broadcast decision needs).
    Cumulative metrics recorded per batch converge on the final value;
    observe() counts sum across batches.  Best-effort like the batch
    scan harvest -- a missing metric degrades to no observation, never
    a wrong one.  ``recentProgress`` yields plain dicts on some PySpark
    builds and StreamingQueryProgress objects on others; the object
    form is normalized through its json() payload so the harvest never
    silently no-ops on a build where dict .get() is absent (r8
    ADVICE)."""
    try:
        input_rows = 0.0
        observed_sums: dict[str, float] = {}
        for prog in q.recentProgress:
            if not hasattr(prog, "get"):  # StreamingQueryProgress object
                prog = json.loads(prog.json())
            for src in prog.get("sources") or []:
                input_rows += src.get("numInputRows") or 0
            state_ops = prog.get("stateOperators") or []
            if state_ops:
                store.record_stream(
                    op, "state_rows_total",
                    float(state_ops[0].get("numRowsTotal") or 0),
                )
            for name, metrics in (prog.get("observedMetrics") or {}).items():
                # a pyspark Row in some versions, a plain dict in others
                if hasattr(metrics, "asDict"):
                    metrics = metrics.asDict()
                for col, val in (metrics or {}).items():
                    if isinstance(val, (int, float)):
                        key = f"{name}.{col}"
                        observed_sums[key] = observed_sums.get(key, 0.0) + val
        store.record_stream(op, "input_rows", input_rows)
        for key, val in observed_sums.items():
            store.record_stream(op, key, val)
    except Exception as exc:  # degrade to no observation, but say so
        warnings.warn(
            f"stream feedback harvest for {op!r} degraded to no "
            f"observation: {exc!r}",
            RuntimeWarning,
            stacklevel=2,
        )


def _run_to_memory(
    sdf, sf_dir: str, output_mode: str, store=None, op: str = "",
    input_bytes=None,
) -> DataFrame:
    spark = sdf.sparkSession
    name = f"stream_{uuid.uuid4().hex[:12]}"
    with _stream_width(spark, input_bytes):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    _capture_audit(q, spark, sf_dir, output_mode)
    if store is not None:
        _record_stream_feedback(q, store, op)
    return spark.table(name)


def hourly_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregate; 'complete' output mode so
    the final memory table carries every window (matching the batch
    twin exactly -- with 'append', windows newer than the final
    watermark would be withheld)."""
    sdf = stream_events(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run_to_memory(agg, sf_dir, "complete", input_bytes=_src_bytes(f"{sf_dir}/events.parquet"))


def hourly_counts_stream_oracle() -> str:
    return """
        SELECT date_trunc('hour', ts)::TIMESTAMP AS window_start, event_type,
               count(*) AS n_events, round(sum(value), 3) AS total_value
        FROM events
        GROUP BY 1, 2
    """


def sliding_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING-window aggregate (1 h windows hopping every
    15 min): each event lands in exactly 4 overlapping windows.  Same
    complete-mode memory sink as the tumbling variant."""
    sdf = stream_events(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run_to_memory(agg, sf_dir, "complete", input_bytes=_src_bytes(f"{sf_dir}/events.parquet"))


def sliding_counts_stream_oracle() -> str:
    # a 1h/15min sliding window containing ts starts at
    # floor_15min(ts) - j*15min for j in 0..3 (all four satisfy
    # start <= ts < start + 1h); Spark aligns hops to the epoch
    return """
        SELECT make_timestamp(((floor(epoch(ts) / 900) - j) * 900)::BIGINT
                              * 1000000) AS window_start,
               event_type, count(*) AS n_events,
               round(sum(value), 3) AS total_value
        FROM events, generate_series(0, 3) t(j)
        GROUP BY 1, 2
    """


def enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the static
    customer dimension on the user key (Spark re-reads / broadcasts the
    static side per micro-batch -- the standard enrichment shape; at
    100 TB the dimension would be a broadcast or bucketed table), then a
    running per-(segment, event_type) aggregate in complete mode."""
    sdf = stream_events(spark, sf_dir)
    dim = (
        read_parquet(spark, sf_dir, f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    agg = (
        sdf.join(dim, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
    )
    return _run_to_memory(agg, sf_dir, "complete", input_bytes=_src_bytes(f"{sf_dir}/events.parquet"))


def enrich_stream_oracle() -> str:
    return """
        SELECT c.c_mktsegment, e.event_type, count(*) AS n_events,
               round(sum(e.value), 3) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the source is unioned with itself (a
    duplicated firehose), then ``dropDuplicatesWithinWatermark`` on the
    business key -- unlike plain ``dropDuplicates`` on a non-event-time
    subset (whose state is NEVER evicted), this form drops key state
    once the watermark passes the event's time, so state stays bounded
    on an unbounded stream.  Duplicates here carry identical event
    times, so they always land inside the watermark window."""
    a = stream_events(spark, sf_dir)
    b = stream_events(spark, sf_dir)
    doubled = a.unionByName(b)
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    return _run_to_memory(deduped, sf_dir, "append", input_bytes=_src_bytes(f"{sf_dir}/events.parquet"))


def dedup_stream_oracle() -> str:
    return """
        SELECT event_id, user_id, event_type, value FROM events
    """


# --- stateful sessionization --------------------------------------------------

_SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.IntegerType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("end_ms", T.LongType()),
        T.StructField("session_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.IntegerType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("end_ms", T.LongType()),
        T.StructField("session_value", T.DoubleType()),
    ]
)


def _session_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: gap-based sessions per user.

    Emits every session CLOSED by a gap within/through this batch; the
    trailing open session stays in state (a live stream can never know
    it ended -- the batch oracle mirrors this by dropping each user's
    last session)."""
    import numpy as np

    (user_id,) = key
    if state.exists:
        n, start_ms, end_ms, val = state.get
    else:
        n, start_ms, end_ms, val = 0, None, None, 0.0
    out = []
    # a group larger than one Arrow chunk arrives as several frames with
    # NO cross-chunk time ordering -- concatenate and sort globally
    # before the gap scan, or sessions would merge/split incorrectly
    frames = [f for f in batches if len(f)]
    if frames:
        pdf = pd.concat(frames).sort_values(["ms", "event_id"])
        ms = pdf["ms"].to_numpy(dtype=np.int64)
        value = pdf["value"].to_numpy(dtype=np.float64)
        # vectorized gap detection; position 0 continues the state session
        # unless the carried end_ms is too old
        prev = np.empty_like(ms)
        prev[1:] = ms[:-1]
        prev[0] = end_ms if end_ms is not None else ms[0]
        boundary = (ms - prev) > SESSION_GAP_MS
        seg = np.cumsum(boundary)  # 0 = continuation of the state session
        for s in np.unique(seg):
            mask = seg == s
            seg_n = int(mask.sum())
            seg_start = int(ms[mask][0])
            seg_end = int(ms[mask][-1])
            seg_val = float(value[mask].sum())
            if s == 0 and start_ms is not None:
                n, val = n + seg_n, val + seg_val
                start_ms, end_ms = start_ms, seg_end
            else:
                if start_ms is not None:
                    out.append((user_id, n, start_ms, end_ms, round(val, 3)))
                n, start_ms, end_ms, val = seg_n, seg_start, seg_end, seg_val
    state.update((n, start_ms, end_ms, val))
    if out:  # yielding empty frames trips a pandas concat FutureWarning
        yield pd.DataFrame(
            out,
            columns=["user_id", "n_events", "start_ms", "end_ms", "session_value"],
        )


def sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator
    (applyInPandasWithState), the Spark-native replacement for engines'
    built-in SESSION windows when custom close logic is needed."""
    sdf = stream_events(spark, sf_dir).select(
        "user_id", "event_id", "value", F.expr("unix_millis(ts)").alias("ms")
    )
    sessions = sdf.groupBy("user_id").applyInPandasWithState(
        _session_fn,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(sessions, sf_dir, "append", input_bytes=_src_bytes(f"{sf_dir}/events.parquet"))


def sessionize_stream_oracle() -> str:
    """Batch sessions minus each user's final (still-open) session."""
    return f"""
        WITH e AS (
            SELECT user_id, event_id, value, epoch_ms(ts) AS ms FROM events
        ),
        flagged AS (
            SELECT *, CASE WHEN ms - lag(ms) OVER w > {SESSION_GAP_MS}
                           THEN 1 ELSE 0 END AS new_session
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
        ),
        numbered AS (
            SELECT *, sum(new_session) OVER
                (PARTITION BY user_id ORDER BY ms, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM flagged
        ),
        sessions AS (
            SELECT user_id, session_seq, CAST(count(*) AS INT) AS n_events,
                   min(ms) AS start_ms, max(ms) AS end_ms,
                   round(sum(value), 3) AS session_value
            FROM numbered
            GROUP BY user_id, session_seq
        )
        SELECT user_id, n_events, start_ms, end_ms, session_value
        FROM sessions
        WHERE session_seq < (SELECT max(s2.session_seq) FROM sessions s2
                             WHERE s2.user_id = sessions.user_id)
    """


def join_stream(
    spark: SparkSession, sf_dir: str, store=None
) -> DataFrame:
    """Watermarked stream-stream inner join: each purchase matched to
    the same user's clicks in the preceding hour.  With ``store``, each
    micro-batch's state-row and input-row metrics are recorded into the
    FeedbackStore (the streaming feedback bridge --
    feedback_broadcast_join plans from them).

    Both sides carry a 1 h watermark and the join condition bounds the
    event-time distance, so Spark can evict click state older than the
    purchase watermark minus the bound -- state stays O(window), not
    O(stream).  The lag is computed on integer micros (``unix_micros``)
    so the oracle twin (``epoch_us``) is exact, no boundary-counting
    semantics involved.  Inner-join matches are emitted as they seal, so
    append mode yields exactly the batch-join pairs.
    """
    clicks = (
        stream_events(spark, sf_dir)
        .filter("event_type = 'click'")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    if store is not None:
        # Dataset.observe: the per-micro-batch click-side row count,
        # surfaced through observedMetrics in the query progress --
        # the dimension-side cardinality feedback_broadcast_join's
        # strategy decision consumes (state numRowsTotal alone
        # understates the dimension: watermark eviction has already
        # dropped sealed rows from it)
        clicks = clicks.observe("click_side", F.count(F.lit(1)).alias("n"))
    clicks = clicks.withWatermark("click_ts", "1 hour")
    purchases = (
        stream_events(spark, sf_dir)
        .filter("event_type = 'purchase'")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "user_id = click_user AND "
            "click_ts BETWEEN purchase_ts - INTERVAL 1 HOUR AND purchase_ts"
        ),
        "inner",
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        F.expr("unix_micros(purchase_ts) - unix_micros(click_ts)").alias(
            "lag_us"
        ),
    )
    return _run_to_memory(
        joined, sf_dir, "append", store=store, op="stream_join", input_bytes=_src_bytes(f"{sf_dir}/events.parquet")
    )


# assumed bytes/row for the feedback broadcast decision: the 3-column
# (long, long, timestamp) UnsafeRow is 32 B, and a BroadcastHashedRelation
# carries ~2-3x that in hash-table structure -- 80 B/row budgets the
# relation's true executor-memory footprint, so the decision flips to
# shuffle well before a broadcast OOM would
_DIM_ROW_BYTES = 80


def feedback_broadcast_join(
    spark: SparkSession, sf_dir: str, store=None
) -> DataFrame:
    """The streaming feedback bridge, end to end: a RECORDING pass runs
    the stream-stream join and harvests its per-micro-batch metrics
    into the FeedbackStore -- stateOperators numRowsTotal (the rows the
    join actually buffered, the streaming analog of a batch block's
    observed cardinality) plus a Dataset.observe() count of the click
    side (the full dimension cardinality; retained state alone
    understates it because watermark eviction already dropped sealed
    rows).  The WARM pass then re-plans the same join stream-STATIC,
    and the dimension (click) side is broadcast iff the OBSERVED row
    count says it fits under spark.sql.autoBroadcastJoinThreshold --
    Catalyst's own size estimate never enters the decision.  At 100 TB this is how a
    long-running pipeline right-sizes its enrichment joins: the first
    execution's state metrics, kept in the query-history store, decide
    broadcast-vs-shuffle for every later run instead of a static guess
    that goes stale as the dimension grows.

    Feedback may change the STRATEGY, never the answer: the output is
    exactly join_stream's (purchase_id, click_id, user_id, lag_us) and
    hash-matches the same DuckDB oracle -- the driver gate proves it.
    The chosen strategy is observable in the "stream_audit" state record
    (the warm plan shows BroadcastHashJoin when the observed count
    fits).  The phase split of the run is the "feedback_join_split"
    record (bench.py copies it into the side artifact): record_sec is
    the embedded cold stream-stream recording pass -- the expensive
    slice a real workload pays once -- and the remainder is the warm
    stream-static execution; 'broadcast' is the strategy the observed
    rows chose."""
    from ..oracle import FeedbackStore
    from ..session import events_df

    import time as _time

    if store is None:
        store = FeedbackStore()
    t0 = _time.monotonic()
    if store.stream_observation("stream_join", "state_rows_total") is None:
        # recording pass: the cold run a real workload needed anyway
        join_stream(spark, sf_dir, store=store)
    record_sec = round(_time.monotonic() - t0, 4)
    # the click-side observe() count is the dimension cardinality; the
    # retained state rows are the fallback for a store recorded by an
    # observer-less run (still an observed lower bound, never a guess)
    observed = store.stream_observation("stream_join", "click_side.n")
    if observed is None:
        observed = store.stream_observation(
            "stream_join", "state_rows_total"
        )
    clicks = events_df(spark, sf_dir).filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    threshold = _broadcast_threshold_bytes(spark)
    broadcast = bool(
        observed is not None and observed * _DIM_ROW_BYTES <= threshold
    )
    scope(spark, sf_dir)["feedback_join_split"] = dict(
        record_sec=record_sec, broadcast=broadcast
    )
    if broadcast:
        clicks = F.broadcast(clicks)
    else:
        # feedback says the dimension does NOT fit: pin the shuffle
        # strategy explicitly, or Catalyst's own (stale) size estimate
        # would re-broadcast behind the decision's back
        clicks = clicks.hint("shuffle_hash")
    purchases = (
        stream_events(spark, sf_dir)
        .filter("event_type = 'purchase'")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "user_id = click_user AND "
            "click_ts BETWEEN purchase_ts - INTERVAL 1 HOUR AND purchase_ts"
        ),
        "inner",
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        F.expr("unix_micros(purchase_ts) - unix_micros(click_ts)").alias(
            "lag_us"
        ),
    )
    return _run_to_memory(joined, sf_dir, "append", input_bytes=_src_bytes(f"{sf_dir}/events.parquet"))


def _broadcast_threshold_bytes(spark: SparkSession) -> int:
    """spark.sql.autoBroadcastJoinThreshold as plain bytes (the conf
    accepts 10485760, '10485760b', '10MB', or -1 for disabled)."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    if raw.endswith("b"):
        raw = raw[:-1]
    mult = 1
    if raw and raw[-1] in units:
        mult = units[raw[-1]]
        raw = raw[:-1]
    try:
        val = int(raw) * mult
    except ValueError:
        val = 10 << 20
    return val if val > 0 else 0


def feedback_broadcast_join_oracle() -> str:
    return join_stream_oracle()


def join_stream_oracle() -> str:
    return """
        SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
        FROM events p, events c
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
          AND p.user_id = c.user_id
          AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """


def sink_parquet_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable streaming sink: the watermark-deduped stream written to a
    checkpointed PARQUET sink (exactly-once file commit via the write-
    ahead commit log), then read back as a batch table -- the sink-side
    surface the memory-sink ops don't exercise.  At scale this is the
    landing-zone pattern: checkpoint + _spark_metadata make restarts
    idempotent, and the committed files are immediately queryable.

    Dedup (not a windowed agg) feeds the sink so the oracle needs no
    watermark-boundary arithmetic: every event is emitted exactly once.
    """
    import os
    import shutil
    import uuid
    from pathlib import Path

    from ..sources import DEFAULT_WAREHOUSE

    # run-unique path: concurrent runs (bench + gate, two sessions) must
    # never delete each other's in-flight checkpoint/output.  Only the
    # RESULT ROWS need Date-free determinism, not the temp path, so a
    # uuid is fine here.
    tag = f"{os.getpid()}_{uuid.uuid4().hex[:8]}"
    out = f"{DEFAULT_WAREHOUSE}/stream_sink_{tag}"
    ckpt = f"{out}_ckpt"
    Path(DEFAULT_WAREHOUSE).mkdir(exist_ok=True)

    a = stream_events(spark, sf_dir)
    b = stream_events(spark, sf_dir)
    deduped = (
        a.unionByName(b)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    with _stream_width(
        spark, _src_bytes(f"{sf_dir}/events.parquet")
    ):
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    _capture_audit(q, spark, sf_dir, "append")
    # materialize the read-back into the block cache, then remove the
    # sink + checkpoint dirs so completed runs leave nothing on disk
    # (the returned DataFrame must stay collectable after cleanup)
    df = spark.read.parquet(out).cache()
    df.count()
    for p in (out, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    return df


def sink_parquet_stream_oracle() -> str:
    return dedup_stream_oracle()


# --- streaming as-of join (stateful carry-forward) ---------------------------

_ASOF_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("purchase_value", T.DoubleType()),
        T.StructField("ms_since_purchase", T.LongType()),
    ]
)

_ASOF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("p_ms", T.LongType()),
        T.StructField("p_value", T.DoubleType()),
        # the carried purchase's REAL event_id: the virtual row it
        # becomes in the next batch must sort by the same
        # (ms, is_click, event_id) total order as within-batch rows, so
        # a cross-batch equal-ms tie resolves identically to the batch
        # operator (r7 ADVICE: a sentinel -1 id always LOST the tie,
        # even when the carried purchase's id was higher)
        T.StructField("p_event_id", T.LongType()),
    ]
)


def _asof_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user carry-forward state: the latest purchase (ms, value)
    survives across micro-batches, so every click joins to the most
    recent prior-or-equal purchase no matter which batch carried it.
    State is ONE row per user -- bounded by the user population, the
    smallest state any as-of implementation can hold.  Within a batch
    the carry is a vectorized pandas ffill over the (ms, is_click,
    event_id) order -- the SAME total order as the batch operator, so
    equal-timestamp ties resolve identically."""
    import numpy as np

    (user_id,) = key
    p_ms, p_value, p_eid = (
        state.get if state.exists else (None, None, None)
    )
    frames = [f for f in batches if len(f)]
    if frames:
        # The carried purchase enters the batch as a VIRTUAL row at its
        # real (ms, event_id): the ffill then picks the max-ms prior
        # purchase even when a late file delivers purchases OLDER than
        # the carried one, and the post-sort last purchase -- which
        # becomes the new state -- can never regress below the carried
        # ms (r6 ADVICE: the previous unconditional overwrite assumed
        # time-ordered batches without guarding it).  The virtual row
        # carries the purchase's REAL event_id so a cross-batch
        # equal-ms tie resolves by the same (ms, is_click, event_id)
        # total order as within-batch ties (r7 ADVICE: a sentinel -1
        # made the later batch's real purchase always win).
        if p_ms is not None:
            frames.append(
                pd.DataFrame(
                    {
                        "event_id": [p_eid],
                        "user_id": [user_id],
                        "ms": [p_ms],
                        "is_click": [0],
                        "value": [p_value],
                    }
                )
            )
        pdf = (
            pd.concat(frames, ignore_index=True)
            .sort_values(["ms", "is_click", "event_id"])
        )
        is_p = pdf["is_click"].to_numpy() == 0
        pm = pd.Series(
            np.where(is_p, pdf["ms"], np.nan), index=pdf.index
        ).ffill()
        pv = pd.Series(
            np.where(is_p, pdf["value"], np.nan), index=pdf.index
        ).ffill()
        mask = (pdf["is_click"].to_numpy() == 1) & pm.notna().to_numpy()
        if mask.any():
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"].to_numpy()[mask],
                    "user_id": user_id,
                    "purchase_value": pv.to_numpy()[mask],
                    "ms_since_purchase": (
                        pdf["ms"].to_numpy()[mask] - pm.to_numpy()[mask]
                    ).astype("int64"),
                }
            )
        if is_p.any():
            last = np.flatnonzero(is_p)[-1]
            p_ms = int(pdf["ms"].iloc[last])
            p_value = float(pdf["value"].iloc[last])
            p_eid = int(pdf["event_id"].iloc[last])
    state.update((p_ms, p_value, p_eid))


_ASOF_BSTATE_SCHEMA = T.StructType(
    [
        T.StructField("users", T.ArrayType(T.LongType())),
        T.StructField("p_ms", T.ArrayType(T.LongType())),
        T.StructField("p_value", T.ArrayType(T.DoubleType())),
        T.StructField("p_eid", T.ArrayType(T.LongType())),
    ]
)


def _asof_fn_bucketed(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Bucket-level vectorized twin of ``_asof_fn`` (the per-user
    reference implementation the unit tests pin): ONE Python call per
    (bucket, micro-batch) carrying every resident user's latest
    purchase in parallel arrays.  The semantics are identical row for
    row -- the same (user_id, ms, is_click, event_id) total order, the
    same virtual-row carry with the purchase's REAL event_id, the same
    per-user ffill (grouped, so fills never leak across users) --
    pinned by ``test_stream_asof_bucketed_matches_per_user``."""
    import numpy as np

    su, sm, sv, se = (
        state.get if state.exists else ([], [], [], [])
    )
    frames = [f for f in batches if len(f)]
    if frames:
        if len(su):
            # every carried purchase re-enters as a virtual row at its
            # real (ms, event_id) -- same guarantees as _asof_fn
            frames.append(
                pd.DataFrame(
                    {
                        "event_id": np.asarray(se, dtype=np.int64),
                        "user_id": np.asarray(su, dtype=np.int64),
                        "ms": np.asarray(sm, dtype=np.int64),
                        "is_click": np.zeros(len(su), dtype=np.int64),
                        "value": np.asarray(sv, dtype=np.float64),
                    }
                )
            )
        pdf = pd.concat(frames, ignore_index=True).sort_values(
            ["user_id", "ms", "is_click", "event_id"],
            ignore_index=True,
        )
        users = pdf["user_id"]
        is_p = pdf["is_click"].to_numpy() == 0
        pm = (
            pd.Series(np.where(is_p, pdf["ms"], np.nan), index=pdf.index)
            .groupby(users)
            .ffill()
        )
        pv = (
            pd.Series(np.where(is_p, pdf["value"], np.nan), index=pdf.index)
            .groupby(users)
            .ffill()
        )
        mask = (~is_p) & pm.notna().to_numpy()
        if mask.any():
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"].to_numpy()[mask],
                    "user_id": pdf["user_id"].to_numpy()[mask],
                    "purchase_value": pv.to_numpy()[mask],
                    "ms_since_purchase": (
                        pdf["ms"].to_numpy()[mask] - pm.to_numpy()[mask]
                    ).astype("int64"),
                }
            )
        # new state: the LAST purchase row per user in the total order
        # (carried virtual rows participate, so state never regresses)
        last = pdf[is_p].groupby("user_id", sort=True).tail(1)
        su = last["user_id"].astype("int64").tolist()
        sm = last["ms"].astype("int64").tolist()
        sv = last["value"].astype("float64").tolist()
        se = last["event_id"].astype("int64").tolist()
    state.update((list(su), list(sm), list(sv), list(se)))


def asof_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming as-of join: each click enriched with the user's most
    recent prior-or-equal purchase, as a custom stateful operator
    (``applyInPandasWithState``) -- the streaming twin of the batch
    ``temporal.asof_join`` and the shape a real-time feature store
    computes (latest-value-as-of-event).  Spark has no native streaming
    as-of; the carry-forward state is one row per user, strictly
    smaller than a stream-stream join's dual watermark buffers.

    Batch equivalence: micro-batches from the file source arrive in
    time order, state carries the latest purchase across them, and the
    within-batch order matches the batch operator's window sort -- so
    the oracle is the SAME DuckDB ASOF JOIN the batch op checks
    against."""
    input_bytes = _src_bytes(f"{sf_dir}/events.parquet")
    n_buckets = _stream_buckets(spark, input_bytes)
    sdf = stream_events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        F.pmod("user_id", F.lit(n_buckets)).alias("bucket"),
        "event_id",
        "user_id",
        F.expr("unix_millis(ts)").alias("ms"),
        F.when(F.col("event_type") == "click", 1).otherwise(0)
        .alias("is_click"),
        "value",
    )
    # keyed by user BUCKET, state vectorized across the bucket's users
    # (guide §4: the Python boundary is per group per micro-batch --
    # _stream_buckets) -- semantics pinned to the per-user _asof_fn by
    # test_stream_asof_bucketed_matches_per_user
    out = sdf.groupBy("bucket").applyInPandasWithState(
        _asof_fn_bucketed,
        outputStructType=_ASOF_OUT_SCHEMA,
        stateStructType=_ASOF_BSTATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(out, sf_dir, "append", input_bytes=input_bytes)


def asof_stream_oracle() -> str:
    from ..functions.temporal import asof_join_oracle

    return asof_join_oracle()


# --- streaming HLL distinct-user sketch ---------------------------------------

_HLL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("idx", T.IntegerType()),
        T.StructField("r", T.IntegerType()),
    ]
)
# the whole per-key state is ONE register vector: 256 small ints
_HLL_STATE_SCHEMA = T.StructType(
    [T.StructField("regs", T.ArrayType(T.IntegerType()))]
)


def _hll_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Merge this batch's (idx, rank) maxima into the carried register
    vector and emit the CURRENT non-zero registers.  Registers grow
    monotonically, so re-emissions across micro-batches collapse under
    the downstream max(r) -- the op is batch-count-agnostic."""
    import numpy as np

    from ..functions.text import HLL_M

    (event_type,) = key
    if state.exists:
        (regs_list,) = state.get
        regs = np.asarray(regs_list, dtype=np.int64)
    else:
        regs = np.zeros(HLL_M, dtype=np.int64)
    for pdf in batches:
        if not len(pdf):
            continue
        np.maximum.at(
            regs,
            pdf["idx"].to_numpy(np.int64),
            pdf["rank"].to_numpy(np.int64),
        )
    state.update((regs.astype("int32").tolist(),))
    nz = np.nonzero(regs)[0]
    if len(nz):
        yield pd.DataFrame(
            {
                "event_type": event_type,
                "idx": nz.astype("int32"),
                "r": regs[nz].astype("int32"),
            }
        )


def hll_users_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous distinct-user count per event_type as a streaming HLL
    sketch: the `applyInPandasWithState` state is ONE 256-register
    vector per key -- the exact thing COUNT(DISTINCT) cannot be in a
    stream (its state grows with the user set; the sketch's never
    does).

    The division of labor keeps every step gate-exact: the md5-derived
    60-bit hash, register index, and pure-integer geometric rank are
    computed JVM-side BEFORE the stateful op (the same expressions as
    batch ``text.hll_vocab``); the Python state function only does
    integer max-merge (`np.maximum.at`); and the estimate itself is
    finished BATCH-side on the tiny sink table with the identical
    Spark SQL float expressions the batch sketch gate-proved -- no
    Python float math anywhere.  The DuckDB oracle recomputes the
    sketch from the raw user_id column relationally.

    At 100 TB: state is |event_types| x 256 B regardless of user
    count, every micro-batch shuffles only its (key, idx) partial
    maxima (max is the map-side combiner), and the same sketch rows
    merge across days/streams by construction (text_hll_rollup
    measures that property)."""
    from ..functions.text import HLL_M, HLL_RANK_MAX, _HLL_CORRECTED

    h = "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)"
    sdf = (
        stream_events(spark, sf_dir)
        .select(
            "event_type",
            F.expr(f"{h} % {HLL_M}").alias("idx"),
            F.expr(f"{h} div {HLL_M}").alias("w"),
        )
        .select(
            "event_type",
            "idx",
            F.expr(
                f"case when w = 0 then {HLL_RANK_MAX} else"
                " cast(bit_count((w & -w) - 1) + 1 as int) end"
            ).alias("rank"),
        )
    )
    regs = sdf.groupBy("event_type").applyInPandasWithState(
        _hll_fn,
        outputStructType=_HLL_OUT_SCHEMA,
        stateStructType=_HLL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    tbl = _run_to_memory(regs, sf_dir, "append", input_bytes=_src_bytes(f"{sf_dir}/events.parquet"))
    # batch finish on the sink table (a few hundred rows): collapse
    # multi-batch re-emissions, then estimate.  The sink holds only
    # NON-ZERO registers, so no zero-fill grid is needed: each of the
    # (m - count) zero registers contributes exactly 2^RANK_MAX to the
    # harmonic sum -- added as one integer term, keeping the whole sum
    # exact until the single cast to double
    stats = (
        tbl.groupBy("event_type", "idx")
        .agg(F.max("r").alias("r"))
        .groupBy("event_type")
        .agg(
            F.expr(
                f"cast(sum(shiftleft(cast(1 as bigint), {HLL_RANK_MAX} - r))"
                f" + ({HLL_M} - count(*))"
                f" * shiftleft(cast(1 as bigint), {HLL_RANK_MAX})"
                " as double)"
            ).alias("sv"),
            F.expr(f"cast({HLL_M} - count(*) as int)").alias("zeros"),
        )
    )
    return stats.select(
        "event_type",
        F.lit(HLL_M).cast("int").alias("m"),
        (F.lit(HLL_M) - F.col("zeros")).cast("int").alias("used_registers"),
        F.expr(f"round({_HLL_CORRECTED}, 2)").alias("hll_users_estimate"),
    )


def hll_users_stream_oracle() -> str:
    from ..functions.text import HLL_M, HLL_RANK_MAX, _HLL_CORRECTED

    return f"""
        WITH ranked AS (
            SELECT event_type, h % {HLL_M} AS idx,
                   CASE WHEN h // {HLL_M} = 0 THEN {HLL_RANK_MAX}
                        ELSE CAST(bit_count(((h // {HLL_M})
                                   & -(h // {HLL_M})) - 1) + 1 AS INT)
                   END AS rank
            FROM (
                SELECT event_type,
                       CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                                1, 15)) AS BIGINT) AS h
                FROM events
            )
        ),
        agg AS (
            SELECT event_type, idx, max(rank) AS r FROM ranked GROUP BY 1, 2
        ),
        grid AS (
            SELECT t.event_type, i.idx
            FROM (SELECT DISTINCT event_type FROM events) t,
                 (SELECT unnest(range({HLL_M})) AS idx) i
        ),
        stats AS (
            SELECT g.event_type,
                   CAST(sum(CAST(1 AS BIGINT)
                            << ({HLL_RANK_MAX} - r)) AS DOUBLE) AS sv,
                   CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS INT)
                       AS zeros
            FROM (SELECT g0.event_type, coalesce(a.r, 0) AS r
                  FROM grid g0 LEFT JOIN agg a
                    ON a.event_type = g0.event_type AND a.idx = g0.idx) g
            GROUP BY g.event_type
        )
        SELECT event_type, CAST({HLL_M} AS INT) AS m,
               CAST({HLL_M} - zeros AS INT) AS used_registers,
               round({_HLL_CORRECTED}, 2) AS hll_users_estimate
        FROM stats
    """


# --- streaming bounded-state quantile sketch -----------------------------------

_QSK_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("b", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
    ]
)
# the whole per-key state: one count per power-of-two bucket
_QSK_STATE_SCHEMA = T.StructType(
    [T.StructField("counts", T.ArrayType(T.LongType()))]
)


def _qsk_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Add this batch's bucket counts into the carried histogram and
    emit the CURRENT non-zero buckets.  Counts grow monotonically, so
    re-emissions across micro-batches collapse under the downstream
    max(cnt) -- the op is batch-count-agnostic, like the HLL's
    register max."""
    import numpy as np

    from ..functions.temporal import QSK_BITS

    (event_type,) = key
    if state.exists:
        (counts_list,) = state.get
        counts = np.asarray(counts_list, dtype=np.int64)
    else:
        counts = np.zeros(QSK_BITS + 1, dtype=np.int64)
    for pdf in batches:
        if not len(pdf):
            continue
        np.add.at(counts, pdf["b"].to_numpy(np.int64), 1)
    state.update((counts.tolist(),))
    nz = np.nonzero(counts)[0]
    if len(nz):
        yield pd.DataFrame(
            {
                "event_type": event_type,
                "b": nz.astype("int32"),
                "cnt": counts[nz],
            }
        )


def quantile_sketch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous per-type value quantiles from the bounded-state
    power-of-two histogram -- the streaming leg of the mergeable-
    sketch trio (streaming HLL = distinct, this = distribution).  The
    ``applyInPandasWithState`` state is ONE <= QSK_BITS+1 count vector
    per event_type (~328 B), never growing with the value domain --
    the thing a streaming exact quantile cannot be.

    Division of labor mirrors ``stream_hll_users`` (the gate-proved
    split): the integer-comparison bucket index is computed JVM-side
    BEFORE the stateful op (the same ``_QSK_BUCKET`` expression the
    batch sketch gate-proved -- no float log anywhere); the Python
    state function only does integer count addition (``np.add.at``);
    and the CDF walk runs BATCH-side on the tiny sink table with the
    identical Spark SQL expressions as ``evt_quantile_sketch``.  The
    DuckDB oracle recomputes the histogram from raw values
    relationally.

    At 100 TB: state is |event_types| x 328 B forever, each
    micro-batch shuffles only its (key, bucket) partials, and the same
    count vectors merge across streams/days by addition --
    ``evt_quantile_rollup`` measures exactly that property batch-side."""
    from ..functions.temporal import _QSK_BUCKET

    sdf = stream_events(spark, sf_dir).select(
        "event_type",
        F.expr("cast(round(value * 100, 0) as bigint)").alias("c"),
    ).select("event_type", F.expr(_QSK_BUCKET).cast("int").alias("b"))
    counts = sdf.groupBy("event_type").applyInPandasWithState(
        _qsk_fn,
        outputStructType=_QSK_OUT_SCHEMA,
        stateStructType=_QSK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    tbl = _run_to_memory(counts, sf_dir, "append", input_bytes=_src_bytes(f"{sf_dir}/events.parquet"))
    # batch finish on the sink table: collapse multi-batch re-emissions
    # (counts are monotone -> max = final), then the CDF walk
    hist = tbl.groupBy("event_type", "b").agg(F.max("cnt").alias("cnt"))
    wb = Window.partitionBy("event_type").orderBy("b")
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(wb.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy("event_type")))
    from ..functions.temporal import _qsk_est_cols

    return cum.groupBy("event_type").agg(
        F.max("n").cast("int").alias("n_events"), *_qsk_est_cols()
    )


def quantile_sketch_stream_oracle() -> str:
    from ..functions.temporal import _QSK_BUCKET, _qsk_est_sql

    sk_cols = _qsk_est_sql()
    return f"""
        WITH cents AS (
            SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
            FROM events
        ),
        hist AS (
            SELECT event_type, {_QSK_BUCKET} AS b, count(*) AS cnt
            FROM cents GROUP BY 1, 2
        ),
        cum AS (
            SELECT event_type, b, cnt,
                   sum(cnt) OVER (PARTITION BY event_type ORDER BY b
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY event_type) AS n
            FROM hist
        )
        SELECT event_type, CAST(max(n) AS INT) AS n_events, {sk_cols}
        FROM cum GROUP BY event_type
    """


def incremental_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING leg of the incremental-ingest dedup loop (r11;
    batch legs: ``dedup.incremental_minhash_pairs`` probe +
    ``dedup.index_commit_stats`` commit): newly arriving documents are
    near-dup-checked against the STORED corpus band index as they
    land, corpus signatures never recomputed.

    Shape: file-source readStream over the batch slice (doc_id <
    INC_BATCH_N -- the same deterministic split the batch legs use) ->
    the shared Arrow signature UDF + band explode run PER MICRO-BATCH
    (map-side, stateless) -> STREAM-STATIC inner join against the
    stored index on (band, key) -- stateless by construction, the
    static side re-resolved per micro-batch exactly as a production
    enrichment join re-reads its dimension (at 100 TB the index side
    is the bucketed/broadcast table; the per-batch shard-pruned read
    of the batch leg trades off against continuous arrival here) ->
    the signature-match score -> one streaming aggregation collapsing
    multi-band collisions (state is bounded by the LIVE near-dup pair
    count, not the corpus).

    Emits exactly ``incremental_minhash_pairs``'s answer -- (doc_a
    existing, doc_b new, est_jaccard >= threshold) -- and shares its
    DuckDB oracle: the stream, the batch probe, and the raw-text
    recompute must all agree hash-exactly."""
    from ..functions.constants import (
        INC_BATCH_N,
        MINHASH_K,
        MINHASH_THRESHOLD,
    )
    from ..functions.dedup import (
        _band_rows,
        _ensure_inc_index,
        _signatures_of,
    )

    configure_runtime(spark)
    idx_path, _, _ = _ensure_inc_index(spark, sf_dir)

    stored_schema = read_parquet(spark, sf_dir, f"{sf_dir}/documents.parquet").schema
    docs = (
        spark.readStream.schema(stored_schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .option("recursiveFileLookup", "false")
        .load(sf_dir)
        .filter(F.col("doc_id") < INC_BATCH_N)
    )
    batch_bands = _band_rows(_signatures_of(docs), keep_sig=True).select(
        F.col("doc_id").alias("doc_b"),
        "band",
        "key",
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(MINHASH_K)],
    )

    idx = (
        read_parquet(spark, sf_dir, idx_path)
        # corpus-side rows only: commit-invariant, like the batch probe
        .filter(F.col("doc_id") >= INC_BATCH_N)
        .select(
            F.col("doc_id").alias("doc_a"),
            "band",
            "key",
            *[f"m{i}" for i in range(MINHASH_K)],
        )
    )
    matches = sum(
        F.when(F.col(f"m{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    )
    scored = (
        batch_bands.join(idx, ["band", "key"])
        .select(
            "doc_a",
            "doc_b",
            F.round(matches / F.lit(float(MINHASH_K)), 6).alias("est"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.max("est").alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= MINHASH_THRESHOLD)
    )
    return _run_to_memory(scored, sf_dir, "complete", input_bytes=_src_bytes(f"{sf_dir}/documents.parquet"))


def incremental_dedup_stream_oracle() -> str:
    """Identical answer to the batch probe by construction."""
    from ..functions.dedup import incremental_minhash_oracle

    return incremental_minhash_oracle()


# --- streaming KMV distinct sketch -------------------------------------------

_KMV_OUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("h", T.LongType()),
    ]
)
# the whole per-key state is the K smallest distinct hashes: K int64s
_KMV_STATE_SCHEMA = T.StructType(
    [T.StructField("mins", T.ArrayType(T.LongType()))]
)


def _kmv_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Merge this batch's hashes into the carried K-minimum set and
    emit the CURRENT sketch values.  The K-min set is a commutative,
    idempotent merge (sorted-unique, keep K smallest), and every value
    that belongs to the FINAL sketch enters the state the batch it
    arrives (it is smaller than any theta it will ever see), so the
    K smallest over ALL emissions equal the final sketch exactly --
    the op is batch-count- and arrival-order-agnostic."""
    import numpy as np

    from ..functions.constants import KMV_K

    (source,) = key
    parts = (
        [np.asarray(state.get[0], dtype=np.int64)]
        if state.exists
        else []
    )
    for pdf in batches:
        if len(pdf):
            parts.append(pdf["h"].to_numpy(np.int64))
    if not parts:
        return
    merged = np.unique(np.concatenate(parts))[:KMV_K]
    state.update((merged.tolist(),))
    yield pd.DataFrame({"source": source, "h": merged})


def kmv_distinct_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous per-source distinct-SHINGLE estimate as a streaming
    KMV (k-minimum-values / theta) sketch -- the KMV family's streaming
    leg (direct: ``text.kmv_source_overlap``; merge proof:
    ``text.kmv_rollup``), and KMV's other classic read-out: distinct
    count = (K-1) * 2^32 / theta, where theta is the K-th smallest
    32-bit hash (Bar-Yossef et al. 2002).  State per source is K int64s
    FOREVER -- the thing COUNT(DISTINCT) over a stream cannot be.

    Division of labor (the streaming-HLL discipline, gate-exact at
    every step): shingling and the 32-bit md5-derived hash run
    JVM-side BEFORE the stateful op (the same expressions as the batch
    sketch); the Python state function only does sorted-unique
    keep-K-smallest integer merges; the estimate is finished
    BATCH-side on the tiny sink table with exact-integer arithmetic --
    (K-1)*2^32 < 2^53 is float-exact and the single division is
    correctly-rounded IEEE on both engines.  The DuckDB oracle
    recomputes the sketch from raw text relationally.

    At 100 TB: state is |sources| x K ints regardless of corpus size,
    each micro-batch ships only its per-source hash rows, and the
    emitted sketch rows merge across days/streams by construction
    (``text_kmv_rollup`` measures exactly that merge)."""
    from ..functions.constants import KMV_K, MINHASH_SHINGLE
    from ..functions.dedup import HASH32_SPARK
    from ..functions.text import TOKS, _KMV_SHINGLES
    from ..functions.text import _kmv_topk

    configure_runtime(spark)
    stored_schema = read_parquet(spark, sf_dir, f"{sf_dir}/documents.parquet").schema
    docs = (
        spark.readStream.schema(stored_schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .option("recursiveFileLookup", "false")
        .load(sf_dir)
    )
    h32 = HASH32_SPARK.format(e="tok")
    rows = (
        docs.select("source", F.expr(TOKS).alias("toks"))
        .filter(F.expr(f"size(toks) >= {MINHASH_SHINGLE}"))
        .select("source", F.explode(F.expr(_KMV_SHINGLES)).alias("tok"))
        .select("source", F.expr(h32).alias("h"))
    )
    sketch = rows.groupBy("source").applyInPandasWithState(
        _kmv_fn,
        outputStructType=_KMV_OUT_SCHEMA,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    tbl = _run_to_memory(sketch, sf_dir, "append", input_bytes=_src_bytes(f"{sf_dir}/documents.parquet"))
    # batch finish on the sink table: collapse multi-batch emissions to
    # the K smallest per source (== the final state, see _kmv_fn), then
    # the theta estimator.  (K-1) * 2^32 is exact in a double; when a
    # source has fewer than K distinct shingles the sketch IS the set
    # and the count is exact.
    final = _kmv_topk(tbl.select("source", "h").distinct(), ["source"])
    return (
        final.groupBy("source")
        .agg(
            F.count("*").alias("k_long"),
            F.max("h").alias("theta_h"),
        )
        .select(
            "source",
            F.col("k_long").cast("int").alias("k_used"),
            "theta_h",
            F.round(
                F.when(
                    F.col("k_long") < KMV_K,
                    F.col("k_long").cast("double"),
                ).otherwise(
                    F.lit(float((KMV_K - 1) * 4294967296))
                    / F.col("theta_h")
                ),
                2,
            ).alias("kmv_distinct_est"),
        )
    )


def kmv_distinct_stream_oracle() -> str:
    """Relational recompute of the per-source KMV sketch from raw text
    (same shingling, same 32-bit hash, same K, same theta read-out)."""
    from ..functions.constants import KMV_K, MINHASH_SHINGLE, sql_hash32, sql_tokens

    return f"""
        WITH words AS (
            SELECT source, {sql_tokens('text')} AS w FROM documents
            WHERE len({sql_tokens('text')}) >= {MINHASH_SHINGLE}
        ),
        toks AS (
            SELECT DISTINCT source,
                   unnest([w[j] || ' ' || w[j+1] || ' ' || w[j+2]
                           for j in generate_series(1,
                               len(w) - {MINHASH_SHINGLE - 1})]) AS tok
            FROM words
        ),
        hashed AS (
            SELECT DISTINCT source, {sql_hash32('tok')} AS h FROM toks
        ),
        kmv AS (
            SELECT source, h FROM (
                SELECT source, h,
                       row_number() OVER (PARTITION BY source ORDER BY h)
                       AS rn
                FROM hashed
            ) WHERE rn <= {KMV_K}
        )
        SELECT source,
               CAST(count(*) AS INT) AS k_used,
               CAST(max(h) AS BIGINT) AS theta_h,
               round(CASE WHEN count(*) < {KMV_K}
                          THEN CAST(count(*) AS DOUBLE)
                          ELSE {float((KMV_K - 1) * 4294967296)} / max(h)
                     END, 2) AS kmv_distinct_est
        FROM kmv GROUP BY source
    """


# --- streaming sliding-window funnel -------------------------------------------

_WF_STATE_SCHEMA = "vs array<long>, cs array<long>, ps array<long>"
_WF_OUT_SCHEMA = "user_id long, level int"


def _wf_level(vs, cs, ps, w):
    """Max funnel level over every anchor view -- the same integer-ms
    arithmetic as the batch expression and the DuckDB oracle (exact,
    no floats, so the three implementations cannot disagree)."""
    best = 0 if len(vs) == 0 else 1
    for v in vs:
        lvl = 1
        cand = [c for c in cs if v < c <= v + w]
        if cand:
            c0 = min(cand)
            lvl = 2
            if any(c0 < p <= v + w for p in ps):
                lvl = 3
        if lvl > best:
            best = lvl
        if best == 3:
            break
    return best


def _wf_fn(key, pdfs, state):
    import pandas as pd

    from ..functions.temporal import WF_WINDOW_MS

    vs, cs, ps = state.get if state.exists else ([], [], [])
    vs, cs, ps = list(vs), list(cs), list(ps)
    for pdf in pdfs:
        for t, m in zip(pdf["event_type"], pdf["ms"]):
            (vs if t == "view" else cs if t == "click" else ps).append(
                int(m)
            )
    state.update((vs, cs, ps))
    yield pd.DataFrame(
        {"user_id": [key[0]],
         "level": [_wf_level(vs, cs, ps, WF_WINDOW_MS)]}
    )


_WF_BSTATE_SCHEMA = (
    "users array<long>, vs array<array<long>>, cs array<array<long>>, "
    "ps array<array<long>>"
)


def _wf_fn_bucketed(key, pdfs, state):
    """Bucket-level twin of ``_wf_fn`` (the per-user reference the
    tests pin): one Python call per (bucket, micro-batch), per-user
    stage lists carried in parallel arrays.  Emits one (user, level)
    row per user SEEN in the batch -- exactly the keys the per-user
    operator would have been invoked for; levels are computed by the
    same ``_wf_level``."""
    import pandas as pd

    from ..functions.temporal import WF_WINDOW_MS

    su, svs, scs, sps = (
        state.get if state.exists else ([], [], [], [])
    )
    d = {
        int(u): (list(v), list(c), list(p))
        for u, v, c, p in zip(su, svs, scs, sps)
    }
    seen = set()
    for pdf in pdfs:
        for u, t, m in zip(pdf["user_id"], pdf["event_type"], pdf["ms"]):
            u = int(u)
            seen.add(u)
            e = d.setdefault(u, ([], [], []))
            (e[0] if t == "view" else e[1] if t == "click" else e[2]).append(
                int(m)
            )
    users = sorted(d)
    state.update(
        (
            users,
            [d[u][0] for u in users],
            [d[u][1] for u in users],
            [d[u][2] for u in users],
        )
    )
    emit = sorted(seen)
    if emit:
        yield pd.DataFrame(
            {
                "user_id": emit,
                "level": [_wf_level(*d[u], WF_WINDOW_MS) for u in emit],
            }
        )


def window_funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING leg of the sliding-window funnel: per-user funnel
    levels maintained live as events arrive, final histogram equal to
    the batch ``evt_window_funnel`` (it shares that op's oracle -- the
    agreement is the proof).

    State per user is the three stage-timestamp lists -- bounded by
    that user's OWN funnel-stage activity, the exact bound the batch
    twin's ``collect_list`` carries (a production deployment adds a
    state TTL once a user's newest possible window closes; the
    level math is unchanged).  The level is MONOTONE in the event set
    (new events only ever add candidate chains), so re-emissions
    across micro-batches finish batch-side with ``max(level)`` per
    user -- the same monotone-sink pattern ``stream_quantile_sketch``
    gate-proved.  Level arithmetic is exact integer milliseconds in
    all three implementations (python state fn, batch array
    expression, DuckDB list comprehension)."""
    input_bytes = _src_bytes(f"{sf_dir}/events.parquet")
    n_buckets = _stream_buckets(spark, input_bytes)
    sdf = stream_events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        F.pmod("user_id", F.lit(n_buckets)).alias("bucket"),
        "user_id", "event_type", F.expr("unix_millis(ts)").alias("ms")
    )
    # keyed by user BUCKET, per-user stage lists vectorized across the
    # bucket (guide §4 / _stream_buckets); per-user semantics pinned by
    # test_stream_funnel_bucketed_matches_per_user
    levels = sdf.groupBy("bucket").applyInPandasWithState(
        _wf_fn_bucketed,
        outputStructType=_WF_OUT_SCHEMA,
        stateStructType=_WF_BSTATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    tbl = _run_to_memory(levels, sf_dir, "append", input_bytes=input_bytes)
    final = tbl.groupBy("user_id").agg(F.max("level").alias("level"))
    return final.groupBy("level").agg(
        F.count("*").cast("int").alias("n_users")
    )


def window_funnel_stream_oracle() -> str:
    from ..functions.temporal import window_funnel_oracle

    return window_funnel_oracle()


def cdc_tail_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING tail of the snapshot store's manifest chain -- the
    end-to-end incremental-read contract ``io_snapshot_changes`` proves
    in batch (r15, VERDICT r14 #6): each commit becomes exactly ONE
    micro-batch of its change rows, the way a Delta CDF / Iceberg
    incremental consumer subscribes to a table instead of rescanning
    it.  At 100 TB this is the nightly downstream-pipeline trigger:
    process the commit's delta, never the table.

    Two halves, both manifest-bounded:

    1. COMMIT-TIME CHANGE FEED (Delta's _change_data discipline): for
       every version transition the change rows are derived from the
       manifests' file-set difference alone -- v1->v2 inserts read
       ONLY the appended files; v2->v3 deletes are the rewritten
       files' old-minus-new anti-join (rewrites may not invent rows --
       raise-enforced by the batch sibling's shared build) -- and
       written as ONE parquet file per transition into a session-
       scoped feed directory.  Feed size is bounded by the commits'
       changed rows, never the table.
    2. TAIL: a file-source ``readStream`` over the feed with
       ``maxFilesPerTrigger=1``, so every commit's file arrives as its
       own micro-batch (raise-enforced from the query's progress:
       n data batches == n transitions); a bounded-state streaming
       aggregate (one group per (version, change) -- #commits rows)
       folds each delta into the running CDC summary.

    Columns: (to_version, change, n_docs, total_chars, min_doc,
    max_doc) -- the batch CDC op's summary, reproduced by a streaming
    consumer; the oracle recomputes both deltas from raw with the
    same split / rank-bound predicates."""
    import shutil
    from pathlib import Path

    from ..sources import _snapshot_commits, session_state_path

    configure_runtime(spark)
    _, manifests = _snapshot_commits(spark, sf_dir)
    feed = Path(session_state_path(spark, sf_dir, "cdc_feed"))
    done = feed / "_FEED_DONE"
    if not done.exists():
        # a partial feed would double-count on append: rebuild clean
        shutil.rmtree(feed, ignore_errors=True)
        s1, s2, s3 = (set(manifests[v]) for v in (1, 2, 3))
        ins12 = sorted(s2 - s1)
        removed23 = sorted(s2 - s3)
        added23 = sorted(s3 - s2)
        inserts = spark.read.parquet(*ins12).select(
            F.lit(2).cast("int").alias("to_version"),
            F.lit("insert").alias("change"),
            "doc_id",
            "n_chars",
        )
        old = spark.read.parquet(*removed23)
        new = (
            spark.read.parquet(*added23)
            if added23
            else old.filter(F.lit(False))
        )
        deletes = old.join(
            new.select("doc_id"), "doc_id", "left_anti"
        ).select(
            F.lit(3).cast("int").alias("to_version"),
            F.lit("delete").alias("change"),
            "doc_id",
            "n_chars",
        )
        # one file per transition == one micro-batch per commit below
        for delta in (inserts, deletes):
            delta.coalesce(1).write.mode("append").parquet(str(feed))
        done.touch()

    n_transitions = len(list(feed.glob("*.parquet")))
    schema = spark.read.parquet(str(feed)).schema
    sdf = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .load(str(feed))
    )
    agg = sdf.groupBy("to_version", "change").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    name = f"stream_{uuid.uuid4().hex[:12]}"
    with _stream_width(spark, _src_bytes(feed)):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    _capture_audit(q, spark, sf_dir, "complete")
    # the per-commit contract: every transition file rode its OWN
    # micro-batch (maxFilesPerTrigger=1 honored under availableNow)
    data_batches = 0
    for prog in q.recentProgress:
        if not hasattr(prog, "get"):
            prog = json.loads(prog.json())
        if any(
            (src.get("numInputRows") or 0) > 0
            for src in prog.get("sources") or []
        ):
            data_batches += 1
    if data_batches != n_transitions:
        raise RuntimeError(
            f"CDC tail saw {data_batches} data micro-batches for"
            f" {n_transitions} commits -- the per-commit incremental"
            " read contract is broken"
        )
    return spark.table(name)


def cdc_tail_stream_oracle() -> str:
    from ..sources import _SNAP_STATS_SQL, _snapshot_bounds_sql

    return f"""
        WITH {_snapshot_bounds_sql()}
        SELECT CAST(2 AS INT) AS to_version, 'insert' AS change,
               {_SNAP_STATS_SQL}
        FROM documents, bounds WHERE doc_id > bounds.s
        UNION ALL
        SELECT CAST(3 AS INT) AS to_version, 'delete' AS change,
               {_SNAP_STATS_SQL}
        FROM documents, bounds
        WHERE doc_id > bounds.lo AND doc_id <= bounds.hi
    """
