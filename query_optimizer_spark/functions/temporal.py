"""Temporal operators over the ``events`` table (batch side).

Operators the reference lacks entirely (SURVEY.md §2.3 notes as-of /
range joins are absent) but a time-series / training-data pipeline needs:

- ``hourly_rollup``  : tumbling-window aggregate (the batch twin of the
  streaming query in ``streaming/``).
- ``sessionize``     : gap-based sessionization via window functions --
  lag -> gap flag -> running sum = session id (one shuffle per step,
  partitioned by user: scales horizontally with users).
- ``asof_join``      : for each 'click', the most recent prior-or-equal
  'purchase' of the same user.  Implemented the scalable way: union both
  sides with a tag, one window sort per user, ``last(value, ignorenulls)``
  carries the latest purchase forward -- O(n log n) per user partition,
  no range cross join.  The DuckDB oracle uses its native ASOF JOIN,
  which independently validates the semantics.

Timestamps: epoch-millis integer arithmetic for gaps (cross-engine
exact); event ts is microsecond-resolution in the testdata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..session import events_df
from ..state import scope

SESSION_GAP_MS = 30 * 60 * 1000  # 30 min


def hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = events_df(spark, sf_dir)
    return (
        df.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
    )


def hourly_rollup_oracle() -> str:
    return """
        SELECT date_trunc('hour', ts)::TIMESTAMP AS window_start, event_type,
               count(*) AS n_events, round(sum(value), 3) AS total_value
        FROM events
        GROUP BY 1, 2
    """


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions: a new session starts when the user is idle
    longer than SESSION_GAP_MS."""
    df = events_df(spark, sf_dir).select(
        "user_id", "event_id", "value", F.expr("unix_millis(ts)").alias("ms")
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    flagged = df.withColumn(
        "new_session",
        F.when(
            F.col("ms") - F.lag("ms").over(w) > SESSION_GAP_MS, 1
        ).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("int"),
    )
    return flagged.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("int").alias("n_events"),
        F.min("ms").alias("start_ms"),
        F.max("ms").alias("end_ms"),
        F.round(F.sum("value"), 3).alias("session_value"),
    )


def sessionize_oracle() -> str:
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
            SELECT *, CAST(sum(new_session) OVER
                (PARTITION BY user_id ORDER BY ms, event_id
                 ROWS UNBOUNDED PRECEDING) AS INT) AS session_seq
            FROM flagged
        )
        SELECT user_id, session_seq, CAST(count(*) AS INT) AS n_events,
               min(ms) AS start_ms, max(ms) AS end_ms,
               round(sum(value), 3) AS session_value
        FROM numbered
        GROUP BY user_id, session_seq
    """


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click matched to the user's most recent prior-or-equal
    purchase (inner as-of)."""
    df = events_df(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr("unix_millis(ts)").alias("ms"),
    )
    both = df.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ms",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_click"),
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "p_value"
        ),
        F.when(F.col("event_type") == "purchase", F.col("ms")).alias("p_ms"),
    )
    # purchases sort before clicks at equal ts (is_click asc) => inclusive
    w = Window.partitionBy("user_id").orderBy("ms", "is_click", "event_id")
    carried = both.select(
        "event_id",
        "user_id",
        "ms",
        "is_click",
        F.last("p_value", ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("purchase_value"),
        F.last("p_ms", ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("purchase_ms"),
    )
    return carried.filter(
        (F.col("is_click") == 1) & F.col("purchase_ms").isNotNull()
    ).select(
        "event_id",
        "user_id",
        F.col("purchase_value"),
        (F.col("ms") - F.col("purchase_ms")).alias("ms_since_purchase"),
    )


def asof_join_oracle() -> str:
    """Independent implementation via DuckDB's native ASOF JOIN."""
    return """
        WITH clicks AS (
            SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events
            WHERE event_type = 'click'
        ),
        purchases AS (
            SELECT user_id, value, epoch_ms(ts) AS ms FROM events
            WHERE event_type = 'purchase'
        )
        SELECT c.event_id, c.user_id,
               p.value AS purchase_value,
               c.ms - p.ms AS ms_since_purchase
        FROM clicks c
        ASOF JOIN purchases p
          ON c.user_id = p.user_id AND c.ms >= p.ms
    """


ASOF_TOLERANCE_MS = 3_600_000  # 1 hour


def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match tolerance: a click only matches its most
    recent prior purchase if that purchase is within the last hour --
    the bounded-staleness variant every feature pipeline needs.  Since
    the base as-of already selects the single most recent match,
    tolerance is a filter on the match age."""
    return asof_join(spark, sf_dir).filter(
        F.col("ms_since_purchase") <= ASOF_TOLERANCE_MS
    )


def asof_join_tolerance_oracle() -> str:
    return f"""
        SELECT * FROM ({asof_join_oracle()}) t
        WHERE ms_since_purchase <= {ASOF_TOLERANCE_MS}
    """


FUNNEL_STEP_WINDOW_MS = 172_800_000  # 48 h per step


def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (view -> click -> purchase) per user with
    first-match semantics and a 48-hour per-step window: the click
    must follow the user's FIRST view within the window, the purchase
    must follow that first qualifying click within the window.  Stage-wise
    min-aggregates chained on the user key -- each stage is one
    aggregate over a user_id-partitioned shuffle that Spark reuses
    across stages, the scalable funnel shape (a per-user sort would work
    too but orders all events; this touches only the stage rows)."""
    e = events_df(spark, sf_dir).select(
        "user_id", "event_type", F.expr("unix_millis(ts)").alias("ms")
    )
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ms").alias("t1"))
    )
    s2 = (
        e.join(s1, "user_id")
        .filter(
            (F.col("event_type") == "click")
            & (F.col("ms") > F.col("t1"))
            & (F.col("ms") <= F.col("t1") + FUNNEL_STEP_WINDOW_MS)
        )
        .groupBy("user_id")
        .agg(F.min("ms").alias("t2"))
    )
    s3 = (
        e.join(s2, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ms") > F.col("t2"))
            & (F.col("ms") <= F.col("t2") + FUNNEL_STEP_WINDOW_MS)
        )
        .groupBy("user_id")
        .agg(F.min("ms").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            ).cast("int").alias("funnel_step"),
        )
        # count()-elimination guard (r14 sweep): s2/s3 are unique on
        # user_id, so a bare count() would drop BOTH stage joins and
        # their upstream event joins -- timing only the stage-1 scan
        .filter((F.col("funnel_step") >= 1) & (F.col("funnel_step") <= 3))
    )


def funnel_oracle() -> str:
    return f"""
        WITH e AS (
            SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
        ),
        s1 AS (
            SELECT user_id, min(ms) AS t1 FROM e
            WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, min(ms) AS t2 FROM e JOIN s1 USING (user_id)
            WHERE event_type = 'click' AND ms > t1
              AND ms <= t1 + {FUNNEL_STEP_WINDOW_MS} GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, min(ms) AS t3 FROM e JOIN s2 USING (user_id)
            WHERE event_type = 'purchase' AND ms > t2
              AND ms <= t2 + {FUNNEL_STEP_WINDOW_MS} GROUP BY e.user_id
        )
        SELECT s1.user_id,
               CAST(1 + (t2 IS NOT NULL)::INT + (t3 IS NOT NULL)::INT AS INT)
                   AS funnel_step
        FROM s1
        LEFT JOIN s2 USING (user_id)
        LEFT JOIN s3 USING (user_id)
    """


WEEK_MS = 7 * 24 * 3600 * 1000


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active epoch-week,
    counted in each subsequent week they return -- the standard
    activation/retention analysis over the events stream.

    Weeks are integer epoch-week buckets (``ms DIV WEEK_MS``), so the
    cross-engine oracle is exact integer arithmetic with no calendar or
    timezone semantics.  Shape for 100 TB: the cohort week is a window
    min over user_id -- NOT a separate aggregate joined back, which
    would either broadcast an O(users) table or add a join shuffle; the
    final aggregate is on the (cohort, offset) pair, O(weeks^2) output
    rows.
    """
    weeks = events_df(spark, sf_dir).select(
        "user_id",
        F.expr(f"unix_millis(ts) DIV {WEEK_MS}").alias("week"),
    ).distinct()
    w = Window.partitionBy("user_id")
    return (
        weeks.withColumn("cohort_week", F.min("week").over(w))
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").cast("int").alias("n_users"))
    )


def retention_cohorts_oracle() -> str:
    return f"""
        WITH weeks AS (
            SELECT DISTINCT user_id,
                   CAST(epoch_ms(ts) // {WEEK_MS} AS BIGINT) AS week
            FROM events
        ),
        tagged AS (
            SELECT user_id, week,
                   min(week) OVER (PARTITION BY user_id) AS cohort_week
            FROM weeks
        )
        SELECT cohort_week, week - cohort_week AS weeks_since,
               CAST(count(DISTINCT user_id) AS INT) AS n_users
        FROM tagged
        GROUP BY 1, 2
    """


ANOMALY_Z2_THRESHOLD = 4.0  # |z| > 2


def anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly anomaly detection per event type: flag hours whose total
    value deviates more than 2 sigma from that type's mean hourly total.

    Cross-engine exactness: hourly totals are DECIMAL sums (order-
    independent), and the per-type mean/variance are derived from
    DECIMAL sums of those totals -- every engine then runs the SAME
    scalar double arithmetic on identical inputs, so z-scores are
    bit-identical with no aggregation-order noise.  Shape for 100 TB:
    one (type, hour) aggregation over the scan, then a window over the
    tiny (types x hours) aggregate -- the heavy shuffle happens once,
    at the first groupBy.
    """
    hourly = (
        events_df(spark, sf_dir)
        .groupBy(
            "event_type",
            F.expr(f"unix_millis(ts) DIV {3_600_000}").alias("hour"),
        )
        .agg(
            F.expr(
                "cast(sum(cast(value as decimal(18, 6))) as double)"
            ).alias("total")
        )
    )
    w = Window.partitionBy("event_type")
    stats = hourly.select(
        "event_type",
        "hour",
        "total",
        F.count("*").over(w).alias("n"),
        F.expr("cast(total as decimal(18, 6))").alias("t_dec"),
    ).select(
        "event_type",
        "hour",
        "total",
        "n",
        F.expr(
            "cast(sum(t_dec) over (partition by event_type) as double)"
        ).alias("s1"),
        # each product decimal(18,6)^2 is cast to decimal(38,6) BEFORE
        # summing: the scale-12 exact product rounds to scale 6 (products
        # are non-negative, so Spark's HALF_UP == DuckDB's half-away ==
        # identical), and the window sum then has 1e32 of headroom
        # instead of the 1e26 a decimal(38,12) sum would -- per-hour
        # totals up to 1e12 over 1e8 hours/type stay exact, where the
        # unclamped sum silently NULLs in Spark but raises in DuckDB
        F.expr(
            "cast(sum(cast(t_dec * t_dec as decimal(38, 6)))"
            " over (partition by event_type) as double)"
        ).alias("s2"),
    )
    return stats.select(
        "event_type",
        "hour",
        F.expr("round(total, 3)").alias("total"),
        # + 0.0 maps IEEE -0.0 -> +0.0: DuckDB's round yields -0.0 for
        # tiny negative z, Spark's doesn't, and hashes see the sign
        F.expr(
            "CASE WHEN n > 1 AND (s2 - s1 * s1 / n) / n > 0 THEN "
            "round((total - s1 / n) / sqrt((s2 - s1 * s1 / n) / n), 3) + 0.0 "
            "ELSE 0.0 END"
        ).alias("z"),
        F.expr(
            "n > 1 AND (s2 - s1 * s1 / n) / n > 0 AND "
            f"pow(total - s1 / n, 2) > {ANOMALY_Z2_THRESHOLD}"
            " * (s2 - s1 * s1 / n) / n"
        ).alias("is_anomaly"),
        # count()-elimination guard (r14 sweep): the per-type stats
        # windows never change cardinality, so a bare count() would
        # drop them; an anomalous hour has |z| > 2 after rounding
    ).filter((~F.col("is_anomaly")) | (F.col("z") != 0.0))


def anomaly_hours_oracle() -> str:
    return f"""
        WITH hourly AS (
            SELECT event_type,
                   CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS hour,
                   CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE)
                       AS total
            FROM events
            GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type, hour, total,
                   count(*) OVER w AS n,
                   CAST(sum(CAST(total AS DECIMAL(18, 6))) OVER w AS DOUBLE)
                       AS s1,
                   CAST(sum(CAST(CAST(total AS DECIMAL(18, 6))
                                 * CAST(total AS DECIMAL(18, 6))
                                 AS DECIMAL(38, 6))) OVER w
                        AS DOUBLE) AS s2
            FROM hourly
            WINDOW w AS (PARTITION BY event_type)
        )
        SELECT event_type, hour, round(total, 3) AS total,
               CASE WHEN n > 1 AND (s2 - s1 * s1 / n) / n > 0 THEN
                    round((total - s1 / n) / sqrt((s2 - s1 * s1 / n) / n), 3)
                    + 0.0
               ELSE 0.0 END AS z,
               n > 1 AND (s2 - s1 * s1 / n) / n > 0 AND
                   pow(total - s1 / n, 2) > {ANOMALY_Z2_THRESHOLD}
                   * (s2 - s1 * s1 / n) / n AS is_anomaly
        FROM stats
    """


TOPK_PER_HOUR = 3


def hourly_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K users by total value within each hour -- the grouped-ranking
    shape (leaderboards, heavy-hitter reports) done the scalable way: the
    row_number window is PARTITIONED by hour, so every partition ranks
    independently; no global sort exists anywhere.  Totals are DECIMAL
    sums so rank order (total desc, user_id) is deterministic
    cross-engine."""
    hourly = (
        events_df(spark, sf_dir)
        .groupBy(
            F.expr("unix_millis(ts) DIV 3600000").alias("hour"),
            "user_id",
        )
        .agg(
            F.expr(
                "cast(sum(cast(value as decimal(18, 6))) as double)"
            ).alias("total")
        )
    )
    w = Window.partitionBy("hour").orderBy(F.desc("total"), "user_id")
    return (
        hourly.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOPK_PER_HOUR)
        .select("hour", "rank", "user_id", F.expr("round(total, 3)").alias("total"))
    )


def hourly_topk_users_oracle() -> str:
    return f"""
        WITH hourly AS (
            SELECT CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS hour, user_id,
                   CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS total
            FROM events
            GROUP BY 1, 2
        )
        SELECT hour, CAST(rank AS INT) AS rank, user_id, round(total, 3) AS total
        FROM (
            SELECT hour, user_id, total,
                   ROW_NUMBER() OVER (PARTITION BY hour
                                      ORDER BY total DESC, user_id) AS rank
            FROM hourly
        )
        WHERE rank <= {TOPK_PER_HOUR}
    """


def transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition counts and probabilities: for each user's
    time-ordered stream, count (event_type -> next event_type) pairs --
    the behavioral bigram model (funnel discovery, Markov session
    analysis) every event pipeline wants.

    Scale shape: ONE shuffle on user_id for the lead() window (each
    partition is one user's bounded stream), then a hash aggregation
    onto the tiny (type x type) matrix; the probability normalization
    is a window over that matrix -- dozens of rows, not data-scale.
    Ties in ts break on event_id so the lead is deterministic
    cross-engine."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        events_df(spark, sf_dir)
        .select(
            "user_id",
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("cnt"))
    )
    return t.select(
        "event_type",
        "next_type",
        F.col("cnt").cast("int").alias("cnt"),
        F.expr("round(cnt / sum(cnt) over (partition by event_type), 6)").alias(
            "p"
        ),
        # count()-elimination guard (r14 sweep; predicate revised r15
        # ADVICE): strict positivity on the UNROUNDED cnt -- a genuine
        # pair with p < 5e-7 rounds to 0.0, so `p > 0` would silently
        # drop it at scale; `p <= 1` is total (round never pushes a
        # ratio above 1) and keeps the window column referenced so the
        # window survives count()-pruning
    ).filter((F.col("cnt") >= 1) & (F.col("p") <= 1))


def transition_matrix_oracle() -> str:
    return """
        WITH t AS (
            SELECT event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS next_type
            FROM events
        ),
        m AS (
            SELECT event_type, next_type, count(*) AS cnt
            FROM t WHERE next_type IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT event_type, next_type, CAST(cnt AS INT) AS cnt,
               round(cnt / sum(cnt) OVER (PARTITION BY event_type), 6) AS p
        FROM m
    """


# --- per-user behavioral feature vectors -------------------------------------


def user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral feature vector -- the featurization step a
    training pipeline runs before sampling users, building reward
    models, or stratifying event data: activity volume, breadth,
    recency span, cadence and value, plus the user's dominant event
    type (tie -> lexicographically smallest).

    Scale shape: one hash aggregation onto user_id for the scalar
    features (map-side combinable, exact epoch-millis integer
    arithmetic for the span; mean cadence = span / (n-1), no window
    needed because events are summarized by min/max/count), and one
    (user_id, event_type) aggregation + per-user row_number over that
    ALREADY-AGGREGATED tiny table for the dominant type.  Both sides
    are user-partitioned, so AQE turns the final join into a local
    one; no pass touches the raw event stream twice.
    """
    base = events_df(spark, sf_dir).select(
        "user_id",
        "event_type",
        "value",
        F.expr("unix_millis(ts)").alias("ms"),
    )
    scalars = base.groupBy("user_id").agg(
        F.count("*").cast("int").alias("n_events"),
        F.countDistinct("event_type").cast("int").alias("n_types"),
        F.min("ms").alias("first_ms"),
        F.max("ms").alias("last_ms"),
        F.round(F.sum("value"), 3).alias("total_value"),
    ).withColumn(
        "span_s",
        F.expr("cast((last_ms - first_ms) / 1000 as bigint)"),
    ).withColumn(
        "mean_gap_s",
        F.expr(
            "CASE WHEN n_events > 1 THEN "
            "round((last_ms - first_ms) / cast(1000 as double) "
            "/ (n_events - 1), 3) ELSE NULL END"
        ),
    )
    by_type = base.groupBy("user_id", "event_type").agg(
        F.count("*").alias("type_cnt")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("type_cnt").desc(), F.col("event_type")
    )
    top = (
        by_type.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", F.col("event_type").alias("top_type"))
    )
    return scalars.join(top, "user_id").select(
        "user_id", "n_events", "n_types", "first_ms", "last_ms",
        "span_s", "mean_gap_s", "total_value", "top_type",
    )


def user_features_oracle() -> str:
    return """
        WITH e AS (
            SELECT user_id, event_type, value, epoch_ms(ts) AS ms FROM events
        ),
        scalars AS (
            SELECT user_id,
                   CAST(count(*) AS INT) AS n_events,
                   CAST(count(DISTINCT event_type) AS INT) AS n_types,
                   min(ms) AS first_ms,
                   max(ms) AS last_ms,
                   round(sum(value), 3) AS total_value
            FROM e GROUP BY user_id
        ),
        top AS (
            SELECT user_id, event_type AS top_type FROM (
                SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY count(*) DESC, event_type)
                       AS rn
                FROM e GROUP BY user_id, event_type
            ) WHERE rn = 1
        )
        SELECT s.user_id, s.n_events, s.n_types, s.first_ms, s.last_ms,
               CAST(floor((s.last_ms - s.first_ms) / 1000) AS BIGINT)
                   AS span_s,
               CASE WHEN s.n_events > 1 THEN
                   round((s.last_ms - s.first_ms) / 1000.0
                         / (s.n_events - 1), 3)
               ELSE NULL END AS mean_gap_s,
               s.total_value, t.top_type
        FROM scalars s JOIN top t USING (user_id)
    """


# --- exact value quantiles over the bounded cent domain ----------------------


def value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of event value per event type -- the latency/
    revenue-distribution readout every monitoring pipeline publishes.

    Computed the way exact quantiles stay cheap at 100 TB: the value
    domain is bounded (exact cents -- asserted by the oracle's own
    arithmetic), so ONE map-side-combinable aggregation builds the
    (type, cent) histogram and the quantile walk is a window over that
    tiny table; nothing ever sorts the raw stream (Spark's exact
    ``percentile`` would collect each group onto one task).  Type-1
    (lower) quantile: smallest value whose CDF reaches q -- cum*100 >=
    q*n in exact int64, no ceil/float anywhere.  Cent-to-currency
    division by 100.0 is correctly rounded and identical across
    engines."""
    cents = events_df(spark, sf_dir).select(
        "event_type",
        F.expr("cast(round(value * 100, 0) as bigint)").alias("c"),
    )
    hist = cents.groupBy("event_type", "c").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("c")
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy("event_type")))
    qcol = [
        F.expr(
            f"min(CASE WHEN cum * 100 >= {q} * n THEN c END)"
            " / cast(100 as double)"
        ).alias(f"p{q}")
        for q in (50, 90, 99)
    ]
    return cum.groupBy("event_type").agg(
        F.max("n").cast("int").alias("n_events"), *qcol
        # count()-elimination guard (r14 sweep): the CDF-walk windows
        # never change cardinality; quantiles are monotone in q
    ).filter((F.col("n_events") >= 1) & (F.col("p50") <= F.col("p99")))


def value_quantiles_oracle() -> str:
    qs = ", ".join(
        f"min(CASE WHEN cum * 100 >= {q} * n THEN c END) / 100.0 AS p{q}"
        for q in (50, 90, 99)
    )
    return """
        WITH hist AS (
            SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c,
                   count(*) AS cnt
            FROM events GROUP BY 1, 2
        ),
        cum AS (
            SELECT event_type, c, cnt,
                   sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY event_type) AS n
            FROM hist
        )
        SELECT event_type, CAST(max(n) AS INT) AS n_events, {qs}
        FROM cum GROUP BY event_type
    """.replace("{qs}", qs)


# --- Markov stationary distribution of the behavior graph --------------------

MARKOV_SCALE = 1_000_000
MARKOV_ITERS = 6


def markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type transition chain --
    where user behavior settles in the long run, the summary a
    session-simulation or traffic model is fitted against (companion
    to evt_transition_matrix, which reports the one-step dynamics).

    The distributed part is the sufficient statistic: one user_id
    window (lead) and a count aggregation onto the tiny type x type
    matrix.  The fixpoint is then exact-integer power iteration on
    that model state: pi'_u = sum_t (pi_t * C[t,u]) // rowsum_t --
    floor division on non-negative ints, identical in Python, Spark
    and DuckDB, so the unrolled-SQL oracle reproduces the trajectory
    bit-for-bit.  Final normalization runs engine-side (Spark round ==
    DuckDB round for positive halves; Python banker's round is
    deliberately NOT used)."""
    ordered = events_df(spark, sf_dir).select(
        "user_id",
        "event_type",
        "event_id",
        F.expr("unix_millis(ts)").alias("ms"),
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    counts = (
        ordered.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )  # |types|^2 model-state rows, NOT data
    C: dict[tuple[str, str], int] = {
        (r["event_type"], r["next_type"]): int(r["n"]) for r in counts
    }
    types = sorted({t for t, _ in C} | {u for _, u in C})
    rowsum = {t: sum(C.get((t, u), 0) for u in types) for t in types}
    pi = {t: MARKOV_SCALE for t in types}
    for _ in range(MARKOV_ITERS):
        pi = {
            u: sum(
                (pi[t] * C.get((t, u), 0)) // rowsum[t]
                for t in types
                if rowsum[t] > 0
            )
            for u in types
        }
    total = sum(pi.values())
    out = spark.createDataFrame(
        [(t, pi[t]) for t in types], "event_type string, val long"
    )
    return out.select(
        "event_type",
        F.expr(f"(val * {MARKOV_SCALE}L) div {total}L").alias("stationary_q"),
        F.expr(f"round(val / cast({total} as double), 6)").alias("stationary"),
    )


def markov_stationary_oracle() -> str:
    # Each step left-joins from the FULL type domain (sources UNION
    # targets, same set the engine iterates over) so a type that never
    # appears as a successor keeps an explicit zero-mass row -- without
    # this the oracle's output domain silently shrinks to reachable
    # types and diverges from the engine on data where some event_type
    # is only ever a transition source (r6 ADVICE, medium).
    def step(t: int, prev: str) -> str:
        return f"""
        p{t} AS (
            SELECT ty.event_type,
                   CAST(coalesce(sum((v.val * c.n) // r.rs), 0) AS BIGINT)
                       AS val
            FROM types ty
            LEFT JOIN counts c ON c.next_type = ty.event_type
            LEFT JOIN rowsum r ON r.event_type = c.event_type
            LEFT JOIN {prev} v ON v.event_type = c.event_type
            GROUP BY ty.event_type
        )"""

    iters = ",".join(step(t, f"p{t - 1}") for t in range(1, MARKOV_ITERS + 1))
    last = MARKOV_ITERS
    return f"""
        WITH ordered AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY epoch_ms(ts), event_id)
                       AS next_type
            FROM events
        ),
        counts AS (
            SELECT event_type, next_type, count(*) AS n
            FROM ordered WHERE next_type IS NOT NULL
            GROUP BY 1, 2
        ),
        rowsum AS (
            SELECT event_type, CAST(sum(n) AS BIGINT) AS rs
            FROM counts GROUP BY 1
        ),
        types AS (SELECT DISTINCT event_type FROM counts
                  UNION SELECT DISTINCT next_type FROM counts),
        p0 AS (SELECT event_type, {MARKOV_SCALE}::BIGINT AS val
               FROM types),
        {iters}
        SELECT event_type,
               CAST((val * {MARKOV_SCALE})
                    // (SELECT sum(val) FROM p{last}) AS BIGINT)
                   AS stationary_q,
               round(val / (SELECT sum(val) FROM p{last})::DOUBLE, 6)
                   AS stationary
        FROM p{last}
    """


# --- range (interval) join ---------------------------------------------------

RANGE_JOIN_WINDOW_MS = 3_600_000  # 1 hour lookback


def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: every purchase annotated with the number of 'view'
    events by the same user in the hour before it (exclusive-start,
    inclusive-end interval) and the recency of the latest such view --
    the interval-join companion of evt_asof_join (SURVEY §2.3 lists
    both as operators the reference lacks).

    Scale shape: a naive per-user view x purchase join is quadratic on
    hot users.  Instead the classic BUCKETED range join: views key into
    hour buckets, each purchase probes its own bucket and the previous
    one (two equi-join probes cover any 1-hour lookback window), the
    residual range predicate filters inside the matched bucket pair.
    The join is a plain equi-join on (user_id, bucket) -- hash
    partitioned, AQE-skew-splittable, no range cross product; DuckDB's
    oracle uses its native IEJoin range join, an independent algorithm.
    """
    ev = events_df(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("unix_millis(ts)").alias("ms"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ms").alias("v_ms"),
        F.expr(f"ms div {RANGE_JOIN_WINDOW_MS}").alias("bucket"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ms"
    )
    probes = purchases.select(
        "event_id",
        "user_id",
        "ms",
        F.explode(
            F.expr(
                f"array(ms div {RANGE_JOIN_WINDOW_MS}, "
                f"ms div {RANGE_JOIN_WINDOW_MS} - 1)"
            )
        ).alias("bucket"),
    )
    matched = (
        probes.join(views, ["user_id", "bucket"])
        .filter(
            (F.col("v_ms") > F.col("ms") - RANGE_JOIN_WINDOW_MS)
            & (F.col("v_ms") <= F.col("ms"))
        )
        .groupBy("event_id")
        .agg(
            F.count("*").cast("int").alias("n_views_1h"),
            F.max("v_ms").alias("last_v_ms"),
        )
    )
    return (
        purchases.join(matched, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce("n_views_1h", F.lit(0)).cast("int").alias("n_views_1h"),
            (F.col("ms") - F.col("last_v_ms")).alias("ms_since_last_view"),
        )
        # count()-elimination guard (r14 sweep): matched is unique on
        # event_id, so a bare count() would drop the whole bucketed
        # range join; matched views satisfy v_ms <= ms
        .filter(
            (F.col("n_views_1h") >= 0)
            & (
                F.col("ms_since_last_view").isNull()
                | (F.col("ms_since_last_view") >= 0)
            )
        )
    )


def range_join_oracle() -> str:
    return f"""
        WITH ev AS (
            SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms
            FROM events
        ),
        p AS (SELECT event_id, user_id, ms FROM ev
              WHERE event_type = 'purchase'),
        v AS (SELECT user_id, ms AS v_ms FROM ev
              WHERE event_type = 'view')
        SELECT p.event_id, p.user_id,
               CAST(count(v.v_ms) AS INT) AS n_views_1h,
               p.ms - max(v.v_ms) AS ms_since_last_view
        FROM p LEFT JOIN v
          ON p.user_id = v.user_id
         AND v.v_ms > p.ms - {RANGE_JOIN_WINDOW_MS}
         AND v.v_ms <= p.ms
        GROUP BY p.event_id, p.user_id, p.ms
    """


# --- CDC -> SCD2 interval build ------------------------------------------------

# the slowly-changing attribute: the user's spend tier (value // 100).
# Low-cardinality by construction, so consecutive-duplicate compression
# does real work -- the point of SCD type 2.
SCD2_TIER = "cast(floor(value / 100) as int)"


def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture -> slowly-changing-dimension type 2: compress
    each user's event stream into validity intervals of their spend
    tier -- keep only CHANGE rows (lag over the per-user total order
    (ms, event_id)), then close each interval with the next change's
    start (lead; NULL = current row).

    This is the warehouse MERGE-into-dimension pattern built as two
    window passes over ONE hash partitioning (user_id): no per-key
    loops, no MERGE statement, no shuffle between the passes --
    Catalyst plans a single Exchange and both windows ride it.  At
    100 TB the stream arrives partitioned by day; the same two passes
    run per partition with the previous day's open intervals unioned
    in, so the build stays incremental.  Deterministic: the order key
    includes the unique event_id, and the tier is floor(value/100) --
    one IEEE division + floor, identical on both engines.
    """
    ev = events_df(spark, sf_dir).select(
        "user_id",
        F.expr("unix_millis(ts)").alias("ms"),
        "event_id",
        F.expr(SCD2_TIER).alias("tier"),
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    changes = ev.withColumn("prev_tier", F.lag("tier").over(w)).filter(
        "prev_tier IS NULL OR prev_tier <> tier"
    )
    return changes.select(
        "user_id",
        "tier",
        F.col("ms").alias("valid_from_ms"),
        F.lead("ms").over(w).alias("valid_to_ms"),
        F.row_number().over(w).cast("int").alias("version"),
        F.lead("ms").over(w).isNull().alias("is_current"),
        # count()-elimination guard (r14 sweep): the trailing
        # lead/row_number window never changes cardinality; intervals
        # are ordered, so the close time is never before the open
    ).filter(
        (F.col("version") >= 1)
        & (
            F.col("valid_to_ms").isNull()
            | (F.col("valid_to_ms") >= F.col("valid_from_ms"))
        )
    )


def scd2_intervals_oracle() -> str:
    return f"""
        WITH ev AS (
            SELECT user_id, epoch_ms(ts) AS ms, event_id,
                   {SCD2_TIER.replace('cast', 'CAST').replace(' as int', ' AS INT')} AS tier
            FROM events
        ),
        changes AS (
            SELECT user_id, ms, event_id, tier FROM (
                SELECT user_id, ms, event_id, tier,
                       lag(tier) OVER (PARTITION BY user_id
                                       ORDER BY ms, event_id) AS prev_tier
                FROM ev
            ) WHERE prev_tier IS NULL OR prev_tier <> tier
        )
        SELECT user_id, tier, ms AS valid_from_ms,
               lead(ms) OVER (PARTITION BY user_id
                              ORDER BY ms, event_id) AS valid_to_ms,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ms, event_id) AS INT)
                   AS version,
               (lead(ms) OVER (PARTITION BY user_id
                               ORDER BY ms, event_id) IS NULL)
                   AS is_current
        FROM changes
    """



# --- incremental materialized-rollup maintenance -------------------------------

# phase split of the most recent incremental_rollup run, the sf_dir's
# ``state`` record "rollup_split": state_build = the one-time
# full-history aggregation + parquet write (the "nightly full" the
# incremental pattern replaces).  The REFRESH cost -- one day's delta +
# the merge -- is the op's total minus this, measured by the caller at
# action time (the merge is lazy until then).


def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized daily rollup: the
    day x event_type aggregate table is kept current by MERGING the
    stored partial aggregates with one new day's delta -- history is
    never re-scanned.

    Mechanics: the "yesterday" state (all days before the newest) is
    computed once and MATERIALIZED to parquet -- the stored rollup
    table; the newest day's delta is aggregated from the raw stream;
    the refreshed rollup is the union of the two grouped again, summing
    partial counts/sums and maxing partial maxes.  Every aggregate
    kept is algebraically mergeable (count, sum, max) -- that property,
    not the code path, is what makes the maintenance incremental: at
    100 TB the daily refresh reads ONE day of events plus the compact
    aggregate table (days x types rows), instead of the full history
    every night.  The value sums are carried in INTEGER CENTS (r9
    ADVICE: merging stored double partials with a delta is a different
    float summation order than the oracle's single pass, and
    non-associative addition could flip a round(x, 3) boundary at
    scale) -- integer addition is associative, so stored+delta ==
    single-pass bit-exactly; division back to currency happens once,
    in the final projection.  The driver gate proves merged-
    incremental == single-pass-full (the DuckDB oracle is the full
    recompute -- a different algorithm shape).  The state path is
    session-scoped (``session_state_path``): a path keyed only by
    sf_dir races under two concurrent sessions -- one overwrites the
    state the other's lazy merge is about to read.
    """
    import time as _time

    from pathlib import Path

    t0 = _time.monotonic()
    ev = events_df(spark, sf_dir).select(
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        "value",
        F.expr("cast(round(value * 100, 0) as bigint)").alias("c"),
    )
    newest = ev.agg(F.max("day").alias("d")).first().d

    def partial(df):
        return df.groupBy("day", "event_type").agg(
            F.count("*").alias("n_events"),
            F.sum("c").alias("sum_c"),
            F.max("value").alias("max_value"),
        )

    from ..sources import session_state_path

    stored = Path(session_state_path(spark, sf_dir, "rollup_state"))
    # the materialized state: partial aggregates for every CLOSED day
    partial(ev.filter(F.col("day") < newest)).write.mode(
        "overwrite"
    ).parquet(str(stored))
    scope(spark, sf_dir)["rollup_split"] = {
        "state_build_sec": round(_time.monotonic() - t0, 4)
    }
    delta = partial(ev.filter(F.col("day") >= newest))
    merged = (
        spark.read.parquet(str(stored))
        .unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_c").alias("sum_c"),
            F.max("max_value").alias("max_value"),
        )
    )
    return merged.select(
        "day",
        "event_type",
        "n_events",
        F.expr("round(cast(sum_c as double) / 100.0, 3)").alias(
            "total_value"
        ),
        F.round("max_value", 3).alias("max_value"),
    )


def incremental_rollup_oracle() -> str:
    return """
        SELECT date_trunc('day', ts)::TIMESTAMP AS day, event_type,
               count(*) AS n_events,
               round(sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0, 3)
                   AS total_value,
               round(max(value), 3) AS max_value
        FROM events
        GROUP BY 1, 2
    """


# --- bounded-state quantile sketch --------------------------------------------

# power-of-two buckets: bucket(c) = |{k in 0..QSK_BITS-1 : c >= 2^k}|,
# i.e. floor(log2(c)) + 1 for c >= 1 -- computed as pure integer
# comparisons (NO float log anywhere: a faithful-but-not-correctly-
# rounded libm could flip floor(log2(2^k - 1)) across engines).  40
# bits cover any realistic cent value.
QSK_BITS = 40
_QSK_BUCKET = " + ".join(
    f"(case when c >= {1 << k} then 1 else 0 end)" for k in range(QSK_BITS)
)

# the CDF walk shared by every histogram-sketch op (batch sketch,
# rollup, streaming) and their oracles: the q-th percentile estimate is
# the top of the first bucket whose cumulative count reaches q% of n --
# ONE definition, so the mergeability proofs can never drift apart
# (r10 review: three copy-pasted sites)
_QSK_EST_SPARK = (
    "(shiftleft(cast(1 as bigint),"
    " min(CASE WHEN cum * 100 >= {q} * n THEN b END)) - 1)"
    " / cast(100 as double)"
)
_QSK_EST_DUCK = (
    "((1::BIGINT << min(CASE WHEN cum * 100 >= {q} * n THEN b END))"
    " - 1) / 100.0"
)
QSK_QUANTILES = (50, 90, 99)


def _qsk_est_cols() -> list:
    """Spark aggregate columns p50_est/p90_est/p99_est over a cum/n/b
    frame (see _QSK_EST_SPARK)."""
    return [
        F.expr(_QSK_EST_SPARK.format(q=q)).alias(f"p{q}_est")
        for q in QSK_QUANTILES
    ]


def _qsk_est_sql() -> str:
    """The oracle twin: 'expr AS p50_est, ...' select-list fragment."""
    return ", ".join(
        f"{_QSK_EST_DUCK.format(q=q)} AS p{q}_est" for q in QSK_QUANTILES
    )


def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a BOUNDED-state histogram sketch -- the third leg
    of the mergeable-sketch trio (HLL = distinct, count-min =
    frequency, this = distribution).  ``evt_value_quantiles`` keeps one
    counter per distinct cent value (exact, but state grows with the
    value domain); this op keeps at most ``QSK_BITS`` power-of-two
    buckets per event_type -- 320 bytes of state per key no matter how
    wide the domain gets, mergeable across shards/days by plain count
    addition.  The price is bounded and measured: the bucket upper
    bound 2^b - 1 is at most 2x the true quantile (a value in
    [2^(b-1), 2^b - 1] is estimated by the bucket's top), and the
    exact type-1 quantile rides along so the output SHOWS the ratio.
    At 100 TB only the sketch survives; the exact path exists for the
    gate and the bound columns.

    One map-side-combinable aggregation per path, a window over the
    tiny histogram for the CDF walk -- nothing sorts the raw stream."""
    cents = events_df(spark, sf_dir).select(
        "event_type",
        F.expr("cast(round(value * 100, 0) as bigint)").alias("c"),
    )
    # --- sketch path: <= QSK_BITS buckets per type
    sk_hist = (
        cents.select("event_type", F.expr(_QSK_BUCKET).alias("b"))
        .groupBy("event_type", "b")
        .agg(F.count("*").alias("cnt"))
    )
    wb = Window.partitionBy("event_type").orderBy("b")
    sk_cum = sk_hist.withColumn(
        "cum",
        F.sum("cnt").over(wb.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy("event_type")))
    sk_cols = _qsk_est_cols()
    sk = sk_cum.groupBy("event_type").agg(
        F.max("n").cast("int").alias("n_events"), *sk_cols
    )
    # --- exact ride-along (the same type-1 rule evt_value_quantiles
    # gate-proved), for the bound columns
    ex_hist = cents.groupBy("event_type", "c").agg(F.count("*").alias("cnt"))
    wc = Window.partitionBy("event_type").orderBy("c")
    ex_cum = ex_hist.withColumn(
        "cum",
        F.sum("cnt").over(wc.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy("event_type")))
    ex_cols = [
        F.expr(
            f"min(CASE WHEN cum * 100 >= {q} * n THEN c END)"
            " / cast(100 as double)"
        ).alias(f"p{q}_exact")
        for q in (50, 90, 99)
    ]
    ex = ex_cum.groupBy("event_type").agg(*ex_cols)
    out = sk.join(ex, "event_type")
    return out.select(
        "event_type",
        "n_events",
        *[
            c
            for q in (50, 90, 99)
            for c in (
                F.col(f"p{q}_est"),
                F.col(f"p{q}_exact"),
                F.expr(f"round(p{q}_est / p{q}_exact, 4)").alias(
                    f"p{q}_ratio"
                ),
            )
        ],
        # count()-elimination guard (r14 sweep): both CDF-walk window
        # stacks never change cardinality; quantiles are monotone in q
    ).filter(
        (F.col("n_events") >= 1)
        & (F.col("p50_est") <= F.col("p99_est"))
        & (F.col("p50_exact") <= F.col("p99_exact"))
    )


def quantile_sketch_oracle() -> str:
    sk_cols = _qsk_est_sql()
    ex_cols = ", ".join(
        f"min(CASE WHEN cum * 100 >= {q} * n THEN c END) / 100.0"
        f" AS p{q}_exact"
        for q in (50, 90, 99)
    )
    out_cols = ", ".join(
        f"p{q}_est, p{q}_exact, round(p{q}_est / p{q}_exact, 4)"
        f" AS p{q}_ratio"
        for q in (50, 90, 99)
    )
    return f"""
        WITH cents AS (
            SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
            FROM events
        ),
        sk_hist AS (
            SELECT event_type, {_QSK_BUCKET} AS b, count(*) AS cnt
            FROM cents GROUP BY 1, 2
        ),
        sk_cum AS (
            SELECT event_type, b, cnt,
                   sum(cnt) OVER (PARTITION BY event_type ORDER BY b
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY event_type) AS n
            FROM sk_hist
        ),
        sk AS (
            SELECT event_type, CAST(max(n) AS INT) AS n_events, {sk_cols}
            FROM sk_cum GROUP BY event_type
        ),
        ex_hist AS (
            SELECT event_type, c, count(*) AS cnt FROM cents GROUP BY 1, 2
        ),
        ex_cum AS (
            SELECT event_type, c, cnt,
                   sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY event_type) AS n
            FROM ex_hist
        ),
        ex AS (
            SELECT event_type, {ex_cols} FROM ex_cum GROUP BY event_type
        )
        SELECT sk.event_type, n_events, {out_cols}
        FROM sk JOIN ex ON ex.event_type = sk.event_type
    """


# --- quantile-sketch rollup (merge-losslessness proof) --------------------------


def quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile sketch's ROLLUP proof, mirroring ``text_hll_rollup``
    (r9 VERDICT #4): per-day power-of-two histograms are the stored
    sketches, and the full-range quantiles are computed ONLY by adding
    those stored per-day bucket counts -- the raw stream is never
    re-scanned for the 'ALL' row.  The DuckDB oracle recomputes both
    scopes directly from the raw values in one pass (a different
    algorithm shape); bit-exact agreement on the merged row IS the
    mergeability proof, not an assertion.  Count addition is exact
    integer arithmetic, so unlike float partials there is no summation
    order to disagree about.

    At 100 TB this is the nightly pattern: each day/shard keeps its
    <= QSK_BITS x 8 B histogram; any date range's quantiles come from
    summing histograms (days x buckets rows), never from the events.
    One shuffle builds the per-day sketches; everything after windows
    over the tiny histogram."""
    cents = events_df(spark, sf_dir).select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.expr("cast(round(value * 100, 0) as bigint)").alias("c"),
    )
    # the stored state: one <=QSK_BITS-bucket histogram per (type, day)
    hist = (
        cents.select("event_type", "day", F.expr(_QSK_BUCKET).alias("b"))
        .groupBy("event_type", "day", "b")
        .agg(F.count("*").alias("cnt"))
    )

    def walk(h: DataFrame, keys: list[str]) -> DataFrame:
        wb = Window.partitionBy(*keys).orderBy("b")
        cum = h.withColumn(
            "cum",
            F.sum("cnt").over(wb.rowsBetween(Window.unboundedPreceding, 0)),
        ).withColumn("n", F.sum("cnt").over(Window.partitionBy(*keys)))
        return cum.groupBy(*keys).agg(
            F.max("n").cast("int").alias("n_events"), *_qsk_est_cols()
        )

    out_cols = ["n_events", "p50_est", "p90_est", "p99_est"]
    day_rows = walk(hist, ["event_type", "day"]).select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("scope"),
        *out_cols,
    )
    # full-range row from the STORED sketches only: plain count addition
    merged = hist.groupBy("event_type", "b").agg(F.sum("cnt").alias("cnt"))
    all_rows = walk(merged, ["event_type"]).select(
        "event_type", F.lit("ALL").alias("scope"), *out_cols
    )
    # count()-elimination guard (r14 sweep): both branches' CDF-walk
    # windows never change cardinality; quantiles are monotone in q
    return day_rows.unionByName(all_rows).filter(
        (F.col("n_events") >= 1) & (F.col("p50_est") <= F.col("p99_est"))
    )


def quantile_rollup_oracle() -> str:
    sk_cols = _qsk_est_sql()
    return f"""
        WITH cents AS (
            SELECT event_type,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS scope,
                   CAST(round(value * 100, 0) AS BIGINT) AS c
            FROM events
        ),
        both_scopes AS (
            SELECT event_type, scope, {_QSK_BUCKET} AS b, count(*) AS cnt
            FROM cents GROUP BY 1, 2, 3
            UNION ALL
            SELECT event_type, 'ALL' AS scope, {_QSK_BUCKET} AS b,
                   count(*) AS cnt
            FROM cents GROUP BY 1, 2, 3
        ),
        cum AS (
            SELECT event_type, scope, b, cnt,
                   sum(cnt) OVER (PARTITION BY event_type, scope ORDER BY b
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(cnt) OVER (PARTITION BY event_type, scope) AS n
            FROM both_scopes
        )
        SELECT event_type, scope, CAST(max(n) AS INT) AS n_events, {sk_cols}
        FROM cum GROUP BY event_type, scope
    """


# --- native session windows ------------------------------------------------------


def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via Spark's BUILT-IN ``session_window``
    operator -- the idiomatic twin of the hand-rolled
    ``evt_sessionize`` (lag -> flag -> running sum).  Catalyst plans
    this as a single UpdatingSessionsExec-backed aggregation: one
    shuffle on the user key, sessions merged inside the aggregate --
    no window-function pass at all, and the same code runs unchanged
    under Structured Streaming with a watermark.  Keeping both
    variants is deliberate: the custom one is the portable recipe, the
    native one is what a Spark-first pipeline should actually deploy.

    Boundary semantics differ from ``evt_sessionize`` BY SPEC and the
    oracle encodes it: a session window is [start, last + gap), so an
    event arriving exactly ``gap`` after the previous one starts a NEW
    session (strict <), where the custom op's ``diff > gap`` test
    keeps it.  The DuckDB oracle therefore flags ``diff >= gap`` and
    reconstructs end = max(ts) + gap -- a different algorithm
    (window-function scan) proving the native operator's exact
    semantics."""
    df = events_df(spark, sf_dir).select(
        "user_id",
        "ts",
        # integer cents (the r10 float rule): a session's value sum is
        # exact under any partial-agg merge order
        F.expr("cast(round(value * 100, 0) as bigint)").alias("c"),
    )
    return (
        df.groupBy(
            # the gap string derives from THE constant, so op and
            # oracle cannot silently desync (r10 review)
            F.session_window(
                "ts", f"{SESSION_GAP_MS} milliseconds"
            ).alias("w"),
            "user_id",
        )
        .agg(
            F.count("*").cast("int").alias("n_events"),
            F.expr(
                "round(cast(sum(c) as double) / 100.0, 3)"
            ).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def session_window_native_oracle() -> str:
    return f"""
        WITH e AS (
            SELECT user_id, ts, value, epoch_ms(ts) AS ms FROM events
        ),
        flagged AS (
            SELECT *, CASE WHEN ms - lag(ms) OVER w >= {SESSION_GAP_MS}
                           THEN 1 ELSE 0 END AS new_session
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ms)
        ),
        numbered AS (
            SELECT *, sum(new_session) OVER
                (PARTITION BY user_id ORDER BY ms
                 ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM flagged
        )
        SELECT user_id,
               min(ts)::TIMESTAMP AS session_start,
               (max(ts) + INTERVAL {SESSION_GAP_MS} MILLISECOND)
                   ::TIMESTAMP AS session_end,
               CAST(count(*) AS INT) AS n_events,
               round(sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0, 3)
                   AS session_value
        FROM numbered
        GROUP BY user_id, session_seq
    """


# --- gap fill + LOCF (hypertable-style) --------------------------------------


def gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-fill + last-observation-carried-forward per event_type.

    The hypertable pattern (TimescaleDB ``time_bucket_gapfill`` +
    ``locf``; absent from the reference, which has no temporal surface
    at all -- SURVEY.md §2.3): aggregate to an hourly series per
    event_type, then materialize EVERY hour between the series' own
    first and last observation, flagging gaps and carrying the last
    observed value forward into them.

    Scale shape: the dense grid is built distributed --
    ``sequence(min_hour, max_hour, interval 1 hour)`` exploded per
    series key, so grid construction parallelizes over series, never
    the driver.  The left join grid<-observed is co-partitioned on
    (series, hour); LOCF is one window pass partitioned by series.  At
    100 TB the series key is (entity, metric) with millions of small
    partitions -- every step here scales horizontally with the number
    of series, and nothing is proportional to the gap count on the
    driver.

    The DuckDB oracle deliberately implements LOCF a DIFFERENT way --
    a native ASOF LEFT JOIN from the grid back to the observations
    (greatest observed hour <= grid hour) -- so a hash match
    cross-validates the carry-forward semantics rather than the
    transcription.
    """
    df = events_df(spark, sf_dir)
    obs = df.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("window_start")
    ).agg(
        F.count("*").cast("int").alias("n_events"),
        F.round(F.sum("value"), 3).alias("total_value"),
    )
    ext = obs.groupBy("event_type").agg(
        F.min("window_start").alias("h0"), F.max("window_start").alias("h1")
    )
    grid = ext.select(
        "event_type",
        F.explode(
            F.expr("sequence(h0, h1, interval 1 hour)")
        ).alias("window_start"),
    )
    g = grid.join(obs, ["event_type", "window_start"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return g.select(
        "event_type",
        "window_start",
        F.when(F.col("n_events").isNull(), 1).otherwise(0).cast("int").alias("gap"),
        F.coalesce("n_events", F.lit(0)).cast("int").alias("n_events"),
        F.last("total_value", ignorenulls=True).over(w).alias("locf_value"),
    ).filter(
        # row-level invariant guard (gap is 0/1, counts non-negative).
        # Also load-bearing for measurement: obs is unique on the join
        # key, so a bare count() would otherwise let Catalyst ELIMINATE
        # the grid<-obs left join and the LOCF window entirely, timing
        # only grid generation (r13 audit: 1 join -> 0 under count()).
        # locf_value is provably non-null (each series' grid starts at
        # its own first OBSERVED hour), so referencing it keeps the
        # window in every consumer's plan without dropping a row
        (F.col("gap").isin(0, 1))
        & (F.col("n_events") >= 0)
        & F.col("locf_value").isNotNull()
    )


def gapfill_locf_oracle() -> str:
    return """
        WITH obs AS (
            SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS h,
                   CAST(count(*) AS INT) AS n_events,
                   round(sum(value), 3) AS total_value
            FROM events GROUP BY 1, 2
        ),
        ext AS (
            SELECT event_type, min(h) AS h0, max(h) AS h1 FROM obs GROUP BY 1
        ),
        grid AS (
            SELECT event_type,
                   unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                       ::TIMESTAMP AS window_start
            FROM ext
        )
        SELECT g.event_type, g.window_start,
               CAST(CASE WHEN o.n_events IS NULL THEN 1 ELSE 0 END AS INT)
                   AS gap,
               CAST(coalesce(o.n_events, 0) AS INT) AS n_events,
               l.total_value AS locf_value
        FROM grid g
        LEFT JOIN obs o
          ON o.event_type = g.event_type AND o.h = g.window_start
        ASOF LEFT JOIN obs l
          ON l.event_type = g.event_type AND l.h <= g.window_start
    """


# --- sliding-window funnel (ClickHouse windowFunnel parity) -------------------

WF_WINDOW_MS = 21_600_000  # 6 h: the WHOLE chain must fit in one window


def window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window funnel: per-level user counts where the ENTIRE
    view -> click -> purchase chain must fit inside one WF_WINDOW_MS
    window anchored at the view.

    ClickHouse ``windowFunnel`` semantics, genuinely different from
    ``evt_funnel``: that op is greedy first-match with a fresh window
    per step -- it can MISS a complete chain that a later view would
    anchor (first view's window empty, second view's window full).
    Here the level is the MAX over every candidate anchor view, so the
    answer is anchor-order independent.

    Implementation is one aggregation plus array expressions -- no
    per-user window sort, no UDF: per user, the three stages' epoch-ms
    lists are collected (state bounded by that user's own event counts,
    the same bound every sessionizer carries), then
    ``max over views v of: 1 + [earliest click in (v, v+W]] + [any
    purchase after that click, still <= v+W]`` evaluates entirely in
    whole-stage codegen via transform/filter/array_min/array_max.
    Greedy-earliest click is optimal for a fixed anchor (it maximizes
    the purchase's remaining budget), so the nested expression computes
    the true max level, not a heuristic.  Exact integer milliseconds
    throughout; the DuckDB oracle evaluates the same max with list
    comprehensions.

    Scale shape: one user_id-partitioned aggregation over only the
    three stage types (filter pushed to the scan), then a tiny
    level-count rollup.  Per-user array work is O(V * C) worst case --
    bounded by per-user activity, embarrassingly parallel across users.
    """
    e = events_df(spark, sf_dir).filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("user_id", "event_type", F.expr("unix_millis(ts)").alias("ms"))
    per_user = e.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "view", F.col("ms")))
        ).alias("vs"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "click", F.col("ms")))
        ).alias("cs"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("event_type") == "purchase", F.col("ms"))
            )
        ).alias("ps"),
    )
    w = WF_WINDOW_MS
    level_expr = f"""
        CASE WHEN size(vs) = 0 THEN 0 ELSE
            array_max(transform(vs, v ->
                CASE WHEN size(filter(cs, c -> c > v AND c <= v + {w}L)) = 0
                     THEN 1
                     ELSE CASE WHEN size(filter(ps, p ->
                                p > array_min(filter(cs,
                                    c -> c > v AND c <= v + {w}L))
                                AND p <= v + {w}L)) = 0
                          THEN 2 ELSE 3 END
                END))
        END
    """
    return (
        per_user.select(F.expr(level_expr).cast("int").alias("level"))
        .groupBy("level")
        .agg(F.count("*").cast("int").alias("n_users"))
    )


def window_funnel_oracle() -> str:
    w = WF_WINDOW_MS
    return f"""
        WITH e AS (
            SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
        ),
        per_user AS (
            SELECT user_id,
                   list_sort(coalesce(list(ms) FILTER (WHERE event_type = 'view'), [])) AS vs,
                   list_sort(coalesce(list(ms) FILTER (WHERE event_type = 'click'), [])) AS cs,
                   list_sort(coalesce(list(ms) FILTER (WHERE event_type = 'purchase'), [])) AS ps
            FROM e GROUP BY user_id
        ),
        levels AS (
            SELECT CAST(CASE WHEN len(vs) = 0 THEN 0 ELSE
                list_max([
                    CASE WHEN len(list_filter(cs,
                             c -> c > v AND c <= v + {w})) = 0
                         THEN 1
                         ELSE CASE WHEN len(list_filter(ps,
                                    p -> p > list_min(list_filter(cs,
                                        c -> c > v AND c <= v + {w}))
                                    AND p <= v + {w})) = 0
                              THEN 2 ELSE 3 END
                    END
                    for v in vs])
            END AS INT) AS level
            FROM per_user
        )
        SELECT level, CAST(count(*) AS INT) AS n_users
        FROM levels GROUP BY level
    """
