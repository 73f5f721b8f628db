"""Skew-aware join helpers.

At 100 TB a handful of hot keys can pin an entire sort-merge join on one
task.  Two remedies, both result-equivalent to a plain inner join:

- AQE skew-join splitting (``spark.sql.adaptive.skewJoin.enabled``, on in
  the ``default`` session profile) -- zero code, preferred.
- Explicit salting for engines/paths where AQE can't help (e.g. a
  skewed key joined to a non-broadcastable mid-size table):
  ``salted_join`` fans each hot build-side row out to N salt replicas
  and scatters probe-side rows across them, so the hot key's work is
  spread over N tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .sources import read_parquet

SALT_COL = "__salt__"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Inner/left join of ``big`` (skewed probe side) with ``small``
    (replicated build side) on equality of ``on`` columns, salted
    ``salt`` ways.

    big rows get a deterministic pseudo-random salt in [0, salt);
    small rows are replicated once per salt value.  The join key becomes
    (on..., salt), splitting every hot key into ``salt`` shuffle
    partitions.  Replication multiplies the small side by ``salt`` --
    use only when small * salt still fits comfortably per executor.
    """
    keys = [on] if isinstance(on, str) else list(on)
    big_salted = big.withColumn(
        SALT_COL,
        F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.monotonically_increasing_id()), F.lit(salt)),
    )
    small_salted = small.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    joined = big_salted.join(small_salted, on=keys + [SALT_COL], how=how)
    return joined.drop(SALT_COL)


def skew_demo(big_or_spark, sf_dir: str | None = None) -> DataFrame:
    """Gate-visible salted-join demo: events (probe side, user_id skew at
    scale) salted-joined to the customer dimension, then aggregated per
    segment.  Results are identical to the plain join -- the DuckDB
    oracle runs the unsalted SQL, so the hash match proves salting is
    result-invariant while the (key, salt) shuffle splits hot keys
    across `salt` tasks."""
    from .session import configure_runtime, events_df

    spark = big_or_spark
    configure_runtime(spark)
    big = events_df(spark, sf_dir).select("user_id", "value")
    small = (
        read_parquet(spark, sf_dir, f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    joined = salted_join(big, small, on="user_id")
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 3).alias("total_value"),
    )


def skew_demo_oracle() -> str:
    return """
        SELECT c.c_mktsegment, count(*) AS n_events,
               round(sum(e.value), 3) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
    """


HOT_FACTOR = 1.2  # a key is hot when its row count > HOT_FACTOR * mean
# (the synthetic events table is near-uniform per user; 1.2x the mean
#  isolates the top ~6% tail so the hot path is actually exercised --
#  in production this is an absolute rows-per-task bound instead)


def hotkey_hybrid_join(spark, sf_dir: str | None = None) -> DataFrame:
    """Hot-key-isolation hybrid join -- the OTHER classic skew remedy.

    Where ``salted_join`` spreads every key across salt replicas,
    hot-key isolation splits the probe side into a hot slice (the few
    keys whose row count exceeds HOT_FACTOR x the mean) and a cold
    remainder.  The hot slice joins a BROADCAST of the dimension rows
    for exactly those keys (tiny by definition: few hot keys), so the
    hot keys never shuffle at all; the cold slice takes the normal
    shuffle join, which is skew-free by construction.  Union, then
    aggregate.

    Result-invariant: hot ∪ cold partitions the probe side exactly, so
    the union equals the plain inner join -- the DuckDB oracle runs the
    unsalted, unsplit SQL (with the same hot definition recomputed
    independently for the n_hot_events column) and must hash-match.

    Scale notes: the hot-key list is driver state by definition of
    'hot' (a handful of keys; here it is kept as a broadcast DataFrame,
    never collected); the dimension stays un-broadcast for the cold
    path, which is the regime where salting/isolation matters at all
    (a dimension small enough to broadcast wholesale needs neither).
    """
    from .session import configure_runtime, events_df

    spark_ = spark
    configure_runtime(spark_)
    probe = events_df(spark_, sf_dir).select("user_id", "value")
    dim = (
        read_parquet(spark_, sf_dir, f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
    )

    per_key = probe.groupBy("user_id").agg(F.count("*").alias("cnt"))
    # one scalar of model state: the mean per-key count
    mean_cnt = per_key.agg(F.avg("cnt").alias("m")).collect()[0]["m"]
    hot_keys = per_key.filter(
        F.col("cnt") > HOT_FACTOR * float(mean_cnt)
    ).select("user_id")

    flagged = probe.join(
        F.broadcast(hot_keys.withColumn("is_hot", F.lit(1))),
        on="user_id",
        how="left",
    )
    hot_probe = flagged.filter(F.col("is_hot") == 1)
    cold_probe = flagged.filter(F.col("is_hot").isNull()).withColumn(
        "is_hot", F.lit(0)
    )

    dim_hot = dim.join(F.broadcast(hot_keys), on="user_id")
    hot_joined = hot_probe.join(F.broadcast(dim_hot), on="user_id")
    cold_joined = cold_probe.join(dim, on="user_id")

    return (
        hot_joined.unionByName(cold_joined)
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 3).alias("total_value"),
            F.sum("is_hot").cast("bigint").alias("n_hot_events"),
        )
    )


def hotkey_hybrid_join_oracle() -> str:
    return f"""
        WITH per_key AS (
            SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
        ),
        hot AS (
            SELECT user_id FROM per_key
            WHERE cnt > {HOT_FACTOR} * (SELECT avg(cnt) FROM per_key)
        )
        SELECT c.c_nationkey, count(*) AS n_events,
               round(sum(e.value), 3) AS total_value,
               CAST(sum(CASE WHEN h.user_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hot_events
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        LEFT JOIN hot h ON h.user_id = e.user_id
        GROUP BY 1
    """
