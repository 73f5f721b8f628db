"""Temporal (batch) + Structured Streaming operators vs DuckDB oracles."""

import pytest

from query_optimizer_spark import streaming
from query_optimizer_spark.functions import temporal
from query_optimizer_spark.harness import result_hash
from query_optimizer_spark.state import evidence

from .conftest import SF_DIR
from .test_spark_exec import duck_hash

BATCH_OPS = {
    "evt_hourly_rollup": (temporal.hourly_rollup, temporal.hourly_rollup_oracle()),
    "evt_sessionize": (temporal.sessionize, temporal.sessionize_oracle()),
    "evt_asof_join": (temporal.asof_join, temporal.asof_join_oracle()),
}


@pytest.mark.parametrize("name", sorted(BATCH_OPS))
def test_temporal_matches_duckdb(name, spark, duck):
    runner, oracle = BATCH_OPS[name]
    df = runner(spark, SF_DIR)
    got = result_hash(df)
    expected = duck_hash(duck, oracle)
    assert got[0] > 0
    assert got == expected, f"{name}: spark={got} duck={expected}"


def test_stream_hourly_matches_batch_oracle(spark, duck):
    df = streaming.hourly_counts_stream(spark, SF_DIR)
    got = result_hash(df)
    expected = duck_hash(duck, streaming.hourly_counts_stream_oracle())
    assert got[0] > 0
    assert got == expected


def test_stream_sessionize_matches_oracle(spark, duck):
    df = streaming.sessionize_stream(spark, SF_DIR)
    got = result_hash(df)
    expected = duck_hash(duck, streaming.sessionize_stream_oracle())
    assert got[0] > 0
    assert got == expected


def test_stream_is_streaming(spark):
    sdf = streaming.stream_events(spark, SF_DIR)
    assert sdf.isStreaming


def test_stream_hll_state_is_one_row_per_key(spark, duck):
    """The streaming HLL's whole point: state is ONE register-vector
    row per event_type (bounded by the key domain), never one row per
    user.  Checked from the query's own stateOperators progress
    metric, against the exact distinct counts it is summarizing."""
    from query_optimizer_spark.streaming.ops import hll_users_stream

    out = hll_users_stream(spark, SF_DIR).collect()
    n_types, n_users = duck.execute(
        "SELECT count(DISTINCT event_type), count(DISTINCT user_id)"
        " FROM events"
    ).fetchone()
    assert len(out) == n_types
    audit = evidence(spark, SF_DIR, "stream_audit")
    ops_m = (audit.get("progress") or {}).get(
        "stateOperators"
    ) or [{}]
    state_rows = ops_m[0].get("numRowsTotal", -1)
    assert state_rows == n_types, (
        f"HLL state should be one row per event_type ({n_types}), "
        f"got {state_rows} (users: {n_users})"
    )
    # the m=256 sketch's standard error is ~6.5%; the testdata's
    # per-type distinct-user counts are far below m, so the
    # linear-counting regime applies and estimates land well inside
    # 2x -- sanity, not the bit-exactness the oracle gate proves
    for r in out:
        assert r.used_registers <= 256
        assert 0 < r.hll_users_estimate


def test_stream_feedback_bridge_broadcast_decision(spark):
    """The streaming feedback bridge: the recording pass stores the
    join's observed state rows; the warm pass broadcasts the dimension
    side iff the OBSERVED count fits the threshold -- and either
    strategy returns exactly the stream-stream join's rows."""
    from query_optimizer_spark.oracle import FeedbackStore
    from query_optimizer_spark.streaming.ops import feedback_broadcast_join

    expected = result_hash(streaming.join_stream(spark, SF_DIR))

    store = FeedbackStore()
    warm = feedback_broadcast_join(spark, SF_DIR, store=store)
    observed = store.stream_observation("stream_join", "state_rows_total")
    assert observed is not None and observed > 0
    assert store.stream_observation("stream_join", "input_rows") > 0
    # the observe() click-side count is the full dimension cardinality:
    # at least the retained state rows, and equal to the batch count
    clicks = store.stream_observation("stream_join", "click_side.n")
    assert clicks is not None and clicks >= observed
    from query_optimizer_spark.session import events_df

    n_clicks = (
        events_df(spark, SF_DIR).filter("event_type = 'click'").count()
    )
    assert clicks == n_clicks
    # sf0.001 clicks are tiny -> observed count says broadcast
    assert "BroadcastHashJoin" in evidence(spark, SF_DIR, "stream_audit")["plan"]
    assert result_hash(warm) == expected

    # negative path: a store claiming a huge dimension forces the
    # shuffle strategy -- different plan, same rows
    big = FeedbackStore()
    big.record_stream("stream_join", "state_rows_total", 1e9)
    cold = feedback_broadcast_join(spark, SF_DIR, store=big)
    assert "BroadcastHashJoin" not in evidence(
        spark, SF_DIR, "stream_audit"
    )["plan"]
    assert result_hash(cold) == expected


def test_stream_asof_matches_batch_asof(spark):
    """The streaming carry-forward as-of must equal the batch window
    as-of row-for-row -- two independent implementations, one
    semantics (the oracle checks both against DuckDB's native ASOF
    JOIN; this checks them against each other)."""
    from query_optimizer_spark.functions.temporal import asof_join
    from query_optimizer_spark.streaming import asof_stream

    from .conftest import SF_DIR

    batch = {
        (r.event_id, r.user_id, r.purchase_value, r.ms_since_purchase)
        for r in asof_join(spark, SF_DIR).collect()
    }
    stream = {
        (r.event_id, r.user_id, r.purchase_value, r.ms_since_purchase)
        for r in asof_stream(spark, SF_DIR).collect()
    }
    assert batch and stream == batch


def test_stream_asof_late_batch_cannot_regress_state():
    """A micro-batch arriving OUT of event-time order (late file) must
    neither regress the carried purchase state nor join a click to an
    older purchase than the best one seen so far (r6 ADVICE: the
    pre-fix carry overwrote state with the batch's last purchase
    unconditionally)."""
    import pandas as pd

    from query_optimizer_spark.streaming.ops import _asof_fn

    class FakeState:
        def __init__(self):
            self.exists = False
            self.get = None

        def update(self, tup):
            self.exists = True
            self.get = tup

    def batch(rows):
        return pd.DataFrame(
            rows, columns=["event_id", "user_id", "ms", "is_click", "value"]
        )

    state = FakeState()
    # batch 1: one purchase at ms=100
    out1 = list(_asof_fn((7,), iter([batch([[1, 7, 100, 0, 10.0]])]), state))
    assert out1 == [] and state.get == (100, 10.0, 1)
    # batch 2 (late): an OLDER purchase at ms=50, clicks at 60 and 120
    out2 = pd.concat(
        list(
            _asof_fn(
                (7,),
                iter(
                    [
                        batch(
                            [
                                [2, 7, 50, 0, 5.0],
                                [3, 7, 60, 1, 0.0],
                                [4, 7, 120, 1, 0.0],
                            ]
                        )
                    ]
                ),
                state,
            )
        )
    )
    got = {
        int(r.event_id): (float(r.purchase_value), int(r.ms_since_purchase))
        for r in out2.itertuples()
    }
    # click@60 -> purchase@50 (most recent <= 60); click@120 -> the
    # CARRIED purchase@100, not the batch-local older one
    assert got == {3: (5.0, 10), 4: (10.0, 20)}
    # state did not regress to ms=50 and carries the real event_id
    assert state.get == (100, 10.0, 1)


def test_stream_asof_cross_batch_equal_ms_tie_uses_event_id():
    """Cross-batch equal-ms purchase ties must resolve by the SAME
    (ms, is_click, event_id) total order as within-batch ties: the
    carried purchase re-enters the next batch as a virtual row with its
    REAL event_id (r7 ADVICE: a sentinel -1 id made a later batch's
    equal-ms purchase always win, even against a carried purchase with
    the higher event_id)."""
    import pandas as pd

    from query_optimizer_spark.streaming.ops import _asof_fn

    class FakeState:
        def __init__(self):
            self.exists = False
            self.get = None

        def update(self, tup):
            self.exists = True
            self.get = tup

    def batch(rows):
        return pd.DataFrame(
            rows, columns=["event_id", "user_id", "ms", "is_click", "value"]
        )

    state = FakeState()
    # batch 1: purchase event_id=9 at ms=100
    list(_asof_fn((7,), iter([batch([[9, 7, 100, 0, 10.0]])]), state))
    assert state.get == (100, 10.0, 9)
    # batch 2 (late duplicate-ms): purchase event_id=2 at the SAME
    # ms=100 with a different value, then a click
    out = pd.concat(
        list(
            _asof_fn(
                (7,),
                iter([batch([[2, 7, 100, 0, 5.0], [3, 7, 150, 1, 0.0]])]),
                state,
            )
        )
    )
    got = {
        int(r.event_id): (float(r.purchase_value), int(r.ms_since_purchase))
        for r in out.itertuples()
    }
    # within-batch semantics: at equal ms the HIGHER event_id (9) is
    # the later purchase, so the click joins to value 10.0 -- and the
    # carried state keeps event_id 9, not the later batch's 2
    assert got == {3: (10.0, 50)}
    assert state.get == (100, 10.0, 9)


def test_value_quantiles_match_sorted_definition(spark, duck):
    """The histogram-walk quantile must equal the brute-force type-1
    quantile computed by sorting each group (independent check of the
    cum*100 >= q*n arithmetic)."""
    import math

    from query_optimizer_spark.functions.temporal import value_quantiles

    from .conftest import SF_DIR

    rows = {r.event_type: r for r in value_quantiles(spark, SF_DIR).collect()}
    for etype, r in rows.items():
        vals = [
            v
            for (v,) in duck.execute(
                "SELECT value FROM events WHERE event_type = ?"
                " ORDER BY value",
                [etype],
            ).fetchall()
        ]
        assert r.n_events == len(vals)
        for q, got in ((50, r.p50), (90, r.p90), (99, r.p99)):
            expect = vals[math.ceil(q * len(vals) / 100) - 1]
            assert got == expect, (etype, q, got, expect)


def test_markov_stationary_is_fixpoint(spark, duck):
    """The reported distribution sums to ~1 and is (near-)invariant
    under one more exact transition step -- the fixpoint property that
    defines stationarity."""
    from query_optimizer_spark.functions.temporal import markov_stationary

    from .conftest import SF_DIR

    rows = {r.event_type: r for r in
            markov_stationary(spark, SF_DIR).collect()}
    total = sum(r.stationary for r in rows.values())
    assert total == __import__("pytest").approx(1.0, abs=1e-4)
    # exact transition probabilities from the data
    trans = duck.execute("""
        WITH o AS (
            SELECT event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY epoch_ms(ts), event_id)
                       AS next_type
            FROM events
        )
        SELECT event_type, next_type, count(*)
        FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2
    """).fetchall()
    C = {(t, u): n for t, u, n in trans}
    types = sorted(rows)
    rs = {t: sum(C.get((t, u), 0) for u in types) for t in types}
    pi = {t: rows[t].stationary for t in types}
    nxt = {
        u: sum(pi[t] * C.get((t, u), 0) / rs[t] for t in types if rs[t])
        for u in types
    }
    for t in types:
        assert abs(nxt[t] - pi[t]) < 5e-3, t  # one more step barely moves


def test_markov_stationary_source_only_type_matches_oracle(spark, tmp_path):
    """An event_type that only ever appears as a transition SOURCE
    (here 'first': each user's opening event, never a successor) must
    get an explicit zero-mass row from BOTH the engine and the oracle.
    The sf0.01 testdata happens to have every type on both sides of
    some transition, so this is exactly the divergence the driver gate
    cannot see (r6 ADVICE, medium): the pre-fix oracle dropped the row."""
    import datetime

    import duckdb
    import pandas as pd

    from query_optimizer_spark.functions.temporal import (
        markov_stationary,
        markov_stationary_oracle,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid, seq in enumerate(
        [["first", "loop", "loop", "sink"], ["first", "sink", "loop"]]
    ):
        for i, etype in enumerate(seq):
            rows.append(
                {
                    "event_id": eid,
                    "ts": base + datetime.timedelta(minutes=eid),
                    "user_id": uid,
                    "event_type": etype,
                    "value": 1.0,
                    "props": "{}",
                }
            )
            eid += 1
    pd.DataFrame(rows).to_parquet(tmp_path / "events.parquet")

    got = {
        r.event_type: (r.stationary_q, r.stationary)
        for r in markov_stationary(spark, str(tmp_path)).collect()
    }
    assert set(got) == {"first", "loop", "sink"}
    assert got["first"] == (0, 0.0)  # present, zero mass

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'events.parquet'}')"
    )
    oracle = {
        t: (int(q), s)
        for t, q, s in con.execute(
            "SELECT event_type, stationary_q, stationary FROM ("
            + markov_stationary_oracle()
            + ")"
        ).fetchall()
    }
    assert oracle == got


def test_scd2_intervals_tile_each_user(spark):
    """evt_scd2_intervals (r8): per user the intervals must tile the
    timeline -- dense versions, each interval closed by the next one's
    start, exactly one open (current) interval, and no two consecutive
    intervals with the same tier (the compression invariant)."""
    from query_optimizer_spark.functions.registry import PIPELINE_OPS

    rows = PIPELINE_OPS["evt_scd2_intervals"][0](spark, SF_DIR).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r.version)
        assert [r.version for r in ivs] == list(range(1, len(ivs) + 1))
        assert sum(1 for r in ivs if r.is_current) == 1
        assert ivs[-1].is_current and ivs[-1].valid_to_ms is None
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to_ms == b.valid_from_ms, user
            assert a.tier != b.tier, user
            assert a.valid_from_ms < a.valid_to_ms or (
                # equal-ms change events are legal: the order key is
                # (ms, event_id), so a later event at the same ms may
                # open the next interval at an equal timestamp
                a.valid_from_ms == a.valid_to_ms
            )


def test_stream_incremental_dedup_matches_batch_probe(spark, duck):
    """The ingest loop's streaming leg must emit EXACTLY the batch
    probe's answer (same split, same stored index, same threshold) and
    hash-match the shared raw-text oracle -- stream, batch, and
    recompute all agree."""
    from query_optimizer_spark.functions import dedup

    sdf = streaming.incremental_dedup_stream(spark, SF_DIR)
    got = sorted(map(tuple, sdf.collect()))
    batch = sorted(
        map(tuple, dedup.incremental_minhash_pairs(spark, SF_DIR).collect())
    )
    assert got == batch and got
    assert result_hash(sdf) == duck_hash(
        duck, streaming.incremental_dedup_stream_oracle()
    )


def test_stream_kmv_distinct_matches_batch_sketch(spark, duck):
    """stream_kmv_distinct (r12): the streaming K-minimum state must
    reproduce the batch-built sketch EXACTLY -- same K smallest hashes
    per source (the K-min merge is order/batching-agnostic), so the
    theta distinct estimates are bit-identical to the relational
    oracle; and the estimate must sit within the KMV sampling error of
    the true per-source distinct shingle count."""
    from query_optimizer_spark import streaming
    from query_optimizer_spark.functions import text
    from query_optimizer_spark.functions.constants import KMV_K
    from query_optimizer_spark.harness import result_hash
    from pyspark.sql import functions as F

    df = streaming.kmv_distinct_stream(spark, SF_DIR)
    rows = df.collect()
    assert result_hash(df) == duck_hash(
        duck, streaming.kmv_distinct_stream_oracle()
    )

    # exact per-source distinct shingle counts (batch side)
    toks = text._kmv_shared(spark, SF_DIR)["toks"]
    exact = {
        r.source: r.n
        for r in toks.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert len(rows) == len(exact)
    for r in rows:
        n = exact[r.source]
        if n <= KMV_K:
            assert r.kmv_distinct_est == float(n), r
        else:
            # 6-sigma relative bound ~ 6/sqrt(K)
            assert abs(r.kmv_distinct_est / n - 1) <= 6.0 / KMV_K ** 0.5, (
                r, n,
            )


def test_stream_cdc_tail_per_commit_batches(spark, duck):
    """stream_cdc_tail (r15): (a) the streaming CDC summary matches the
    from-raw oracle, (b) each commit rode its own micro-batch (the op
    raise-enforces this internally; re-assert from the captured
    progress), (c) streaming state is bounded by the (version, change)
    group count, and (d) a warm rerun reuses the feed (the _FEED_DONE
    marker survives) and agrees."""
    df = streaming.cdc_tail_stream(spark, SF_DIR)
    got = result_hash(df)
    assert got == duck_hash(duck, streaming.cdc_tail_stream_oracle())
    rows = df.collect()
    assert {(r.to_version, r.change) for r in rows} == {
        (2, "insert"),
        (3, "delete"),
    }
    prog = evidence(spark, SF_DIR, "stream_audit").get("progress") or {}
    state = prog.get("stateOperators") or []
    if state:  # complete-mode agg state: one row per group
        assert state[0].get("numRowsTotal", 0) <= len(rows)
    # warm rerun: feed marker survives, result identical
    import json
    from pathlib import Path

    from query_optimizer_spark.sources import session_state_path

    feed = Path(session_state_path(spark, SF_DIR, "cdc_feed"))
    assert (feed / "_FEED_DONE").exists()
    marker_mtime = (feed / "_FEED_DONE").stat().st_mtime_ns
    assert result_hash(streaming.cdc_tail_stream(spark, SF_DIR)) == got
    assert (feed / "_FEED_DONE").stat().st_mtime_ns == marker_mtime


def test_stream_asof_bucketed_matches_per_user():
    """The bucket-level vectorized as-of state function (r15 opt: one
    Python call per bucket instead of one per user) must reproduce the
    per-user reference implementation row for row AND state for state
    over randomized multi-batch input -- including late batches and
    cross-batch equal-ms ties (small ms range forces collisions)."""
    import random

    import pandas as pd

    from query_optimizer_spark.streaming.ops import (
        _asof_fn,
        _asof_fn_bucketed,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self.get = None

        def update(self, tup):
            self.exists = True
            self.get = tup

    rng = random.Random(1234)
    users = [3, 7, 11, 12, 20, 21, 35]
    eid = [0]

    def mk_batch(n):
        rows = []
        for _ in range(n):
            eid[0] += 1
            rows.append(
                [
                    eid[0],
                    rng.choice(users),
                    rng.randrange(0, 60),  # tiny range -> equal-ms ties
                    rng.randint(0, 1),
                    float(rng.randint(1, 50)),
                ]
            )
        # shuffle event ids out of ms order -> late arrivals
        rng.shuffle(rows)
        return pd.DataFrame(
            rows, columns=["event_id", "user_id", "ms", "is_click", "value"]
        )

    batches = [mk_batch(50) for _ in range(4)]

    def harvest(frames):
        out = set()
        for f in frames:
            for r in f.itertuples():
                out.add(
                    (
                        int(r.event_id),
                        int(r.user_id),
                        float(r.purchase_value),
                        int(r.ms_since_purchase),
                    )
                )
        return out

    ref_out = set()
    ref_states = {u: FakeState() for u in users}
    for b in batches:
        for u in users:
            sub = b[b.user_id == u].reset_index(drop=True)
            if len(sub) == 0:
                continue  # per-user operator not invoked for absent keys
            ref_out |= harvest(
                _asof_fn((u,), iter([sub]), ref_states[u])
            )

    n_buckets = 3
    got_out = set()
    bstates = {r: FakeState() for r in range(n_buckets)}
    for b in batches:
        for r in range(n_buckets):
            sub = b[b.user_id % n_buckets == r].reset_index(drop=True)
            if len(sub) == 0:
                continue
            got_out |= harvest(
                _asof_fn_bucketed((r,), iter([sub]), bstates[r])
            )

    assert ref_out and got_out == ref_out
    # final carried purchases agree per user
    ref_final = {
        u: st.get
        for u, st in ref_states.items()
        if st.exists and st.get[0] is not None
    }
    got_final = {}
    for st in bstates.values():
        if not st.exists:
            continue
        su, sm, sv, se = st.get
        for u, m, v, e in zip(su, sm, sv, se):
            got_final[int(u)] = (int(m), float(v), int(e))
    assert got_final == ref_final


def test_stream_funnel_bucketed_matches_per_user():
    """The bucket-level funnel state function (r15 opt) must emit the
    same (user, level) rows and carry the same per-user stage lists as
    the per-user reference over randomized multi-batch input."""
    import random

    import pandas as pd

    from query_optimizer_spark.streaming.ops import _wf_fn, _wf_fn_bucketed

    class FakeState:
        def __init__(self):
            self.exists = False
            self.get = None

        def update(self, tup):
            self.exists = True
            self.get = tup

    rng = random.Random(99)
    users = [2, 5, 9, 14, 15, 33]

    def mk_batch(n):
        rows = []
        for _ in range(n):
            rows.append(
                [
                    rng.choice(users),
                    rng.choice(["view", "click", "purchase"]),
                    rng.randrange(0, 10_000_000),
                ]
            )
        return pd.DataFrame(rows, columns=["user_id", "event_type", "ms"])

    batches = [mk_batch(60) for _ in range(3)]

    def harvest(frames):
        rows = []
        for f in frames:
            for r in f.itertuples():
                rows.append((int(r.user_id), int(r.level)))
        return sorted(rows)

    ref_rows = []
    ref_states = {u: FakeState() for u in users}
    for b in batches:
        per_batch = []
        for u in users:
            sub = b[b.user_id == u].reset_index(drop=True)
            if len(sub) == 0:
                continue
            per_batch += harvest(_wf_fn((u,), iter([sub]), ref_states[u]))
        ref_rows.append(sorted(per_batch))

    n_buckets = 2
    got_rows = []
    bstates = {r: FakeState() for r in range(n_buckets)}
    for b in batches:
        per_batch = []
        for r in range(n_buckets):
            sub = b[b.user_id % n_buckets == r].reset_index(drop=True)
            if len(sub) == 0:
                continue
            per_batch += harvest(
                _wf_fn_bucketed((r,), iter([sub]), bstates[r])
            )
        got_rows.append(sorted(per_batch))

    assert any(ref_rows) and got_rows == ref_rows
    # final stage lists agree per user
    ref_final = {
        u: tuple(map(tuple, st.get))
        for u, st in ref_states.items()
        if st.exists
    }
    got_final = {}
    for st in bstates.values():
        if not st.exists:
            continue
        su, svs, scs, sps = st.get
        for u, v, c, p in zip(su, svs, scs, sps):
            got_final[int(u)] = (tuple(v), tuple(c), tuple(p))
    assert got_final == ref_final
