"""Gap sessionization and as-of join semantics (engine parity is covered
by the sessionize_events / asof_view_purchase contract queries)."""

from datetime import datetime

from nexus_forge_spark.operators.events import (
    asof_join,
    session_stats,
    sessionize,
)

SCHEMA = "event_id long, ts timestamp_ntz, user_id long, value double"


def _ts(m, s=0, us=0):
    return datetime(2024, 1, 1, 0, m, s, us)


def test_sessionize_gap_boundary(spark):
    # gap of exactly 600s stays in-session (strict > starts a new one)
    rows = [
        (1, _ts(0), 7, 1.0),
        (2, _ts(10), 7, 1.0),          # +600s exactly -> same session
        (3, _ts(20, 0, 1), 7, 1.0),    # +600.000001s -> new session
        (4, _ts(0), 8, 1.0),           # other user independent
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {r.event_id: r.session_idx for r in sessionize(df).collect()}
    assert out == {1: 0, 2: 0, 3: 1, 4: 0}


def test_session_stats_rollup(spark):
    rows = [
        (1, _ts(0), 7, 1.25),
        (2, _ts(1), 7, 2.50),
        (3, _ts(30), 7, 4.00),  # 29-min gap -> second session
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {
        (r.user_id, r.session_idx): r.asDict()
        for r in session_stats(df).collect()
    }
    s0 = out[(7, 0)]
    assert s0["n_events"] == 2 and s0["value_cents"] == 375
    assert s0["span_us"] == 60_000_000
    s1 = out[(7, 1)]
    assert s1["n_events"] == 1 and s1["span_us"] == 0 and s1["value_cents"] == 400


def test_sessionize_ties_break_on_event_id(spark):
    # equal timestamps: event_id orders the lag chain deterministically
    rows = [(2, _ts(0), 7, 1.0), (1, _ts(0), 7, 1.0)]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {r.event_id: r.session_idx for r in sessionize(df).collect()}
    assert out == {1: 0, 2: 0}


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(10, _ts(5), 7, 9.9), (11, _ts(1), 7, 9.9), (12, _ts(3), 8, 9.9)],
        SCHEMA,
    )
    right = spark.createDataFrame(
        [(1, _ts(2), 7, 1.0), (2, _ts(4), 7, 2.0), (3, _ts(5), 7, 3.0)],
        SCHEMA,
    )
    out = {
        r.event_id: (r.prior_event_id, r.prior_value)
        for r in asof_join(
            left, right, "user_id", "ts", ["event_id", "value"]
        ).collect()
    }
    assert out[10] == (3, 3.0)      # tie at ts=5 -> right row wins (<=)
    assert out[11] == (None, None)  # nothing at-or-before ts=1
    assert out[12] == (None, None)  # user 8 has no right rows


def test_asof_join_keeps_left_columns_and_count(spark):
    left = spark.createDataFrame([(10, _ts(5), 7, 9.9)], SCHEMA)
    right = spark.createDataFrame([(1, _ts(2), 7, 1.0)], SCHEMA)
    out = asof_join(left, right, "user_id", "ts", ["value"])
    assert out.columns == ["event_id", "ts", "user_id", "value", "prior_value"]
    rows = out.collect()
    assert len(rows) == 1 and rows[0].value == 9.9 and rows[0].prior_value == 1.0


def test_sessionize_and_asof_randomized_vs_bruteforce(spark):
    """Seeded random event streams, compared against a driver-side
    brute-force oracle (same style as the mapping/resolve fuzz suites)."""
    import random

    from datetime import timedelta

    rng = random.Random(0xE5E5)
    data = []
    eid = 0
    for user in range(12):
        t = 0
        for _ in range(rng.randint(0, 40)):
            t += rng.randint(1, 900)  # seconds; gaps straddle the 600s gap
            data.append(
                (
                    eid,
                    datetime(2024, 1, 1) + timedelta(seconds=t),
                    user,
                    float(rng.randint(0, 500)) / 7,
                )
            )
            eid += 1
    df = spark.createDataFrame(data, SCHEMA)
    got = {r.event_id: r.session_idx for r in sessionize(df, 600).collect()}

    # brute force per user
    expect = {}
    by_user = {}
    for e, ts, u, v in data:
        by_user.setdefault(u, []).append((ts, e))
    for u, evs in by_user.items():
        evs.sort()
        sid, prev = -1, None
        for ts, e in evs:
            if prev is None or (ts - prev).total_seconds() > 600:
                sid += 1
            expect[e] = sid
            prev = ts
    assert got == expect

    # as-of: odd event_ids are "left", even are "right"
    left = df.where("event_id % 2 = 1")
    right = df.where("event_id % 2 = 0")
    out = {
        r.event_id: r.prior_event_id
        for r in asof_join(
            left, right, "user_id", "ts", ["event_id"]
        ).collect()
    }
    rights = {}
    for e, ts, u, v in data:
        if e % 2 == 0:
            rights.setdefault(u, []).append((ts, e))
    for u in rights:
        rights[u].sort()
    expect_asof = {}
    for e, ts, u, v in data:
        if e % 2 == 1:
            cand = [(rt, re) for rt, re in rights.get(u, []) if rt <= ts]
            expect_asof[e] = max(cand)[1] if cand else None
    assert out == expect_asof


def _iv(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, session_idx long, start_us long, end_us long"
    )


def test_interval_overlap_basic_and_exact_once(spark):
    from nexus_forge_spark.operators.events import interval_overlap_join

    W = 100
    # left interval spans buckets 0..5; right spans 2..7 -> 4 common buckets
    # but the pair must be emitted exactly once
    left = _iv(spark, [(1, 0, 10, 550)])
    right = _iv(spark, [(1, 0, 240, 760)])
    out = interval_overlap_join(left, right, "user_id", bucket_us=W).collect()
    assert len(out) == 1
    assert out[0]["overlap_us"] == 550 - 240


def test_interval_overlap_touching_and_disjoint(spark):
    from nexus_forge_spark.operators.events import interval_overlap_join

    left = _iv(spark, [(1, 0, 0, 100), (1, 1, 500, 600)])
    right = _iv(spark, [(1, 0, 100, 200),   # touches closed end -> overlap
                        (1, 1, 300, 499),   # disjoint
                        (2, 0, 0, 1000)])   # different key
    out = interval_overlap_join(left, right, "user_id", bucket_us=50).collect()
    assert len(out) == 1
    assert (out[0]["l_session_idx"], out[0]["r_session_idx"]) == (0, 0)
    assert out[0]["overlap_us"] == 0


def test_interval_overlap_randomized_vs_naive(spark):
    import random

    from pyspark.sql import functions as F
    from nexus_forge_spark.operators.events import interval_overlap_join

    rng = random.Random(7)
    def mk(n, idx0):
        rows = []
        for i in range(n):
            u = rng.randint(1, 5)
            s = rng.randint(0, 2000)
            rows.append((u, idx0 + i, s, s + rng.randint(0, 400)))
        return rows

    left, right = _iv(spark, mk(60, 0)), _iv(spark, mk(60, 1000))
    for w in (37, 100, 1000, 10_000):  # incl. W >> span and W << span
        got = {
            (r["user_id"], r["l_session_idx"], r["r_session_idx"], r["overlap_us"])
            for r in interval_overlap_join(left, right, "user_id", bucket_us=w).collect()
        }
        naive = {
            (r["user_id"], r["li"], r["ri"], r["ov"])
            for r in left.alias("l")
            .join(right.alias("r"), "user_id")
            .where((F.col("l.start_us") <= F.col("r.end_us"))
                   & (F.col("r.start_us") <= F.col("l.end_us")))
            .select(
                "user_id",
                F.col("l.session_idx").alias("li"),
                F.col("r.session_idx").alias("ri"),
                (F.least("l.end_us", "r.end_us")
                 - F.greatest("l.start_us", "r.start_us")).alias("ov"),
            )
            .collect()
        }
        assert got == naive, f"bucket width {w}"


def test_funnel_greedy_ordered_semantics(spark):
    from datetime import datetime

    from nexus_forge_spark.operators.events import funnel

    T = datetime
    rows = [
        # u1 completes in order: view@1, click@2, purchase@3
        (1, T(2026, 1, 1, 10, 0, 1), 100, "view"),
        (2, T(2026, 1, 1, 10, 0, 2), 100, "click"),
        (3, T(2026, 1, 1, 10, 0, 3), 100, "purchase"),
        # u2: purchase BEFORE any view/click -> stops at view
        (4, T(2026, 1, 1, 9, 0, 0), 200, "purchase"),
        (5, T(2026, 1, 1, 10, 0, 0), 200, "view"),
        # u3: view then purchase but never clicks -> stops at view
        (6, T(2026, 1, 1, 10, 0, 0), 300, "view"),
        (7, T(2026, 1, 1, 10, 0, 5), 300, "purchase"),
        # u4: simultaneous view/click at same ts — event_id breaks the tie:
        # click(9) > view(8) so the click DOES count as after the view
        (8, T(2026, 1, 1, 11, 0, 0), 400, "view"),
        (9, T(2026, 1, 1, 11, 0, 0), 400, "click"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {r.step: r for r in funnel(ev, ["view", "click", "purchase"]).collect()}
    assert out["view"].n_users == 4
    assert out["click"].n_users == 2  # u1 and the tie-broken u4
    assert out["purchase"].n_users == 1  # only u1
    assert out["view"].conv_from_first_ppm == 1_000_000
    assert out["click"].conv_from_prev_ppm == 500_000
    assert out["purchase"].conv_from_prev_ppm == 500_000


def test_cohort_retention_week_boundaries(spark):
    from datetime import datetime

    from nexus_forge_spark.operators.events import cohort_retention

    T = datetime
    rows = [
        # cohort week of Mon 2026-01-05: u1 active wk0 and wk2, u2 wk0 only
        (1, T(2026, 1, 5), 1, "view"),
        (2, T(2026, 1, 19), 1, "view"),   # +14 days = offset 2
        (3, T(2026, 1, 11), 2, "view"),   # Sunday, still week of Jan 5
        # u3 cohorted a week later
        (4, T(2026, 1, 12), 3, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r.cohort_week.isoformat(), r.week_offset): (
            r.n_active,
            r.cohort_size,
            r.retention_ppm,
        )
        for r in cohort_retention(ev).collect()
    }
    assert got == {
        ("2026-01-05", 0): (2, 2, 1_000_000),
        ("2026-01-05", 2): (1, 2, 500_000),
        ("2026-01-12", 0): (1, 1, 1_000_000),
    }


def test_rolling_revenue_range_frame_boundary(spark, tmp_path):
    """RANGE frame includes the row exactly 30 days back and excludes
    30 days + 1 second (inclusive lower bound semantics on both
    engines)."""
    import datetime as dt

    from nexus_forge_spark.plans.driver_queries import q_rolling_revenue

    base = dt.datetime(1995, 1, 31)
    rows = [
        (1, 10, base - dt.timedelta(days=30, seconds=1), 1.00),
        (1, 11, base - dt.timedelta(days=30), 2.00),
        (1, 12, base, 4.00),
        (2, 20, base, 8.00),  # other customer independent
    ]
    df = spark.createDataFrame(
        rows,
        "o_custkey long, o_orderkey long, o_orderdate timestamp_ntz, "
        "o_totalprice double",
    )
    sf = str(tmp_path / "sf")
    df.write.parquet(sf + "/orders.parquet")
    out = {r.o_orderkey: (r.orders_30d, r.revenue_30d_cents)
           for r in q_rolling_revenue(spark, sf).collect()}
    assert out[12] == (2, 600)   # includes key 11 (exactly 30d), not 10
    assert out[10] == (1, 100)
    assert out[20] == (1, 800)


def test_event_transition_matrix_hand_computed(spark):
    from nexus_forge_spark.operators.events import event_transition_matrix

    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string"
    rows = [
        # user 7: a -> b -> a -> a  => (a,b) (b,a) (a,a)
        (1, _ts(0), 7, "a"),
        (2, _ts(1), 7, "b"),
        (3, _ts(2), 7, "a"),
        (4, _ts(3), 7, "a"),
        # user 8: a -> b  => (a,b); singleton user 9 contributes nothing
        (5, _ts(0), 8, "a"),
        (6, _ts(1), 8, "b"),
        (7, _ts(0), 9, "c"),
    ]
    out = {
        (r.prev_type, r.next_type): (r.n, r.row_total, r.prob_ppm)
        for r in event_transition_matrix(
            spark.createDataFrame(rows, schema)
        ).collect()
    }
    assert out == {
        ("a", "b"): (2, 3, 666666),  # truncating div, not rounding
        ("a", "a"): (1, 3, 333333),
        ("b", "a"): (1, 1, 1000000),
    }


def test_event_transition_ts_tie_breaks_on_event_id(spark):
    from nexus_forge_spark.operators.events import event_transition_matrix

    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string"
    rows = [  # same ts: order is event_id 1 -> 2 -> 3
        (3, _ts(0), 7, "c"),
        (1, _ts(0), 7, "a"),
        (2, _ts(0), 7, "b"),
    ]
    out = {
        (r.prev_type, r.next_type)
        for r in event_transition_matrix(
            spark.createDataFrame(rows, schema)
        ).collect()
    }
    assert out == {("a", "b"), ("b", "c")}


def test_decayed_sum_halving_boundaries(spark):
    """Weight halves exactly at each half-life boundary; day half_life-1
    still carries full scale (integer div semantics)."""
    from pyspark.sql import functions as F

    from nexus_forge_spark.operators.events import decayed_sum

    rows = [
        (1, "2024-06-30", 1.0),   # age 0d   -> steps 0 -> w 1048576
        (2, "2024-06-24", 1.0),   # age 6d   -> steps 0 (hl=7)
        (3, "2024-06-23", 1.0),   # age 7d   -> steps 1 -> w 524288
        (4, "2024-06-09", 1.0),   # age 21d  -> steps 3 -> w 131072
        (5, "2000-01-01", 2.0),   # ancient  -> steps clamp 62 -> w 0
    ]
    df = spark.createDataFrame(rows, "k long, ts string, qty double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r.k: (r.decayed_score, r.raw_qty)
        for r in decayed_sum(
            df, "ts", ["k"], "qty", ref_date="2024-06-30", half_life_days=7
        ).collect()
    }
    assert out[1] == (1048576, 1)
    assert out[2] == (1048576, 1)
    assert out[3] == (524288, 1)
    assert out[4] == (131072, 1)
    assert out[5] == (0, 2)


def test_forward_fill_carries_and_leading_nulls(spark):
    from nexus_forge_spark.operators.events import forward_fill

    rows = [
        ("u1", 1, None),   # leading gap stays NULL
        ("u1", 2, 5.0),
        ("u1", 3, None),   # -> 5.0
        ("u1", 4, 7.0),
        ("u1", 5, None),   # -> 7.0
        ("u2", 1, None),   # other key: still leading NULL
    ]
    df = spark.createDataFrame(rows, "k string, seq long, v double")
    got = {
        (r["k"], r["seq"]): r["filled_v"]
        for r in forward_fill(df, "k", ["seq"], ["v"]).collect()
    }
    assert got == {
        ("u1", 1): None,
        ("u1", 2): 5.0,
        ("u1", 3): 5.0,
        ("u1", 4): 7.0,
        ("u1", 5): 7.0,
        ("u2", 1): None,
    }


def test_match_event_pattern_counts_nonoverlapping(spark):
    from nexus_forge_spark.operators.events import match_event_pattern

    # u1 sequence in (ts, id) order: V V C P V C P  -> 2 matches of V+CP
    # u2: V C V (cart-free tail)                    -> 0 matches
    # u3: C P (no leading view)                     -> 0 matches
    rows = [
        (1, "2024-01-01 00:00:01", 1, "view"),
        (1, "2024-01-01 00:00:02", 2, "view"),
        (1, "2024-01-01 00:00:03", 3, "click"),
        (1, "2024-01-01 00:00:04", 4, "purchase"),
        (1, "2024-01-01 00:00:05", 5, "view"),
        (1, "2024-01-01 00:00:06", 6, "click"),
        (1, "2024-01-01 00:00:07", 7, "purchase"),
        (2, "2024-01-01 00:00:01", 8, "view"),
        (2, "2024-01-01 00:00:02", 9, "click"),
        (2, "2024-01-01 00:00:03", 10, "view"),
        (3, "2024-01-01 00:00:01", 11, "click"),
        (3, "2024-01-01 00:00:02", 12, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, event_type string"
    )
    syms = {"view": "V", "click": "C", "purchase": "P"}
    got = {
        r.user_id: (r.seq_len, r.n_matches, r.matched, r.n_V, r.n_C, r.n_P)
        for r in match_event_pattern(df, "V+CP", syms).collect()
    }
    assert got[1] == (7, 2, True, 3, 2, 2)
    assert got[2] == (3, 0, False, 2, 1, 0)
    assert got[3] == (2, 0, False, 0, 1, 1)


def test_match_event_pattern_ts_tie_broken_by_id(spark):
    from nexus_forge_spark.operators.events import match_event_pattern

    # same timestamp: order must follow event_id -> V C P (a match), not
    # any shuffle-dependent permutation
    rows = [
        (1, "2024-01-01 00:00:01", 3, "purchase"),
        (1, "2024-01-01 00:00:01", 1, "view"),
        (1, "2024-01-01 00:00:01", 2, "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, event_type string"
    )
    syms = {"view": "V", "click": "C", "purchase": "P"}
    [r] = match_event_pattern(df, "V+CP", syms).collect()
    assert (r.n_matches, r.matched) == (1, True)


def _py_cusum(xs, allowance, threshold):
    """Direct Page recurrence in micro units: the sequential definition
    the Lindley-reflection plan must reproduce exactly."""
    n = len(xs)
    mu = sum(xs) * 1_000_000 // n
    s_up = s_dn = 0
    out = []
    for x in xs:
        s_up = max(0, s_up + (x * 1_000_000 - (mu + allowance)))
        s_dn = max(0, s_dn + ((mu - allowance) - x * 1_000_000))
        out.append((s_up, s_dn, s_up >= threshold, s_dn >= threshold))
    return mu, out


def test_cusum_matches_sequential_recurrence(spark):
    import random

    from nexus_forge_spark.operators.events import cusum_changepoints

    rng = random.Random(7)
    rows = []
    expected = {}
    for key in ("flat", "step_up", "step_dn", "noisy"):
        if key == "flat":
            xs = [50] * 20
        elif key == "step_up":
            xs = [50] * 10 + [80] * 10  # planted upward shift
        elif key == "step_dn":
            xs = [50] * 10 + [20] * 10  # planted downward shift
        else:
            xs = [rng.randint(40, 60) for _ in range(30)]
        mu, seq = _py_cusum(xs, allowance=2_000_000, threshold=30_000_000)
        expected[key] = (mu, seq)
        rows += [(key, i, x) for i, x in enumerate(xs)]

    df = spark.createDataFrame(rows, "k string, i long, x long")
    got = cusum_changepoints(
        df, "k", "i", "x", allowance_micro=2_000_000,
        threshold_micro=30_000_000,
    ).collect()
    for r in got:
        mu, seq = expected[r.k]
        s_up, s_dn, a_up, a_dn = seq[r.i]
        assert r.mu_micro == mu, (r.k, r.i)
        assert r.cusum_up_micro == s_up, (r.k, r.i)
        assert r.cusum_dn_micro == s_dn, (r.k, r.i)
        assert (r.alarm_up, r.alarm_dn) == (a_up, a_dn), (r.k, r.i)
    # the planted shifts actually fire, the flat series never does
    by_key = {}
    for r in got:
        by_key.setdefault(r.k, []).append(r)
    assert any(r.alarm_up for r in by_key["step_up"])
    assert any(r.alarm_dn for r in by_key["step_dn"])
    assert not any(r.alarm_up or r.alarm_dn for r in by_key["flat"])


def test_cusum_single_exchange(spark):
    from nexus_forge_spark.operators.events import cusum_changepoints

    rows = [("a", i, 10 + (i % 3)) for i in range(12)]
    df = spark.createDataFrame(rows, "k string, i long, x long")
    out = cusum_changepoints(df, "k", "i", "x", 500_000, 5_000_000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    # the mean windows, running sums, and running mins all reuse ONE
    # key exchange (stacked Window operators, scd2 pattern)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_cusum_value_col_not_named_x(spark):
    from nexus_forge_spark.operators.events import cusum_changepoints

    rows = [("a", i, v) for i, v in enumerate([5, 5, 5, 9, 9, 9])]
    df = spark.createDataFrame(rows, "k string, i long, v long")
    got = {
        r.i: r.cusum_up_micro
        for r in cusum_changepoints(df, "k", "i", "v", 0, 1).collect()
    }
    mu, seq = _py_cusum([5, 5, 5, 9, 9, 9], 0, 1)
    assert got == {i: s[0] for i, s in enumerate(seq)}


# ------------------------------------------------------- journey trigrams


def test_journey_trigrams_gap_and_counts(spark):
    from pyspark.sql import functions as F

    from nexus_forge_spark.operators.events import (
        JOURNEY_MAX_GAP_US,
        journey_trigrams,
    )

    us = 1_000_000
    assert JOURNEY_MAX_GAP_US == 30 * 60 * us  # the 12:00 view is past it
    rows = [
        # user 1: view->cart->buy contiguous, then a gap breaks the chain
        (1, "2024-01-01 10:00:00", 10, "view"),
        (2, "2024-01-01 10:01:00", 10, "cart"),
        (3, "2024-01-01 10:02:00", 10, "buy"),
        (4, "2024-01-01 12:00:00", 10, "view"),
        # user 2: same first path
        (5, "2024-01-02 09:00:00", 20, "view"),
        (6, "2024-01-02 09:00:30", 20, "cart"),
        (7, "2024-01-02 09:01:00", 20, "buy"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r.step1, r.step2, r.step3): (r.n_paths, r.n_users)
           for r in journey_trigrams(df).collect()}
    assert out == {("view", "cart", "buy"): (2, 2)}


def test_journey_trigrams_matches_duckdb(spark):
    import duckdb
    from pyspark.sql import functions as F

    from nexus_forge_spark.operators.events import (
        journey_trigrams,
        sql_journey_trigrams,
    )

    rows = [
        (i, f"2024-01-01 10:{i % 60:02d}:00", i % 5, ["a", "b", "c"][i % 3])
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = sorted(tuple(r) for r in journey_trigrams(df).collect())
    ev = ", ".join(
        f"({i}, TIMESTAMP '{t}', {u}, '{k}')" for i, t, u, k in rows
    )
    sql = sql_journey_trigrams(
        f"SELECT * FROM (VALUES {ev}) AS t(event_id, ts, user_id, event_type)"
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# ------------------------------------------------------ active users


def test_active_user_metrics_exact_distinct(spark):
    from pyspark.sql import functions as F

    from nexus_forge_spark.operators.events import active_user_metrics

    rows = [
        # day 0: users 1, 2; day 1: user 1 twice (dedup!); day 8: user 3
        (1, "1970-01-01 05:00:00"), (2, "1970-01-01 09:00:00"),
        (1, "1970-01-02 01:00:00"), (1, "1970-01-02 23:00:00"),
        (3, "1970-01-09 12:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = {r.day: r for r in active_user_metrics(df).collect()}
    assert out[0].dau == 2 and out[0].wau == 2 and out[0].mau == 2
    # day 1: dau 1 (user 1 deduped), wau covers days 0-1 -> users {1,2}
    assert out[1].dau == 1 and out[1].wau == 2
    # day 8: wau covers days 2-8 -> only user 3; mau covers day 0-8 -> 3 users
    assert out[8].dau == 1 and out[8].wau == 1 and out[8].mau == 3
    assert out[8].stickiness_ppm == 1_000_000 // 3


def test_active_user_metrics_matches_duckdb(spark):
    import duckdb
    from pyspark.sql import functions as F

    from nexus_forge_spark.operators.events import (
        active_user_metrics,
        sql_active_user_metrics,
    )

    rows = [
        (i % 7, f"1970-01-{1 + (i * 3) % 28:02d} {i % 24:02d}:00:00")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = sorted(tuple(r) for r in active_user_metrics(df).collect())
    ev = ", ".join(f"({u}, TIMESTAMP '{t}')" for u, t in rows)
    sql = sql_active_user_metrics(
        f"SELECT * FROM (VALUES {ev}) AS t(user_id, ts)"
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# --------------------------------------------------------------- RFM


def test_rfm_segments_tercile_cuts(spark):
    from pyspark.sql import functions as F

    from nexus_forge_spark.operators.events import rfm_segments

    # 9 users with strictly increasing activity on every axis
    rows = []
    for u in range(9):
        for j in range(u + 1):  # frequency u+1
            rows.append((u, f"1970-01-{u + 1:02d} 10:00:00", float(u + 1)))
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.user: r for r in rfm_segments(df).collect()}
    # users 0-2 -> bucket 0, 3-5 -> 1, 6-8 -> 2 on every axis
    assert out[0].segment == 0
    assert out[4].segment == 111
    assert out[8].segment == 222
    assert out[8].m_cents == 9 * 100 * 9  # 9 events x 9.00


def test_rfm_matches_duckdb(spark):
    import duckdb
    from pyspark.sql import functions as F

    from nexus_forge_spark.operators.events import (
        rfm_segments,
        sql_rfm_segments,
    )

    rows = [
        (i % 11, f"1970-01-{1 + (i * 3) % 27:02d} 08:00:00",
         float((i * 7) % 13) + 0.25)
        for i in range(70)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = sorted(tuple(r) for r in rfm_segments(df).collect())
    ev = ", ".join(f"({u}, TIMESTAMP '{t}', {v})" for u, t, v in rows)
    sql = sql_rfm_segments(f"SELECT * FROM (VALUES {ev}) AS t(user_id, ts, value)")
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


# ------------------------------------------------------- attribution


def test_position_attribution_credits_sum_exactly(spark):
    from pyspark.sql import functions as F

    from nexus_forge_spark.operators.events import position_attribution

    rows = [
        # user 1: 5 touches then purchase -> 40/m/m/m/40 with middles
        # splitting 200000 by largest remainder (66667, 66667, 66666)
        (1, "1970-01-01 01:00:00", 1, "view"),
        (2, "1970-01-01 02:00:00", 1, "click"),
        (3, "1970-01-01 03:00:00", 1, "view"),
        (4, "1970-01-01 04:00:00", 1, "click"),
        (5, "1970-01-01 05:00:00", 1, "view"),
        (6, "1970-01-01 06:00:00", 1, "purchase"),
        # user 2: single touch -> full credit; user 3: two -> halves
        (7, "1970-01-02 01:00:00", 2, "view"),
        (8, "1970-01-02 02:00:00", 2, "purchase"),
        (9, "1970-01-03 01:00:00", 3, "view"),
        (10, "1970-01-03 02:00:00", 3, "click"),
        (11, "1970-01-03 03:00:00", 3, "purchase"),
        # touch OUTSIDE the window never credits
        (12, "1969-12-01 01:00:00", 1, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = position_attribution(df, "purchase").collect()
    by_conv = {}
    for r in out:
        by_conv.setdefault(r.conv_id, []).append(r)
    # exact-sum invariant per conversion
    for conv, rs in by_conv.items():
        assert sum(r.credit_ppm for r in rs) == 1_000_000, conv
    u1 = sorted(by_conv[6], key=lambda r: r.position)
    assert [r.credit_ppm for r in u1] == [400000, 66667, 66667, 66666, 400000]
    assert [r.credit_ppm for r in by_conv[8]] == [1_000_000]
    assert sorted(r.credit_ppm for r in by_conv[11]) == [500000, 500000]
    assert all(r.touch_id != 12 for r in out)


def test_position_attribution_matches_duckdb(spark):
    import duckdb
    from pyspark.sql import functions as F

    from nexus_forge_spark.operators.events import (
        position_attribution,
        sql_position_attribution,
    )

    rows = [
        (i, f"1970-01-{1 + i % 9:02d} {i % 24:02d}:00:00", i % 4,
         ["view", "click", "purchase"][i % 3])
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = sorted(tuple(r) for r in position_attribution(df, "purchase").collect())
    ev = ", ".join(
        f"({i}, TIMESTAMP '{t}', {u}, '{k}')" for i, t, u, k in rows
    )
    sql = sql_position_attribution(
        f"SELECT * FROM (VALUES {ev}) AS t(event_id, ts, user_id, event_type)",
        "purchase",
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_rfm_fold_equals_recompute_any_order(spark):
    from pyspark.sql import functions as F

    from nexus_forge_spark.operators.events import fold_rfm_state, rfm_state

    rows = [
        (i, f"1970-01-{1 + i % 20:02d} 09:00:00", i % 5, float(i % 7) + 0.5)
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    full = sorted(tuple(r) for r in rfm_state(df).collect())
    for order in ([0, 1, 2], [2, 0, 1]):
        state = rfm_state(df.where(F.col("event_id") % 3 == order[0]))
        for b in order[1:]:
            state = fold_rfm_state(
                state, rfm_state(df.where(F.col("event_id") % 3 == b))
            )
        got = sorted(tuple(r) for r in state.collect())
        assert got == full, order


def test_markov_attribution_hand_case(spark):
    """Two clean journeys: A->purchase and B->nothing.  Removing A kills
    ALL conversion (removal = p_full); removing B changes nothing."""
    from datetime import datetime

    from nexus_forge_spark.operators.events import markov_attribution

    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0), 1, "A", 0.0, ""),
        (2, datetime(2024, 1, 1, 0, 1, 0), 1, "purchase", 1.0, ""),
        (3, datetime(2024, 1, 1, 0, 0, 0), 2, "B", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    out = {r.channel: r for r in markov_attribution(df).collect()}
    q30 = 1 << 30
    assert out["A"].p_full_q30 == q30 // 2  # START -> A (1/2) -> CONV
    assert out["A"].p_removed_q30 == 0
    assert out["B"].p_removed_q30 == q30 // 2  # removing B changes nothing
    assert out["A"].credit_ppm == 1000000 and out["B"].credit_ppm == 0


def test_sequential_patterns_greedy_witness(spark):
    """a>b>c must be found via the greedy-earliest witness even when the
    FIRST b precedes the first a (the naive first-occurrence-only check
    would miss it)."""
    from datetime import datetime

    from nexus_forge_spark.operators.events import (
        MIN_SUPPORT,
        sequential_patterns,
    )

    t0 = datetime(2024, 1, 1)
    seq = ["b", "a", "b", "c"]  # a -> (second) b -> c exists
    # MIN_SUPPORT users walk the sequence, so each of its patterns sits
    # exactly at the floor; one more user's d -> a sits one below it
    walks = [(u, seq) for u in range(MIN_SUPPORT)] + [(MIN_SUPPORT, ["d", "a"])]
    rows = [
        (u * 10 + i, t0.replace(minute=i), u, t, 0.0, "")
        for u, walk in walks
        for i, t in enumerate(walk)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    pats = {r.pattern: r.support for r in sequential_patterns(df).collect()}
    assert pats["a>b>c"] == MIN_SUPPORT
    assert pats["b>a>b"] == MIN_SUPPORT  # repeated types allowed
    assert "c>a" not in pats
    assert "d>a" not in pats  # support MIN_SUPPORT - 1


def test_allen_relations_all_thirteen(spark):
    """One key per relation, each holding one planted pair (a = id 1,
    b = id 2) that sits in exactly that relation, so every branch of the
    CASE chain is hit once and only where expected."""
    from nexus_forge_spark.operators.events import allen_relations

    planted = {
        "precedes": ((0, 5), (10, 20)),
        "meets": ((0, 10), (10, 20)),
        "overlaps": ((0, 6), (4, 10)),
        "starts": ((0, 5), (0, 10)),
        "during": ((2, 8), (0, 10)),
        "finishes": ((5, 10), (0, 10)),
        "equals": ((0, 10), (0, 10)),
        "finished_by": ((0, 10), (5, 10)),
        "contains": ((0, 10), (2, 8)),
        "started_by": ((0, 10), (0, 5)),
        "overlapped_by": ((4, 10), (0, 6)),
        "met_by": ((10, 20), (0, 10)),
        "preceded_by": ((10, 20), (0, 5)),
    }
    assert len(planted) == 13
    rows = [
        (name, i, s, e)
        for name, pair in planted.items()
        for i, (s, e) in enumerate(pair, start=1)
    ]
    df = spark.createDataFrame(rows, "g string, i int, s int, e int")
    out = [
        (r.g, r.id_a, r.id_b, r.relation)
        for r in allen_relations(df, "g", "i", "s", "e").collect()
    ]
    assert sorted(out) == sorted((name, 1, 2, name) for name in planted)
    assert {rel for *_, rel in out} == set(planted)


def test_allen_relations_drops_improper_intervals(spark):
    from nexus_forge_spark.operators.events import allen_relations

    df = spark.createDataFrame(
        [("k", 1, 5, 5), ("k", 2, 1, 3), ("k", 3, 2, 4)],
        "g string, i int, s int, e int",
    )
    rel = {
        (r.id_a, r.id_b): r.relation
        for r in allen_relations(df, "g", "i", "s", "e").collect()
    }
    assert (1, 2) not in rel and (1, 3) not in rel  # zero-length dropped
    assert rel[(2, 3)] == "overlaps"


def test_km_survival_hand_curve(spark):
    """5 subjects, one cohort: a zero-lifetime censored exit, three
    churns, one horizon survivor — risk-set accounting and the Q30
    product checked against hand arithmetic."""
    import datetime as dt

    from nexus_forge_spark.operators.events import CENSOR_WINDOW_DAYS, km_survival

    assert CENSOR_WINDOW_DAYS == 7
    d0 = dt.datetime(2024, 1, 1)
    horizon = d0 + dt.timedelta(days=30)

    def span(uid, days):
        return [(uid, "c", d0), (uid, "c", d0 + dt.timedelta(days=days))]

    rows = (
        span("u1", 2)          # churn at 2 (ends 28d before horizon)
        + span("u2", 3)        # would churn at 3... see censor below
        + span("u3", 5)        # churn at 5
        + span("u4", 30)       # survives to horizon (censored)
        + [("u5", "c", horizon)]  # lifetime 0 at horizon (censored)
    )
    df = spark.createDataFrame(
        rows, "subject string, cohort string, ts timestamp"
    )
    out = {
        r.t_days: r
        for r in km_survival(
            df, user_col="subject", cohort_col="cohort"
        ).collect()
    }
    # u2 at t=3 is NOT censored (ends 27d before horizon) -> 3 churn
    # steps; u5 is censored at t=0 and exits the risk set BEFORE t=2
    # (standard KM: censored subjects leave at their censor time)
    assert set(out) == {2, 3, 5}
    assert (out[2].n_at_risk, out[2].n_churns) == (4, 1)
    assert out[2].surv_ppm == 750_000          # 3/4
    assert (out[3].n_at_risk, out[3].n_churns) == (3, 1)
    assert out[3].surv_ppm == 500_000          # 3/4 * 2/3
    assert (out[5].n_at_risk, out[5].n_churns) == (2, 1)
    assert out[5].surv_ppm == 250_000          # * 1/2


def test_km_survival_matches_naive_python_randomized(spark):
    """Differential on random lifetimes: histogram-fold KM == a naive
    per-step python KM with the same Q30 truncating product."""
    import datetime as dt
    import random

    from nexus_forge_spark.operators.events import CENSOR_WINDOW_DAYS, km_survival

    rng = random.Random(11)
    d0 = dt.datetime(2024, 1, 1)
    horizon_days = 40
    rows = []
    subjects = []
    for i in range(60):
        start = rng.randint(0, 10)
        end = rng.randint(start, horizon_days)
        u = f"u{i}"
        rows += [
            (u, "k", d0 + dt.timedelta(days=start)),
            (u, "k", d0 + dt.timedelta(days=end)),
        ]
        subjects.append((end - start, end))
    # pin the horizon with one sentinel subject ending exactly at day 40
    rows += [(f"uH", "k", d0 + dt.timedelta(days=horizon_days))]
    subjects.append((0, horizon_days))
    W = CENSOR_WINDOW_DAYS
    # pin both sides of the censoring boundary: a last event W days
    # before the horizon is a churn, one W - 1 days before is censored
    for i, end in enumerate((horizon_days - W, horizon_days - W + 1)):
        rows += [(f"uB{i}", "k", d0 + dt.timedelta(days=end - 3 - i)),
                 (f"uB{i}", "k", d0 + dt.timedelta(days=end))]
        subjects.append((3 + i, end))
    df = spark.createDataFrame(rows, "s string, c string, ts timestamp")
    got = {
        (r.t_days): (r.n_at_risk, r.n_churns, r.surv_ppm)
        for r in km_survival(df, user_col="s", cohort_col="c").collect()
    }
    # naive python
    from collections import Counter

    hist = Counter()
    deaths = Counter()
    for t, end in subjects:
        hist[t] += 1
        if horizon_days - end >= W:
            deaths[t] += 1
    rem, surv, want = len(subjects), 1 << 30, {}
    for t in sorted(hist):
        d = deaths.get(t, 0)
        if d > 0:
            surv = (surv * (rem - d)) // rem
            want[t] = (rem, d, surv * 1_000_000 // (1 << 30))
        rem -= hist[t]
    assert got == want
