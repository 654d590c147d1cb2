"""Tests for operators/events.py (funnel, cohort retention) and the
partition-pruned layout writer."""

import datetime as dt
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from rclip_server_spark.operators import events as EV
from rclip_server_spark.sources import writer


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, d, h), u, t) for i, (d, h, u, t) in enumerate(rows)],
        ["event_id", "ts", "user_id", "event_type"],
    )


# ---------------------------------------------------------------------------
# funnel
# ---------------------------------------------------------------------------


def test_funnel_strict_order(spark):
    rows = [
        # user 1 completes in order: view(d1) click(d2) purchase(d3)
        (1, 0, 1, "view"), (2, 0, 1, "click"), (3, 0, 1, "purchase"),
        # user 2 has purchase BEFORE click -> stops after click
        (1, 0, 2, "view"), (3, 0, 2, "click"), (2, 0, 2, "purchase"),
        # user 3 only views
        (1, 0, 3, "view"),
        # user 4 never views (click+purchase don't count)
        (1, 0, 4, "click"), (2, 0, 4, "purchase"),
    ]
    out = {r.step: r.n_users for r in EV.funnel(_ev(spark, rows), ["view", "click", "purchase"]).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}


def test_funnel_same_timestamp_not_counted(spark):
    # click at the SAME instant as view is not strictly after -> excluded
    rows = [(1, 0, 1, "view"), (1, 0, 1, "click")]
    out = {r.step: r.n_users for r in EV.funnel(_ev(spark, rows), ["view", "click"]).collect()}
    assert out == {"view": 1, "click": 0}


def test_funnel_greedy_earliest_is_optimal(spark):
    # view(d1), view(d5), click(d2): greedy takes view@d1 -> click@d2 works.
    rows = [(1, 0, 1, "view"), (5, 0, 1, "view"), (2, 0, 1, "click")]
    out = {r.step: r.n_users for r in EV.funnel(_ev(spark, rows), ["view", "click"]).collect()}
    assert out["click"] == 1


def test_funnel_hot_user_tied_events(spark):
    """Skew hardening (r15): a bot-grade user firing thousands of events,
    mostly at tied timestamps, must (a) compute the same funnel as the
    per-level min-rule and (b) reach the per-user walk as one 16-byte
    element per DISTINCT timestamp — the (user, ts) bit_or pre-reduction
    collapses ties map-side, so no collect_list buffers raw events."""
    rows = []
    # bot user 9: 2000 'view' events across only 3 distinct timestamps,
    # then one click and one purchase in strict order
    for i in range(2000):
        rows.append((1 + (i % 3), 0, 9, "view"))
    rows += [(7, 0, 9, "click"), (9, 0, 9, "purchase")]
    # ordinary user 10: view then click at tied timestamps (no advance
    # past click: purchase ties with click)
    rows += [(1, 0, 10, "view"), (2, 0, 10, "click"), (2, 0, 10, "purchase")]
    out = {r.step: r.n_users
           for r in EV.funnel(_ev(spark, rows),
                              ["view", "click", "purchase"]).collect()}
    assert out == {"view": 2, "click": 2, "purchase": 1}


def test_funnel_repeated_step_type(spark):
    """steps may repeat a type: view->view needs two distinct instants."""
    rows = [(1, 0, 1, "view"), (1, 0, 1, "view"),  # tied: one advance only
            (2, 0, 2, "view"), (3, 0, 2, "view")]
    out = {r.step_idx: r.n_users
           for r in EV.funnel(_ev(spark, rows), ["view", "view"]).collect()}
    assert out == {0: 2, 1: 1}


def test_funnel_null_ts_matches_duckdb_twin(spark):
    """NULL timestamps follow the registered DuckDB twin of
    ``ev_funnel_counts``: a NULL-time step-0 event still counts its user
    at step 0, step 0's time is the min NON-NULL one, and a NULL time
    never satisfies ``ts > t`` — so nothing follows a NULL-time step."""
    import duckdb
    import pandas as pd

    from rclip_server_spark.contract import oracle_sql

    def t(s):
        return None if s is None else dt.datetime(2024, 1, 1, 0, 0, s)

    rows = [
        (1, "view", None), (1, "click", 5),                   # view only
        (2, "view", 1), (2, "click", 2), (2, "purchase", None),
        (3, "view", None), (3, "view", 3), (3, "click", 2),
        (3, "click", 6),                                      # view, click
        (4, "view", 1), (4, "click", None), (4, "click", 4),
        (4, "purchase", 5),                                   # all three
        (5, "view", None), (5, "purchase", 9),                # view only
        (6, "click", None), (6, "purchase", None),            # nothing
    ]
    ev = [(i, t(s), u, e) for i, (u, e, s) in enumerate(rows)]
    sdf = spark.createDataFrame(
        ev, "event_id INT, ts TIMESTAMP, user_id INT, event_type STRING")
    got = {r.step: r.n_users for r in EV.funnel(
        sdf, ["view", "click", "purchase"]).collect()}
    con = duckdb.connect()
    con.register("events", pd.DataFrame(
        ev, columns=["event_id", "ts", "user_id", "event_type"]))
    want = {step: n for _, step, n in con.execute(
        oracle_sql()["ev_funnel_counts"]).fetchall()}
    assert want == {"view": 5, "click": 3, "purchase": 1}
    assert got == want


def test_funnel_too_many_steps_raises(spark):
    with pytest.raises(ValueError, match="63"):
        EV.funnel(_ev(spark, [(1, 0, 1, "view")]), [f"s{i}" for i in range(64)])


def test_funnel_monotone_on_fixture(events):
    counts = [
        r.n_users
        for r in EV.funnel(events, ["view", "click", "purchase"])
        .orderBy("step_idx")
        .collect()
    ]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] > 0


# ---------------------------------------------------------------------------
# cohort retention
# ---------------------------------------------------------------------------


def test_cohort_retention_hand_case(spark):
    rows = [
        # user 1 first active week of Jan 1 (Mon), returns week of Jan 8
        (1, 0, 1, "view"), (9, 0, 1, "view"),
        # user 2 first active week of Jan 8, never returns
        (10, 0, 2, "view"),
    ]
    out = EV.cohort_retention(_ev(spark, rows)).collect()
    jan1 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    jan8 = int(dt.datetime(2024, 1, 8, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    m = {(r.cohort_us, r.bucket_us): r.n_users for r in out}
    assert m == {(jan1, jan1): 1, (jan1, jan8): 1, (jan8, jan8): 1}


def test_cohort_diagonal_is_cohort_size(events):
    out = EV.cohort_retention(events).collect()
    diag = {r.cohort_us: r.n_users for r in out if r.cohort_us == r.bucket_us}
    cohort_sizes = {r.cohort_us: r.n for r in (
        events.groupBy("user_id").agg(F.min("ts").alias("f"))
        .select(F.unix_micros(F.date_trunc("week", "f")).alias("cohort_us"))
        .groupBy("cohort_us").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )}
    assert diag == cohort_sizes
    # no activity bucket precedes its cohort
    assert all(r.bucket_us >= r.cohort_us for r in out)


# ---------------------------------------------------------------------------
# partitioned layout
# ---------------------------------------------------------------------------


def test_write_partitioned_prunes_and_round_trips(spark, events):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "ev")
        writer.write_partitioned(
            events.withColumn("event_date", F.to_date("ts")),
            path,
            ["event_date"],
            sort_cols=["user_id"],
        )
        # hive layout on disk
        parts = [p for p in os.listdir(path) if p.startswith("event_date=")]
        assert len(parts) > 1
        back = spark.read.parquet(path)
        assert back.count() == events.count()
        day = parts[0].split("=", 1)[1]
        pruned = back.where(F.col("event_date") == day)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        # pruned read matches a full-scan filter
        full = events.where(F.to_date("ts") == day).count()
        assert pruned.count() == full


# ---------------------------------------------------------------------------
# profiling / constraint checks
# ---------------------------------------------------------------------------


def test_profile_table_metrics(spark):
    from rclip_server_spark.operators import profiling

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (3, "a")], ["k", "v"]
    )
    out = {r.column: r for r in profiling.profile_table(df, ["k", "v"]).collect()}
    assert out["k"].n_rows == 4 and out["k"].n_nulls == 0
    assert out["k"].n_distinct == 3
    assert (out["k"].min_str, out["k"].max_str) == ("1", "3")
    assert out["v"].n_nulls == 1
    assert out["v"].n_distinct == 2  # NULL not counted
    assert (out["v"].min_str, out["v"].max_str) == ("a", "b")


def test_uniqueness_violations(spark):
    from rclip_server_spark.operators import profiling

    df = spark.createDataFrame([(1, 1), (1, 2), (1, 1), (2, 1)], ["a", "b"])
    # composite key: only (1,1) repeats
    v = profiling.uniqueness_violations(df, ["a", "b"]).collect()
    assert [(r.a, r.b, r.n) for r in v] == [(1, 1, 2)]
    # unique key passes -> empty
    assert profiling.uniqueness_violations(df.select("a").distinct(), ["a"]).count() == 0


def test_referential_violations(spark):
    from rclip_server_spark.operators import profiling

    child = spark.createDataFrame([(1,), (2,), (9,), (None,)], ["fk"])
    parent = spark.createDataFrame([(1,), (2,), (3,)], ["pk"])
    v = profiling.referential_violations(child, parent, "fk", "pk").collect()
    # 9 is orphaned; NULL never violates
    assert [r.orphan_key for r in v] == [9]


def test_fixture_fk_integrity_holds(spark):
    from rclip_server_spark.operators import profiling
    from rclip_server_spark.sources import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    assert (
        profiling.referential_violations(li, orders, "l_orderkey", "o_orderkey").count()
        == 0
    )


def test_snapshot_diff_classes(spark):
    from rclip_server_spark.operators import profiling

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "z"), (4, None, "w")],
        ["id", "t", "s"],
    )
    new = spark.createDataFrame(
        [(1, "a", "x"), (2, "B", "y"), (5, "e", "v"), (4, None, "w")],
        ["id", "t", "s"],
    )
    out = {r.id: r.change for r in
           profiling.snapshot_diff(old, new, ["id"], ["t", "s"]).collect()}
    # 1 unchanged (absent), 2 changed, 3 removed, 5 added, 4 unchanged-with-null
    assert out == {2: "changed", 3: "removed", 5: "added"}


def test_snapshot_diff_self_is_empty(spark):
    from rclip_server_spark.operators import profiling
    from rclip_server_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    assert (
        profiling.snapshot_diff(docs, docs, ["doc_id"], ["text", "lang", "source"]).count()
        == 0
    )


def test_event_transitions_hand_computed(spark):
    import datetime as dt
    from rclip_server_spark.operators import events as EV

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 100, "view"),
        (2, t0 + dt.timedelta(minutes=1), 100, "click"),
        (3, t0 + dt.timedelta(minutes=2), 100, "view"),
        (4, t0, 200, "view"),
        (5, t0 + dt.timedelta(minutes=5), 200, "purchase"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    out = {(r.prev_type, r.next_type): r.n
           for r in EV.event_transitions(df).collect()}
    assert out == {("view", "click"): 1, ("click", "view"): 1, ("view", "purchase"): 1}


def test_event_transitions_tiebreak_by_id(spark):
    import datetime as dt
    from rclip_server_spark.operators import events as EV

    t0 = dt.datetime(2024, 1, 1)
    # same timestamp: event_id order decides the sequence
    df = spark.createDataFrame(
        [(2, t0, 1, "b"), (1, t0, 1, "a")],
        ["event_id", "ts", "user_id", "event_type"],
    )
    out = [(r.prev_type, r.next_type) for r in EV.event_transitions(df).collect()]
    assert out == [("a", "b")]


def test_merge_agg_delta_equals_direct(spark):
    from rclip_server_spark.sources import writer as W

    full = spark.createDataFrame(
        [(k, v) for k, v in [("a", 1), ("a", 2), ("b", 5), ("c", 7)]], ["k", "v"]
    )
    base = full.where(F.col("v") <= 2).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    delta = full.where(F.col("v") > 2).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    merged = {r.k: (r.n, r.s)
              for r in W.merge_agg_delta(base, delta, ["k"], ["n", "s"]).collect()}
    direct = {r.k: (r.n, r.s)
              for r in full.groupBy("k").agg(
                  F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()}
    assert merged == direct  # incl. delta-only key 'c' and base-only key 'a'


def test_merge_agg_delta_empty_delta_is_identity(spark):
    from rclip_server_spark.sources import writer as W

    base = spark.createDataFrame([("a", 2, 10)], ["k", "n", "s"])
    empty = base.where(F.lit(False))
    out = W.merge_agg_delta(base, empty, ["k"], ["n", "s"]).collect()
    assert [(r.k, r.n, r.s) for r in out] == [("a", 2, 10)]


def test_gap_sessionize_matches_native_session_window(spark, events):
    """The lag+cumsum SQL-pattern sessionization and Spark's native
    session_window aggregation must produce the SAME sessions: same count,
    same (user, start, n_events) triples. (session_window's end is
    exclusive gap-padded, so compare starts + sizes, not ends.)"""
    from rclip_server_spark.streaming import windows as SW

    sql_sessions = {
        (r.user_id, r.start_us, r.n_events)
        for r in EV.gap_sessionize(events, gap_minutes=30).collect()
    }
    native = {
        (r.user_id, int(r.session_start.timestamp() * 1_000_000), r.n_events)
        for r in SW.session_windows(events, gap="30 minutes").collect()
    }
    assert sql_sessions == native


def test_fixed_k_sample_exact_size_and_stability(spark, documents):
    from rclip_server_spark.operators import sampling

    s1 = sampling.fixed_k_sample(documents.select("doc_id"), "doc_id", k=50)
    s2 = sampling.fixed_k_sample(documents.select("doc_id"), "doc_id", k=50)
    ids1 = sorted(r.doc_id for r in s1.collect())
    assert len(ids1) == 50
    assert ids1 == sorted(r.doc_id for r in s2.collect())  # rerun-stable
    # monotone: the 50-sample is a subset of the 80-sample (hash order is
    # a fixed total order, so growing k only extends the prefix)
    ids80 = {r.doc_id for r in sampling.fixed_k_sample(
        documents.select("doc_id"), "doc_id", k=80).collect()}
    assert set(ids1) <= ids80


def test_rfm_features_hand_computed(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1.25),
        (2, "2024-01-03 00:00:00", 2.50),
        (3, "2024-01-02 00:00:00", 10.00),
    ]
    df = spark.createDataFrame(
        [(i, ts, 1 if i < 3 else 2, "click", v, "{}") for (i, ts, v) in rows],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
             "event_type", "value", "props")
    got = {r.user_id: (r.recency_us, r.frequency, r.monetary_cents)
           for r in EV.rfm_features(df).collect()}
    day_us = 86_400_000_000
    assert got[1] == (0, 2, 375)            # last event IS the corpus max
    assert got[2] == (day_us, 1, 1000)      # one day stale


def test_dedup_within_window_bucket_edges(spark):
    """Two fires inside one 10-min bucket collapse; two fires straddling a
    bucket edge both survive (hard-edge determinism, documented)."""
    rows = [
        (1, "2024-01-01 00:01:00"), (2, "2024-01-01 00:04:00"),  # same bucket
        (3, "2024-01-01 00:09:59"), (4, "2024-01-01 00:10:01"),  # straddle
    ]
    df = spark.createDataFrame(
        [(i, ts, 7, "click", 1.0, "{}") for i, ts in rows],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
             "event_type", "value", "props")
    kept = sorted(r.event_id for r in EV.dedup_within_window(df, minutes=10).collect())
    assert kept == [1, 4]  # 2 and 3 suppressed by 1; 4 is a new bucket


def test_hll_union_estimate_accuracy(spark, events):
    """Sharded HLL sketches unioned must estimate within the published
    ~1.6% relative error at lg_k=12 (generous 5% floor for tiny inputs)."""
    from rclip_server_spark.operators import sketches

    sk = sketches.hll_shard_sketches(events, "event_type", "user_id")
    assert sk.count() == events.select("event_type").distinct().count()
    est = sketches.hll_union_estimate(sk).first()[0]
    exact = events.select("user_id").distinct().count()
    assert abs(est - exact) / exact <= 0.05


class TestHalfLifePopularity:
    def test_hand_computed_decay(self, spark):
        """Three events for one key at ages 0, 1, and 2 half-lives: weights
        1, 1/2, 1/4 -> 1.75 half-life units, scaled 1.75 * 2^30 exactly."""
        from rclip_server_spark.operators import events as EV

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        rows = [
            (1, "a", "2024-01-03 00:00:00"),
            (2, "a", "2024-01-02 00:00:00"),
            (3, "a", "2024-01-01 00:00:00"),
            (4, "b", "2024-01-03 00:00:00"),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, event_type string, ts_s string"
        ).select("event_id", "event_type", F.to_timestamp("ts_s").alias("ts"))
        got = {r.event_type: (r.score_scaled, r.score_half_lives)
               for r in EV.half_life_popularity(df, half_life_hours=24).collect()}
        assert got["a"] == ((1 << 30) + (1 << 29) + (1 << 28), 1.75)
        assert got["b"] == (1 << 30, 1.0)

    def test_null_ts_rows_are_excluded(self, spark):
        """Round-4 advice: a NULL timestamp has no age and must contribute
        NOTHING (previously Spark's null-skipping least() silently dropped
        the row into the max bucket at weight 1)."""
        from rclip_server_spark.operators import events as EV

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        rows = [
            (1, "a", "2024-01-03 00:00:00"),
            (2, "a", None),
            (3, "c", None),  # a key with ONLY null-ts events disappears
        ]
        df = spark.createDataFrame(
            rows, "event_id long, event_type string, ts_s string"
        ).select("event_id", "event_type", F.to_timestamp("ts_s").alias("ts"))
        got = {r.event_type: r.score_scaled
               for r in EV.half_life_popularity(df, half_life_hours=24).collect()}
        assert got == {"a": 1 << 30}

    def test_shard_merge_equals_global(self, spark, events):
        """Per-shard scores at the SAME reference time sum to the global
        score (mergeability) — computed by fixing corpus max across shards."""
        from rclip_server_spark.operators import events as EV

        full = {r.event_type: r.score_scaled
                for r in EV.half_life_popularity(events, half_life_hours=168).collect()}
        # shard by user parity; anchor both shards to the GLOBAL max ts by
        # including the max-ts row in each shard (weight duplication avoided
        # by subtracting it once)
        max_ts = events.agg(F.max("ts")).first()[0]
        anchor = events.where(F.col("ts") == max_ts).limit(1)
        s0 = events.where(F.col("user_id") % 2 == 0)
        s1 = events.where(F.col("user_id") % 2 == 1)
        def score(df):
            return {r.event_type: r.score_scaled
                    for r in EV.half_life_popularity(
                        df.unionByName(anchor), half_life_hours=168
                    ).collect()}
        a, b = score(s0), score(s1)
        anchor_key = anchor.select("event_type").first()[0]
        merged = {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}
        # the union added the anchor row to BOTH shards on top of the rows
        # the global run already counts — remove the two extra copies
        merged[anchor_key] -= 2 * (1 << 30)
        assert merged == full
