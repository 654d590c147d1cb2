"""Event-analytics operators: ordered funnels and cohort retention.

The reference has no event surface at all; the `events` fixture exists so
the engine covers the analytics half of a production data platform (the
driver's §F north star). Both operators here are the canonical product-
analytics queries, built so every shuffle is on the natural key:

* ``funnel`` — per-user strictly-ordered step matching via a chain of
  (shrinking) min-aggregations joined on the user id. Each level's
  aggregation combines map-side; each join is an equi-join on user_id whose
  right side only ever shrinks, so at scale the chain costs one user-keyed
  exchange per step over progressively smaller tables — never a self-join
  of the raw event log against itself.
* ``cohort_retention`` — cohort = week of a user's first event; activity =
  distinct (user, week) pairs. One min-agg, one distinct, one join keyed on
  user_id, one final count agg. All group keys are low-cardinality except
  user_id, which is the partitioning the event log already wants.

Timestamps stay native (micros) internally; query rows expose them as unix
micros per the contract's determinism rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel counts: for each prefix of ``steps``, how many users
    performed those event types in strict timestamp order (each step's
    earliest qualifying event must be strictly AFTER the previous step's).
    Output: one row per step — (step_idx, step, n_users), n_users
    non-increasing by construction.

    Matching uses the standard earliest-qualifying-event rule: a user's
    step-k time is the min event time of type steps[k] strictly after their
    step-(k-1) time. This greedy choice is optimal (earliest feasible
    prefix times maximize feasibility of the suffix), so it counts exactly
    the users for whom ANY strictly-increasing assignment exists.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    # Single pass over the log. The per-level formulation (level k =
    # min ts of type steps[k] strictly after level k-1's t) re-embedded
    # every level's plan in the next, so the raw event log was scanned
    # 1+2+..+k times for a k-step funnel. The greedy walk below is the
    # same rule evaluated in one scan: advance one level whenever the
    # next expected type appears strictly after the current level's
    # time — greedy earliest is optimal for strictly-increasing
    # matching, so a user's final lvl is exactly the deepest prefix the
    # min-rule admits.
    #
    # Two-level walk (r15, guide §2.5 skew): the walk's state per user
    # only needs, for each DISTINCT timestamp, which step types fired
    # at it — within a tie at most one advance occurs (strict >) and it
    # fires iff any tied event matches the expected type. So the raw
    # events first reduce per (user, ts) to a step-index BITMASK via
    # bit_or — a map-side-combining hash aggregation whose exchange is
    # keyed (user, ts), spreading even a bot-grade hot user across
    # partitions — and the per-user fold then buffers one small
    # (null flag, ts, mask) element per distinct timestamp instead of a full
    # (ts, type-string) struct per raw event. The residual contract is
    # that a user's DISTINCT-timestamp list fits an executor (the same
    # contract the as-of/session windows carry for a user's events).
    # n_users(i) = users with lvl > i; 0-rows kept by coalesce over the
    # empty-frame sum.
    k = len(steps)
    if k > 63:
        raise ValueError("funnel supports at most 63 steps")

    def _q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    # event_type -> bitmask of the step positions it satisfies (a type
    # repeated in `steps` sets every matching bit)
    bits: dict[str, int] = {}
    for j, s in enumerate(steps):
        bits[s] = bits.get(s, 0) | (1 << j)
    mask_map = "map(" + ", ".join(
        f"{_q(t)}, CAST({m} AS BIGINT)" for t, m in sorted(bits.items())) + ")"
    #
    # NULL timestamps follow the min-rule: step 0's time is the min
    # NON-NULL step-0 time, and a NULL time never satisfies ts > t. So
    # NULL-ts elements sort LAST (the leading ``nl`` flag): a NULL-ts
    # step-0 event still counts a user who has no timed one, with a
    # NULL step time that no later step can follow (``e.ts > s.t`` is
    # NULL, i.e. false, past level 0).
    ts_type = dict(events.dtypes)[ts_col]
    walk = f"""
        aggregate(
          sort_array(collect_list(struct(`{ts_col}` IS NULL AS nl,
                                         `{ts_col}` AS ts, `__m` AS m))),
          named_struct('lvl', 0, 't', CAST(NULL AS {ts_type})),
          (s, e) -> IF(s.lvl < {k}
                       AND (shiftright(e.m, s.lvl) & 1) = 1
                       AND (s.lvl = 0 OR e.ts > s.t),
                       named_struct('lvl', s.lvl + 1, 't', e.ts), s)
        ).lvl
    """
    per_user = (
        events.where(F.col(type_col).isin(steps))
        .groupBy(user_col, ts_col)
        .agg(F.expr(
            f"bit_or(element_at({mask_map}, `{type_col}`))").alias("__m"))
        .groupBy(user_col)
        .agg(F.expr(walk).alias("lvl"))
    )
    sums = per_user.agg(*[
        F.expr(f"sum(IF(lvl > {i}, 1, 0))").alias(f"c{i}")
        for i in range(k)
    ])
    stacked = ", ".join(
        f"CAST({i} AS BIGINT), {_q(steps[i])}, "
        f"coalesce(c{i}, CAST(0 AS BIGINT))"
        for i in range(k)
    )
    return sums.select(
        F.expr(f"stack({k}, {stacked}) AS (step_idx, step, n_users)")
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    bucket: str = "week",
) -> DataFrame:
    """Cohort-retention matrix: users grouped by the ``bucket`` (week) of
    their FIRST event, counted in every bucket they were active. Output:
    (cohort_us, bucket_us, n_users) with both buckets as unix micros of the
    truncated timestamp (date_trunc('week') is Monday-anchored in both
    Spark and DuckDB, so the twin is bit-exact).

    n_users at bucket == cohort is the cohort size (every user is active in
    their own first week); later buckets give the retention curve.
    """
    first = events.groupBy(user_col).agg(F.min(ts_col).alias("first_ts"))
    cohorts = first.select(
        user_col, F.date_trunc(bucket, "first_ts").alias("cohort_w")
    )
    active = events.select(
        user_col, F.date_trunc(bucket, ts_col).alias("bucket_w")
    ).distinct()
    return (
        active.join(cohorts, user_col)
        .groupBy("cohort_w", "bucket_w")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.unix_micros("cohort_w").alias("cohort_us"),
            F.unix_micros("bucket_w").alias("bucket_us"),
            "n_users",
        )
    )


def gap_sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization as pure window SQL (lag + cumulative sum of
    gap-break flags) — the engine-portable twin of the native
    ``session_window`` aggregation (streaming/windows.py), usable on any
    engine with window functions and cross-checkable row-for-row.

    Per user: order events by (ts, id), flag rows whose gap from the
    previous event exceeds ``gap_minutes``, and the running sum of flags is
    the session ordinal. One hash exchange on user_id (the partitioning an
    event log already wants), both windows share it. Output: one row per
    session with start/end micros and the event count — identical session
    boundaries to session_window's gap semantics."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(id_col))
    gap_us = gap_minutes * 60_000_000
    new_flag = F.when(
        us - F.lag(us).over(w) > F.lit(gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    run = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(id_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = (
        events.withColumn("__us", us)
        .withColumn("__new", new_flag)
        .withColumn("session_id", F.sum("__new").over(run))
    )
    return (
        sess.groupBy(user_col, "session_id")
        .agg(
            F.min("__us").alias("start_us"),
            F.max("__us").alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def dedup_within_window(
    events: DataFrame,
    minutes: int = 10,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Ingestion-time event dedup: keep the first event per key within each
    ``minutes``-wide time bucket (the retry/double-fire suppressor). Bucket
    assignment is row-local integer math, so the only shuffle is the keyed
    window — the same exchange a keyed event log already pays. The
    streaming twin is streaming/windows.dedup_first_in_bucket; unlike
    Spark's dropDuplicatesWithinWatermark this form has hard bucket
    edges (two fires straddling a bucket boundary both survive —
    deterministic, unlike a sliding horizon)."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col))
    # integer DIV, not float division + cast: exact at epoch-micros magnitude
    bucket = F.expr(f"unix_micros({ts_col}) DIV {minutes * 60_000_000}")
    w = Window.partitionBy(*keys, "__bucket").orderBy(
        F.asc(ts_col), F.asc(id_col)
    )
    return (
        events.withColumn("__bucket", bucket)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(id_col, *keys, us.alias("ts_us"))
    )


def rfm_features(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-user RFM feature vector (recency / frequency / monetary) — the
    canonical behavioral feature block a training pipeline derives from an
    event log. Recency is micros from the user's last event to the corpus
    max (order-free), frequency is the event count, monetary the exact
    integer-cents sum. One map-side-combining aggregation on user_id plus
    a broadcast of the single corpus-max row."""
    us = F.unix_micros(F.col(ts_col))
    per_user = events.groupBy(user_col).agg(
        F.max(us).alias("last_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col(value_col) * 100).cast("long")).alias("monetary_cents"),
    )
    corpus_max = events.agg(F.max(us).alias("corpus_max_us"))
    return per_user.crossJoin(F.broadcast(corpus_max)).select(
        user_col,
        (F.col("corpus_max_us") - F.col("last_us")).alias("recency_us"),
        "frequency",
        "monetary_cents",
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Markov transition counts: (prev_type, next_type, n) over each user's
    time-ordered event stream — the behavioral fingerprint behind "what do
    users do after X" and sessionized sequence models.

    One hash exchange on the user id for the lag window (the partitioning
    an event log already wants), then a low-cardinality (type x type)
    count agg that combines map-side. Ordering ties on equal timestamps
    break by event id, so the matrix is deterministic across engines and
    partitionings."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(id_col))
    prev = F.lag(F.col(type_col)).over(w)
    return (
        events.withColumn("prev_type", prev)
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col(type_col).alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def half_life_popularity(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    half_life_hours: int = 24,
    max_buckets: int = 30,
) -> DataFrame:
    """Recency-weighted popularity with EXACT integer arithmetic: each
    event's weight is 2^-(age in half-lives), with age bucketed by integer
    division — so instead of the usual exp(-λΔt) float (transcendental,
    engine/order-dependent), the score is a sum of power-of-two integers:
    ``score_scaled = Σ 1 << (max_buckets - min(bucket, max_buckets))``,
    a reorder-free BIGINT with ``score = score_scaled / 2^max_buckets``
    in exact half-life units. This is the trending/recency-ranking
    primitive ("what's hot, with yesterday counting half") that stays
    bit-identical across engines, partitionings, and reruns — and
    mergeable across shards AT THE SAME reference time by plain addition.

    One map-side-combining hash-agg on the key plus a broadcast of the
    single corpus-max row (the deterministic "now" — order-free, like
    rfm_features). Ages ≥ max_buckets half-lives contribute the minimum
    weight 1 rather than vanishing, keeping the scale bounded in int64:
    score_scaled < n_events · 2^max_buckets, safe for up to 2^32 events at
    the default max_buckets=30 (2^32 · 2^30 = 2^62 < 2^63 — the signed-int64
    ceiling; under ANSI mode an overflow errors rather than wraps).

    NULL timestamps are excluded: an event with no time has no age, so it
    must not contribute weight (without the filter, Spark's null-skipping
    ``least`` would silently land NULL-ts rows in the max_buckets bucket
    at weight 1)."""
    events = events.where(F.col(ts_col).isNotNull())
    us = F.unix_micros(F.col(ts_col))
    hl_us = int(half_life_hours) * 3_600_000_000
    corpus_max = events.agg(F.max(us).alias("corpus_max_us"))
    aged = events.crossJoin(F.broadcast(corpus_max)).select(
        F.col(key_col),
        F.least(
            F.lit(max_buckets).cast("long"),
            F.expr(f"(corpus_max_us - unix_micros({ts_col})) DIV {hl_us}"),
        ).alias("bucket"),
    )
    w = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({max_buckets} - bucket AS INT))"
    )
    return (
        aged.groupBy(key_col)
        .agg(F.sum(w).alias("score_scaled"))
        .select(
            key_col,
            "score_scaled",
            (F.col("score_scaled").cast("double") / F.lit(float(1 << max_buckets)))
            .alias("score_half_lives"),
        )
    )
