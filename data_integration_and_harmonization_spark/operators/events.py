"""Temporal aggregations over the events table (engine extension —
the reference is strictly batch-relational with no time semantics;
SURVEY §2.8). Batch forms here; the same logic runs incrementally in
:mod:`..streaming.pipeline` via readStream + watermark.

``F.window`` / ``F.session_window`` are Spark-native (tumbling and
session assignment happen JVM-side before a standard partial agg);
event-time bucketing keys the shuffle, so scale-out is by (window,
key) — the canonical streaming-agg layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events scan. The test parquet stores ts as TIMESTAMP(NANOS);
    depending on the runtime that arrives as long nanos or
    TIMESTAMP_NTZ — one shared normalizer (streaming.ensure_event_time)
    owns the dtype dispatch so batch and stream cannot drift. Batch
    keeps NTZ (naive) semantics — that is what the oracles compare;
    the streaming entry points re-normalize to TIMESTAMP for
    watermarks."""
    from data_integration_and_harmonization_spark.streaming.pipeline import ensure_event_time

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return ensure_event_time(
        spark.read.parquet(f"{sf_dir}/events.parquet"), allow_ntz=True
    )


def tumbling_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts/sums per event_type."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sliding_agg(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding-window counts: each event lands in width/slide windows."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_agg(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Session windows per user: events within ``gap`` of each other
    merge into one session."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def _event_micros(col: str = "ts") -> F.Column:
    """Microsecond-precision long ordering key for time-range windows.
    The batch scan may keep TIMESTAMP_NTZ; the cast to TIMESTAMP is
    value-preserving under the engine's pinned UTC session timezone,
    and integer micros (< 2^53 for any sane epoch) make Spark's
    rangeBetween boundary arithmetic EXACTLY match an external
    engine's ``RANGE BETWEEN INTERVAL ... PRECEDING`` on
    microsecond timestamps — a seconds-granularity ``cast(long)``
    would silently widen the window by up to a second."""
    return F.unix_micros(F.col(col).cast("timestamp"))


def rolling_agg(events: DataFrame, width_s: int = 3600, key: str = "user_id") -> DataFrame:
    """Trailing time-range rolling stats per key: for every event, the
    count and mean value over the window ``[ts - width, ts]`` of the
    same key's events (inclusive both ends, current row included).

    Scale shape: ONE shuffle on ``key`` (high-cardinality — user_id,
    not event_type) then an in-partition sort; the range frame is a
    single forward sweep per partition, no self-join, no explode. At
    100 TB the cost is the keyed sort; per-user event counts bound
    partition size."""
    w = (
        Window.partitionBy(key)
        .orderBy(_event_micros())
        .rangeBetween(-width_s * 1_000_000, 0)
    )
    return events.select(
        key,
        "event_type",
        "ts",
        "value",
        F.count(F.lit(1)).over(w).alias("n_window"),
        F.round(F.avg("value").over(w), 6).alias("avg_value"),
        F.stddev_samp("value").over(w).alias("_std_value"),
    )


def resample_ffill(events: DataFrame, key: str = "event_type") -> DataFrame:
    """Resample to a regular 1-hour grid per key, gap-filled: every key
    gets a contiguous hourly spine from its first to its last event;
    hours with no events carry ``n_events = 0`` and forward-fill the
    last seen hourly sum (the classic time-series densify + ffill).

    Scale shape: the raw events fold to per-(key, hour) partials FIRST
    (partial agg before any shuffle), the spine is a bounded
    ``sequence``-explode per key (output is grid-sized — keys x hours —
    not input-sized), and the forward fill is a window over grid rows
    only. The per-key window partition holds #hours rows, never raw
    events, so low key cardinality does not recreate the input skew."""
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"),
        F.col(key),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
    bounds = events.groupBy(key).agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = bounds.select(
        key,
        F.explode(F.expr("sequence(t0, t1, interval 1 hour)")).alias(
            "window_start"
        ),
    )
    w = (
        Window.partitionBy(key)
        .orderBy("window_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(hourly, [key, "window_start"], "left")
        .select(
            key,
            "window_start",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.last("sum_value", ignorenulls=True).over(w).alias("sum_value"),
        )
    )


def bucketed_anomalies(
    events: DataFrame,
    bucket: str = "day",
    z: float = 2.0,
    min_n: int = 5,
    key: str = "event_type",
) -> DataFrame:
    """Anomaly counts against a BUCKETED baseline: an event is
    anomalous when its value exceeds ``mean + z*std`` of its key's
    PREVIOUS bucket (day by default). This is the linear-scale form of
    a trailing-window z-score — Spark evaluates sliding range frames
    without retraction (SlidingWindowFunctionFrame re-aggregates the
    frame per row, O(n*w); the 24h-window leg cost 12 s at sf0.1 —
    measured, see PLANS.md), while this is one map-side-combinable
    groupBy over (key, bucket), a lag over the tiny bucket grid, and
    one join back — O(n) at any window width. Baselines thinner than
    ``min_n`` never flag; mean and std are rounded to 6dp before the
    threshold compare so any engine reproduces the exact flag set."""
    bkt = F.date_trunc(bucket, "ts").alias("bucket")
    d = events.groupBy(F.col(key), bkt).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("m"),
        F.round(F.stddev_samp("value"), 6).alias("s"),
    )
    w = Window.partitionBy(key).orderBy("bucket")
    b = d.select(
        key,
        "bucket",
        F.lag("n").over(w).alias("n_prev"),
        F.lag("m").over(w).alias("m_prev"),
        F.lag("s").over(w).alias("s_prev"),
    )
    j = events.withColumn("bucket", F.date_trunc(bucket, "ts")).join(
        b, [key, "bucket"]
    )
    flagged = j.where(
        (F.col("n_prev") >= min_n)
        & (
            F.col("value")
            > F.round(F.col("m_prev") + F.lit(z) * F.col("s_prev"), 6)
        )
    )
    return flagged.groupBy(key).agg(F.count(F.lit(1)).alias("n_anomalies"))


def funnel_counts(
    events: DataFrame,
    steps: list[str] | None = None,
    user_col: str = "user_id",
) -> DataFrame:
    """Ordered-sequence funnel: how many users performed step 1, then
    step 2 strictly after their first step 1, then step 3 strictly
    after that first valid step 2, ... The min-time recursion
    (t_k = earliest step-k event after t_{k-1}) is the greedy
    subsequence match, which maximizes reach at every depth.

    Plan: ONE shuffle (partition by user), then k chained
    conditional window-mins over the same partitioning — Spark plans
    a single sort and evaluates the window stack in-place; no arrays
    are collected, so a user with millions of events costs a sort,
    not memory. The final per-step counts are a bounded global agg.

    Output: (step_idx, step, n_users).
    """
    steps = steps or ["view", "click", "purchase"]
    w = Window.partitionBy(user_col)
    cur = events.where(F.col("event_type").isin(steps))
    prev_t = None
    for i, s in enumerate(steps):
        cond = F.col("event_type") == s
        if prev_t is not None:
            cond = cond & (F.col("ts") > F.col(prev_t))
        cur = cur.withColumn(f"__t{i}", F.min(F.when(cond, F.col("ts"))).over(w))
        prev_t = f"__t{i}"
    per_user = cur.groupBy(user_col).agg(
        *[F.max(f"__t{i}").alias(f"t{i}") for i in range(len(steps))]
    )
    reached = per_user.agg(
        *[
            F.count(F.col(f"t{i}")).alias(f"n{i}")
            for i in range(len(steps))
        ]
    )
    return reached.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("step_idx"),
                        F.lit(s).alias("step"),
                        F.col(f"n{i}").alias("n_users"),
                    )
                    for i, s in enumerate(steps)
                ]
            )
        ).alias("e")
    ).select("e.step_idx", "e.step", "e.n_users")


def cohort_retention(
    events: DataFrame, granularity: str = "day", user_col: str = "user_id"
) -> DataFrame:
    """Cohort retention: users grouped by first-seen period; for each
    (cohort, period-offset) the count of distinct cohort members
    active at that offset — the classic retention triangle.

    Plan: per-user first-seen agg (keyed shuffle), per-(user, period)
    distinct (map-side partial), one join on the user key, then the
    (cohort, offset) count-distinct. Output is cohorts x offsets —
    grid-sized, never input-sized."""
    first = events.groupBy(user_col).agg(
        F.date_trunc(granularity, F.min("ts")).alias("cohort")
    )
    act = events.select(
        user_col, F.date_trunc(granularity, "ts").alias("period")
    ).distinct()
    return (
        act.join(first, user_col)
        .groupBy(
            "cohort",
            F.datediff("period", "cohort").cast("long").alias("offset_days"),
        )
        .agg(F.countDistinct(user_col).alias("n_active"))
    )


def daily_uniques_rollup(events: DataFrame, rel_err: float = 0.05) -> DataFrame:
    """Mergeable-sketch uniques rollup: per-day HLL sketches of
    user_id (Spark 4's Apache DataSketches ``hll_sketch_agg``),
    union-merged to a total-distinct estimate, checked against the
    exact count.

    This is THE incremental-rollup pattern at 100 TB: day N's sketch
    is built from day N's data only and unions with stored history in
    O(sketch) time, where an exact countDistinct would reshuffle the
    entire history every day. Output: 1 row (exact, est, ok) — ok
    pins the estimate within ``rel_err`` of exact (default lgK=12
    gives ~1.6% standard error; 5% is far outside)."""
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    est = daily.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = events.agg(F.countDistinct("user_id").alias("exact"))
    return est.crossJoin(F.broadcast(exact)).select(
        "exact",
        F.col("est").cast("long").alias("est"),
        (
            F.abs(F.col("est") - F.col("exact"))
            <= F.lit(rel_err) * F.col("exact")
        )
        .cast("long")
        .alias("ok"),
    )


def json_props_agg(events: DataFrame) -> DataFrame:
    """Semi-structured path: parse the JSON ``props`` column and
    aggregate an extracted field — ``get_json_object`` stays JVM-side."""
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.round(F.avg(k), 6).alias("avg_k"),
        )
    )


def variant_props_agg(events: DataFrame) -> DataFrame:
    """The Spark-4 VARIANT path over the same semi-structured column:
    ``try_parse_json`` materializes props as a binary VariantType
    value ONCE (at 100 TB that's the difference between parsing the
    JSON text per extracted field — every ``get_json_object`` is a
    full re-parse — and parsing per ROW, with every later
    ``variant_get`` a cheap binary traversal), then a typed
    ``variant_get(..., '$.k', 'long')`` extraction feeds the same
    aggregate as :func:`json_props_agg`.

    ``n_bad`` counts rows whose props text exists but does not parse
    (``try_parse_json`` NULL on non-NULL input) — the malformed-row
    audit the lenient path silently folds into NULLs.
    """
    v = F.try_parse_json("props")
    # try_variant_get, not variant_get: the strict form THROWS on a k
    # that exists but can't cast to long (e.g. {"k": "abc"}), where the
    # JSON-text twin's CAST(... AS BIGINT) yields NULL — lenient
    # extraction is required for the value-for-value parity contract
    k = F.try_variant_get(v, "$.k", "long")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 6).alias("avg_k"),
        F.sum(
            (F.col("props").isNotNull() & v.isNull()).cast("long")
        ).alias("n_bad"),
    )


# ------------------------------------------------------- queries and oracles

def q_events_windows(spark: SparkSession, sf: str) -> DataFrame:
    # tumbling + sliding window aggs in one tagged result (merged
    # from r1's events_tumbling / events_sliding — the driver's
    # correctness pass records at most 50 queries)
    ev = load_events(spark, sf)
    t = tumbling_agg(ev).select(
        F.lit("tumbling").alias("kind"), "window_start", "event_type", "n_events", "sum_value"
    )
    s = sliding_agg(ev).select(
        F.lit("sliding").alias("kind"),
        "window_start",
        F.lit(None).cast("string").alias("event_type"),
        "n_events",
        F.lit(None).cast("double").alias("sum_value"),
    )
    # r8 'resample' leg: densified hourly spine per event_type with
    # zero-count gap rows and forward-filled hourly sums
    r = resample_ffill(ev).select(
        F.lit("resample").alias("kind"),
        "window_start",
        "event_type",
        "n_events",
        "sum_value",
    )
    # r8 'funnel' + 'cohort' legs: ordered view->click->purchase
    # reach counts and the daily retention triangle
    fu = funnel_counts(ev).select(
        F.lit("funnel").alias("kind"),
        F.lit(None).cast(dict(r.dtypes)["window_start"]).alias("window_start"),
        F.col("step").alias("event_type"),
        F.col("n_users").cast("long").alias("n_events"),
        F.lit(None).cast("double").alias("sum_value"),
    )
    co = cohort_retention(ev).select(
        F.lit("cohort").alias("kind"),
        F.col("cohort").alias("window_start"),
        F.col("offset_days").cast("string").alias("event_type"),
        F.col("n_active").cast("long").alias("n_events"),
        F.lit(None).cast("double").alias("sum_value"),
    )
    return (
        t.unionByName(s)
        .unionByName(r)
        .unionByName(fu)
        .unionByName(co)
    )


def q_events_sessions_props(spark: SparkSession, sf: str) -> DataFrame:
    # session windows + JSON-props agg in one tagged result (merged
    # r2 — same 50-query-cap motivation as q_events_windows above; both
    # halves stay individually oracle-checked through the union)
    ev = load_events(spark, sf)
    s = session_agg(ev).select(
        F.lit("session").alias("kind"),
        "user_id",
        F.lit(None).cast("string").alias("event_type"),
        F.col("session_start").alias("t0"),
        "n_events",
        F.lit(None).cast("long").alias("sum_k"),
        F.lit(None).cast("double").alias("avg_k"),
    )
    p = json_props_agg(ev).select(
        F.lit("props").alias("kind"),
        F.lit(None).cast("long").alias("user_id"),
        "event_type",
        F.lit(None).cast("timestamp").alias("t0"),
        "n_events",
        "sum_k",
        "avg_k",
    )
    # 'vprops' leg: the VARIANT path must reproduce the JSON-text
    # path value-for-value (user_id carries the malformed-row
    # count — 0 on this table, and the oracle expects exactly 0)
    vp = variant_props_agg(ev).select(
        F.lit("vprops").alias("kind"),
        F.col("n_bad").alias("user_id"),
        "event_type",
        F.lit(None).cast("timestamp").alias("t0"),
        "n_events",
        "sum_k",
        "avg_k",
    )
    # r8 'rolling' leg: per-event trailing-1h window stats keyed by
    # user (exact microsecond range frame — see _event_micros);
    # 'anomaly' leg: rolling z-score outlier counts per event_type
    roll = rolling_agg(ev).select(
        F.lit("rolling").alias("kind"),
        "user_id",
        "event_type",
        F.col("ts").alias("t0"),
        F.col("n_window").cast("long").alias("n_events"),
        F.lit(None).cast("long").alias("sum_k"),
        F.col("avg_value").alias("avg_k"),
    )
    # previous-day baseline keyed by event_type (per-user 1h
    # windows are too sparse on this table to ever reach min_n);
    # z=2.0 flags a real set at sf0.01 so the leg binds. The
    # BUCKETED variant, not the sliding one: Spark's sliding
    # range frame is O(n*w) (no retraction) — the 24h sliding
    # form of this exact leg measured 12 s at sf0.1 vs ~0 for
    # the bucketed join, and only the bucketed shape survives
    # 100 TB anyway.
    anom = bucketed_anomalies(
        ev, bucket="day", z=2.0, key="event_type"
    ).select(
        F.lit("anomaly").alias("kind"),
        F.lit(None).cast("long").alias("user_id"),
        "event_type",
        F.lit(None).cast("timestamp").alias("t0"),
        F.col("n_anomalies").cast("long").alias("n_events"),
        F.lit(None).cast("long").alias("sum_k"),
        F.lit(None).cast("double").alias("avg_k"),
    )
    # r8 'hll_rollup' verdict: mergeable per-day HLL sketches vs
    # the exact distinct-user count (sum_k carries the verdict,
    # n_events the exact count — the oracle emits both exactly)
    hll = daily_uniques_rollup(ev).select(
        F.lit("hll_rollup").alias("kind"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("timestamp").alias("t0"),
        F.col("exact").cast("long").alias("n_events"),
        F.col("ok").alias("sum_k"),
        F.lit(None).cast("double").alias("avg_k"),
    )
    return (
        s.unionByName(p)
        .unionByName(vp)
        .unionByName(roll)
        .unionByName(anom)
        .unionByName(hll)
    )


# tumbling rows + sliding rows (each event belongs to 2
# one-hour windows on a 30-min grid: the one starting at its
# 30-min bucket and the previous one)
EVENTS_WINDOWS_SQL = """
WITH f1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1
), f2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN f1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > f1.t GROUP BY 1
), f3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN f2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > f2.t GROUP BY 1
)
SELECT 'tumbling' AS kind, time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       count(*)::BIGINT AS n_events, round(sum(value), 6) AS sum_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'sliding' AS kind, w AS window_start, CAST(NULL AS VARCHAR) AS event_type,
       count(*)::BIGINT AS n_events, CAST(NULL AS DOUBLE) AS sum_value
FROM (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS w FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' FROM events
)
GROUP BY 2
UNION ALL
SELECT 'resample' AS kind, g.window_start, g.event_type,
       coalesce(h.n_events, 0)::BIGINT AS n_events,
       last_value(h.sum_value IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.window_start) AS sum_value
FROM (
  SELECT event_type,
         unnest(generate_series(time_bucket(INTERVAL '1 hour', t0),
                                time_bucket(INTERVAL '1 hour', t1),
                                INTERVAL '1 hour')) AS window_start
  FROM (SELECT event_type, min(ts) AS t0, max(ts) AS t1
        FROM events GROUP BY 1)
) g
LEFT JOIN (
  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS window_start,
         count(*)::BIGINT AS n_events, round(sum(value), 6) AS sum_value
  FROM events GROUP BY 1, 2
) h USING (event_type, window_start)
UNION ALL
SELECT 'funnel' AS kind, CAST(NULL AS TIMESTAMP) AS window_start,
       step AS event_type, n::BIGINT AS n_events,
       CAST(NULL AS DOUBLE) AS sum_value
FROM (
  SELECT 'view' AS step, (SELECT count(*) FROM f1) AS n
  UNION ALL SELECT 'click', (SELECT count(*) FROM f2)
  UNION ALL SELECT 'purchase', (SELECT count(*) FROM f3)
)
UNION ALL
SELECT 'cohort' AS kind, cohort AS window_start,
       CAST(date_diff('day', cohort, period) AS VARCHAR) AS event_type,
       count(DISTINCT user_id)::BIGINT AS n_events,
       CAST(NULL AS DOUBLE) AS sum_value
FROM (
  SELECT a.user_id, a.period, fs.cohort
  FROM (SELECT DISTINCT user_id, date_trunc('day', ts) AS period
        FROM events) a
  JOIN (SELECT user_id, date_trunc('day', min(ts)) AS cohort
        FROM events GROUP BY 1) fs USING (user_id)
)
GROUP BY 1, 2, 3
"""

# session half: gaps-and-islands with a 10-minute gap;
# props half: JSON-path extraction agg
EVENTS_SESSIONS_PROPS_SQL = """
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '10 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), g AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM d
)
SELECT 'session' AS kind, user_id, CAST(NULL AS VARCHAR) AS event_type,
       min(ts) AS t0, count(*)::BIGINT AS n_events,
       CAST(NULL AS BIGINT) AS sum_k, CAST(NULL AS DOUBLE) AS avg_k
FROM g GROUP BY user_id, sid
UNION ALL
SELECT 'props' AS kind, CAST(NULL AS BIGINT) AS user_id, event_type,
       CAST(NULL AS TIMESTAMP) AS t0, count(*)::BIGINT AS n_events,
       sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k
FROM events GROUP BY 3
UNION ALL
-- 'vprops': the engine's VARIANT path must agree value-for-value
-- with the JSON-text path; user_id carries its malformed-row count
SELECT 'vprops' AS kind, 0::BIGINT AS user_id, event_type,
       CAST(NULL AS TIMESTAMP) AS t0, count(*)::BIGINT AS n_events,
       sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k
FROM events GROUP BY 3
UNION ALL
SELECT 'rolling' AS kind, user_id, event_type, ts AS t0,
       (count(*) OVER w)::BIGINT AS n_events,
       CAST(NULL AS BIGINT) AS sum_k,
       round(avg(value) OVER w, 6) AS avg_k
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
UNION ALL
SELECT 'anomaly' AS kind, CAST(NULL AS BIGINT) AS user_id, event_type,
       CAST(NULL AS TIMESTAMP) AS t0, count(*)::BIGINT AS n_events,
       CAST(NULL AS BIGINT) AS sum_k, CAST(NULL AS DOUBLE) AS avg_k
FROM (
  SELECT e.event_type, e.value, b.n_prev, b.m_prev, b.s_prev
  FROM events e
  JOIN (
    SELECT event_type, day,
           lag(n) OVER w AS n_prev, lag(m) OVER w AS m_prev,
           lag(s) OVER w AS s_prev
    FROM (
      SELECT event_type, date_trunc('day', ts) AS day,
             count(*) AS n, round(avg(value), 6) AS m,
             round(stddev_samp(value), 6) AS s
      FROM events GROUP BY 1, 2
    )
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
  ) b ON e.event_type = b.event_type
     AND date_trunc('day', e.ts) = b.day
)
WHERE n_prev >= 5 AND value > round(m_prev + 2.0 * s_prev, 6)
GROUP BY event_type
UNION ALL
SELECT 'hll_rollup' AS kind, CAST(NULL AS BIGINT) AS user_id,
       CAST(NULL AS VARCHAR) AS event_type, CAST(NULL AS TIMESTAMP) AS t0,
       count(DISTINCT user_id)::BIGINT AS n_events,
       1::BIGINT AS sum_k, CAST(NULL AS DOUBLE) AS avg_k
FROM events
"""
