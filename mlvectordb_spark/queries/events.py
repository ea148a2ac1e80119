"""Events family: JSON extraction, time windows, sessions, funnels and
attribution over the `events` table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mlvectordb_spark.queries.common import _entry_tmpdir, entry
from mlvectordb_spark.sources.testdata import load_table


def _funnel_user_stage_times(ev: DataFrame) -> DataFrame:
    """Shared ordered-funnel kernel view → click → purchase, reduced to
    USER grain: one row per user_id with nullable t1/t2/t3 timestamps —
    the first view, the first click strictly AFTER that view, the first
    purchase strictly after that click. All three stage timestamps are
    per-user window aggregates over the SAME user partitioning (chained
    selects — each stage may reference the previous stage's column), so
    Catalyst plans a single Exchange on user_id and three Window
    operators over it; the grain-reducing groupBy(user_id) reuses that
    hash partitioning (no second Exchange). No self-joins, no per-stage
    passes over the fact table. Consumed by q_events_funnel,
    q_events_funnel_users, and the stateful streaming funnel's batch
    oracle (`streaming/stateful.user_funnel_stream`)."""
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    df = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
            F.col("ts"),
        )
    ).over(w)
    df = df.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    df = df.withColumn("t3", t3)
    # t1/t2/t3 are per-user window constants, so first() is deterministic.
    return df.groupBy("user_id").agg(
        F.first("t1").alias("t1"),
        F.first("t2").alias("t2"),
        F.first("t3").alias("t3"),
    )


@entry(oracle="""
WITH g AS (
  SELECT user_id,
    CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         IS NULL THEN 1
         WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events
)
SELECT user_id, sum(new_sess)::BIGINT AS n_sessions, count(*) AS n_events
FROM g GROUP BY user_id
""", headline=True)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap>30min cumsum (the batch twin of
    session_window in streaming/): sessions per user."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").cast("bigint").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


@entry(oracle="""
SELECT user_id, event_type, event_id FROM (
  SELECT user_id, event_type, event_id,
    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
""")
def q_events_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup: first event per (user, type) by (ts, id) —
    dropDuplicates keeps an arbitrary row, so this is the
    deterministic formulation (row_number = 1)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id")
    )


@entry(oracle="""
SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
  round(epoch(b.ts) - epoch(a.ts), 1) AS lag_s
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '30 minutes'
""", headline=True)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase attribution: every purchase within 30 minutes of a
    view by the same user, with the lag. Batch twin of the stream-stream
    interval join (`streaming/joins.py` — the SAME `attribution_pairs`
    kernel runs on two watermarked streams; this oracle-checked result is
    the specification of what the stream computes)."""
    from mlvectordb_spark.streaming.joins import (
        attribution_pairs,
        split_views_purchases,
    )

    ev = load_table(spark, sf_dir, "events")
    views, purchases = split_views_purchases(ev)
    return attribution_pairs(views, purchases)


@entry(oracle="""
WITH s1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
    OVER (PARTITION BY user_id) AS t1
  FROM events
), s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
    OVER (PARTITION BY user_id) AS t2
  FROM s1
), s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
    OVER (PARTITION BY user_id) AS t3
  FROM s2
)
SELECT
  count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END)::BIGINT AS n_view,
  count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END)::BIGINT AS n_view_click,
  count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END)::BIGINT AS n_view_click_purchase,
  round(count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END)::DOUBLE
        / count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END), 4) AS conversion
FROM s3
""", headline=True)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis view → click → purchase: per-stage user
    counts and conversion. The product-analytics staple (cf.
    window-funnel operators in ClickHouse/Flink SQL). Counts run at USER
    grain over the shared `_funnel_user_stage_times` kernel, so the
    final aggregate is plain non-null count()s — one row per user, NO
    count_distinct, hence no Catalyst Expand tripling event rows through
    the aggregation (the r5 plan defect). Single user_id Exchange for
    the whole query (plan-asserted in test_plan_quality)."""
    ev = load_table(spark, sf_dir, "events")
    users = _funnel_user_stage_times(ev)
    return users.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_view_click"),
        F.count("t3").alias("n_view_click_purchase"),
        F.round(
            F.count("t3").cast("double") / F.count("t1"), 4
        ).alias("conversion"),
    )


@entry(oracle="""
WITH s1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
    OVER (PARTITION BY user_id) AS t1
  FROM events
), s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
    OVER (PARTITION BY user_id) AS t2
  FROM s1
), s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
    OVER (PARTITION BY user_id) AS t3
  FROM s2
)
SELECT user_id,
  round(coalesce(extract(epoch FROM any_value(t1)), -1.0), 3) AS s1,
  round(coalesce(extract(epoch FROM any_value(t2)), -1.0), 3) AS s2,
  round(coalesce(extract(epoch FROM any_value(t3)), -1.0), 3) AS s3
FROM s3 GROUP BY user_id
""")
def q_events_funnel_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel stage timestamps (epoch seconds; -1 = stage not
    reached) — the batch twin the stateful streaming funnel
    (`streaming/stateful.user_funnel_stream`) is tested against, here
    under the driver's oracle gate so the kernel both consumers share is
    SQL-verified. Same single user_id Exchange as events_funnel."""
    ev = load_table(spark, sf_dir, "events")
    return _funnel_user_stage_times(ev).select(
        F.col("t1").alias("__t1"),
        F.col("t2").alias("__t2"),
        F.col("t3").alias("__t3"),
        "user_id",
    ).select(
        "user_id",
        F.round(F.coalesce(F.col("__t1").cast("double"), F.lit(-1.0)), 3).alias("s1"),
        F.round(F.coalesce(F.col("__t2").cast("double"), F.lit(-1.0)), 3).alias("s2"),
        F.round(F.coalesce(F.col("__t3").cast("double"), F.lit(-1.0)), 3).alias("s3"),
    )


@entry(oracle="""
SELECT event_type, count(*) AS n_events,
  sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
  round(avg(json_extract_string(props, '$.k')::BIGINT), 4) AS avg_k,
  round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type
""", headline=True)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (metadata_json parity — SURVEY.md §1.4): per event
    type, stats over props.k."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.round(F.avg(k), 4).alias("avg_k"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@entry(oracle="""
WITH marked AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL THEN 1
         WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), with_sess AS (
  SELECT user_id, ts, value,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
  FROM marked
)
SELECT user_id, session_id, count(*) AS n_events,
  round(max(epoch(ts)) - min(epoch(ts)), 1) AS duration_s,
  round(sum(value), 2) AS session_value
FROM with_sess GROUP BY user_id, session_id
""", headline=True)
def q_events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization with per-session stats: session id by
    cumulative gap>30min markers, then duration/count per session."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    with_sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return with_sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.round(
            F.max(F.col("ts").cast("double")) - F.min(F.col("ts").cast("double")), 1
        ).alias("duration_s"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


@entry(oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
  count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""", headline=True)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch `window()`; the streaming
    twin lives in streaming/events.py)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@entry(oracle="""
WITH starts AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' FROM events
)
SELECT window_start, count(*) AS n_events FROM starts GROUP BY 1
""")
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 hour long, 30-minute slide): each event lands in
    two windows."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window(F.col("ts"), "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


@entry(oracle="""
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), errors AS (
  SELECT user_id, ts FROM events WHERE event_type = 'error'
)
SELECT p.event_id, p.user_id,
  date_trunc('second', e.ts)::TIMESTAMP AS asof_sec,
  round(epoch(p.ts) - epoch(e.ts), 1) AS gap_s
FROM purchases p ASOF LEFT JOIN errors e
  ON p.user_id = e.user_id AND p.ts >= e.ts
""", headline=True)
def q_events_asof_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks natively — operators/asof.py): for
    each purchase event, the user's most recent error at-or-before it.
    Union-marker + last_value window: one shuffle, no range cross-join."""
    from mlvectordb_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    out = asof_join(
        purchases, errors, on="user_id", left_time="ts", right_time="ts",
        value_cols=[],
    )
    gap = F.col("ts").cast("double") - F.col("asof_time").cast("double")
    # second-truncated output: the raw event timestamps carry sub-µs digits
    # that Spark (µs) and a ns-native oracle would hash differently
    return out.select(
        "event_id",
        "user_id",
        F.date_trunc("second", F.col("asof_time")).alias("asof_sec"),
        F.round(gap, 1).alias("gap_s"),
    )


@entry(oracle="""
SELECT date_trunc('day', ts)::TIMESTAMP AS bucket, event_type,
  count(*) AS n_events, round(sum(value), 2) AS sum_value,
  round(min(value), 2) AS min_value, round(max(value), 2) AS max_value
FROM events GROUP BY 1, 2
""")
def q_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: materialize an hourly rollup
    of events, answer the daily question exactly from it (algebraic aggs
    re-aggregate losslessly). Oracle computes straight from raw events —
    results must be identical."""
    from mlvectordb_spark.operators.rollup import build_rollup, query_rollup

    ev = load_table(spark, sf_dir, "events")
    path = _entry_tmpdir("rollup")
    build_rollup(ev, path, bucket="1 hour")
    return query_rollup(spark, path, grain="day")


@entry(oracle="""
SELECT user_id, event_type, n, rnk FROM (
  SELECT user_id, event_type, count(*) AS n,
    row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type ASC) AS rnk
  FROM events GROUP BY user_id, event_type
) WHERE rnk <= 2
""")
def q_top_event_types_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group over an aggregate: each user's 2 most frequent event
    types (agg → window rank → filter)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("user_id", "event_type", "n", "rnk")
    )


# rows-only: HLL implementations differ across engines
@entry()
def q_rollup_hll_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup (rows-only by design: Spark's
    Datasketches HLL and DuckDB's approx_count_distinct are different
    sketch implementations, so no cross-engine value oracle exists; the
    merge-equality and error-bound contracts are pytest-gated in
    tests/test_rollup.py). The hourly rollup stores an HLL sketch of
    user_id per bucket; the daily answer UNIONS sketches — distinct users
    per day without re-touching raw events, the only distinct-count shape
    that stays incremental at 100 TB."""
    from mlvectordb_spark.operators.rollup import build_rollup, query_rollup

    ev = load_table(spark, sf_dir, "events")
    path = _entry_tmpdir("hll_rollup")
    build_rollup(ev, path, bucket="1 hour", distinct_col="user_id")
    daily = query_rollup(spark, path, grain="day", distinct_col="user_id")
    return daily.select(
        "bucket", "event_type", "n_events", "approx_distinct_user_id"
    )
