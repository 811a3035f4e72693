"""Time-series operators over the ``events`` table: tumbling/sliding/session
windows and as-of join.

The reference has no streaming/temporal surface (batch InputFormat only,
AvroFromXmlInputFormat.scala:15) — these are part of the engine's
LLM-pipeline/scale extension (BASELINE.md north_star). Batch twins of the
Structured Streaming operators live here so they get DuckDB oracles; the
streaming execution path is ``xml_hive_spark.streaming`` (tested equal to
these in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xml_hive_spark.operators import davg, dsum, query, t


@query(
    "tumbling_window_agg",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
    tags=("timeseries", "window"),
)
def tumbling_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1h window — ``F.window`` is the same operator Structured
    Streaming uses, so this plan carries over to the stream unchanged."""
    ev = t(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "sliding_window_agg",
    oracle="""
SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800 - k * 1800) AS TIMESTAMP)
           AS window_start,
       count(*) AS n, CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events, range(2) r(k)
GROUP BY 1
""",
    tags=("timeseries", "window"),
)
def sliding_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding 1h window every 30min: each event lands in 2 windows (the
    oracle materializes the same two aligned starts per event)."""
    ev = t(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "60 minutes", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


@query(
    "session_window_agg",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
), islands AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS session_value
FROM islands GROUP BY user_id, session_id
""",
    tags=("timeseries", "session"),
)
def session_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows (30min gap) via ``F.session_window`` — Spark's
    native session operator; the oracle derives identical sessions with
    gaps-and-islands SQL. Session start = first event (window.start)."""
    ev = t(spark, sf, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


@query(
    "asof_join",
    oracle="""
SELECT p.user_id, p.event_id, p.ts,
       v.ts AS last_view_ts, round(v.value, 3) AS last_view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND v.ts <= p.ts
""",
    tags=("timeseries", "asof"),
)
def asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (each purchase ↔ latest view at-or-before it, per user).

    Spark has no ASOF JOIN operator; the scalable composition is the
    union + last-non-null-over-window trick: one shuffle on
    (user_id), no range self-join blowup — this is the plan that holds at
    100 TB (a naive ``ts <= ts`` theta join is quadratic per user).
    Oracle: DuckDB's native ASOF LEFT JOIN.
    """
    ev = t(spark, sf, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("event_id"),
        F.col("value").alias("v_value"),
        F.lit(0).alias("is_left"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("double").alias("v_value"),
        F.lit(1).alias("is_left"),
    )
    # at equal ts the view sorts first (is_left asc) so `<=` semantics hold
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = views.unionByName(purchases)
    enriched = u.select(
        "user_id",
        "event_id",
        "ts",
        "is_left",
        F.last(F.when(F.col("is_left") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("last_view_ts"),
        F.round(
            F.last(F.when(F.col("is_left") == 0, F.col("v_value")), ignorenulls=True).over(
                w
            ),
            3,
        ).alias("last_view_value"),
    )
    return enriched.filter(F.col("is_left") == 1).select(
        "user_id", "event_id", "ts", "last_view_ts", "last_view_value"
    )


@query(
    "hypertable_rollup",
    oracle="""
SELECT CAST(to_timestamp(floor(epoch(ts) / 900) * 900) AS TIMESTAMP) AS bucket,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_value,
       round(max(value), 3) AS max_value
FROM events GROUP BY 1, 2
""",
    tags=("timeseries", "rollup"),
)
def hypertable_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous-aggregate style 15-minute rollup (time_bucket shape).
    At scale this is the materialized downsample you'd write back
    partitioned by bucket date."""
    ev = t(spark, sf, "events")
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / 900).cast("long") * 900
    ).alias("bucket")
    return ev.groupBy(bucket, "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        davg("value").alias("avg_value"),
        F.round(F.max("value"), 3).alias("max_value"),
    )


@query(
    "interval_overlap_join",
    oracle="""
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS os,
         CAST(o_orderdate AS DATE) + 14 AS oe
  FROM orders
),
c AS (
  SELECT DISTINCT CAST(date_trunc('quarter', CAST(o_orderdate AS DATE))
                       AS DATE) AS cs
  FROM orders
),
c2 AS (SELECT strftime(cs, '%Y-%m') AS campaign_id, cs, cs + 45 AS ce FROM c)
SELECT o_orderkey, campaign_id,
       date_diff('day', GREATEST(os, cs), LEAST(oe, ce)) AS overlap_days
FROM o JOIN c2 ON os < ce AND cs < oe
""",
    tags=("join", "interval", "timeseries"),
)
def interval_overlap_join(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-overlap join, BUCKETIZED: every order carries a 14-day
    interval, campaigns are 45-day windows per distinct order quarter;
    emit each overlapping (order, campaign) pair with its exact overlap
    length. Half-open semantics: [s, e) overlaps iff os < ce AND cs < oe.

    The scale shape is the point. A raw overlap predicate is a theta
    join — O(N×M) comparisons with no shuffle key (the oracle runs it;
    DuckDB can at sf0.01). Here both sides explode to the MONTH buckets
    their interval touches (``sequence`` + ``explode``: fan-out =
    interval length / bucket width, a small constant) and the join is an
    EQUI-join on the bucket — shuffle-partitioned, AQE-skew-handled,
    linear in candidates. Each overlapping pair is emitted EXACTLY once
    with no distinct: the pair joins only in the bucket containing
    ``greatest(os, cs)`` (the later start lies inside both intervals,
    so both sides produced that bucket; every other shared bucket is
    filtered). The campaign side here is broadcast-small — the pattern
    is what carries when BOTH sides are fact-sized (the dedup-free
    bucket trick is what makes it shuffle-safe at 100 TB)."""
    orders = t(spark, sf, "orders")
    o = orders.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("os"),
        F.date_add(F.col("o_orderdate").cast("date"), 14).alias("oe"),
    )
    camp = (
        orders.select(
            F.trunc(F.col("o_orderdate").cast("date"), "quarter").alias("cs")
        )
        .distinct()
        .select(
            F.date_format("cs", "yyyy-MM").alias("campaign_id"),
            "cs",
            F.date_add("cs", 45).alias("ce"),
        )
    )
    month = F.expr("interval 1 month")
    ob = o.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.trunc("os", "month"),
                F.trunc(F.date_sub("oe", 1), "month"),
                month,
            )
        ),
    )
    cb = camp.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.trunc("cs", "month"),
                F.trunc(F.date_sub("ce", 1), "month"),
                month,
            )
        ),
    )
    return (
        ob.join(cb, "bucket")
        .filter(
            (F.col("os") < F.col("ce"))
            & (F.col("cs") < F.col("oe"))
            & (F.col("bucket") == F.trunc(F.greatest("os", "cs"), "month"))
        )
        .select(
            "o_orderkey",
            "campaign_id",
            F.datediff(
                F.least("oe", "ce"), F.greatest("os", "cs")
            ).alias("overlap_days"),
        )
    )


@query(
    "funnel_conversion",
    oracle="""
WITH s AS (
  SELECT user_id, min(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS first_purchase_ts
  FROM events e JOIN s ON s.user_id = e.user_id AND e.ts > s.signup_ts
  WHERE e.event_type = 'purchase'
  GROUP BY e.user_id
)
SELECT s.user_id, s.signup_ts, p.first_purchase_ts,
       p.first_purchase_ts IS NOT NULL AS converted
FROM s LEFT JOIN p ON p.user_id = s.user_id
""",
    tags=("timeseries", "funnel", "events"),
)
def funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-step funnel (event-sequence analytics): per user, the
    first ``signup`` and the first ``purchase`` strictly AFTER it — the
    order constraint is what separates a funnel from two independent
    aggregates (a purchase before signup must not count).

    Plan: two filtered hash-aggs and two joins, all keyed on user_id —
    one shuffle key end to end, so every stage can reuse the same hash
    partitioning. The step-2 aggregate filters ``ts > signup_ts`` BEFORE
    its min (aggregate-after-join on the co-keyed pair), never a
    per-user sort or a window over the full event stream — at 100 TB of
    events the stream is touched twice with predicate + column pruning
    into both scans and reduced to per-user rows immediately."""
    ev = t(spark, sf, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    return s.join(p, "user_id", "left").select(
        "user_id",
        "signup_ts",
        "first_purchase_ts",
        F.col("first_purchase_ts").isNotNull().alias("converted"),
    )


@query(
    "forecast_seasonal_naive_backtest",
    oracle="""
WITH m AS (
  SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS y,
         CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate <  TIMESTAMP '1997-01-01'
  GROUP BY y, mo
)
SELECT a.mo AS month,
       a.cents AS actual_cents,
       p.cents AS predicted_cents,
       CAST(abs(a.cents - p.cents) AS BIGINT) AS abs_err_cents
FROM m a JOIN m p ON p.mo = a.mo AND p.y = 1995
WHERE a.y = 1996
ORDER BY month
""",
    tags=("timeseries", "forecast", "backtest"),
)
def forecast_seasonal_naive_backtest(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-naive forecast BACKTEST — the baseline every demand
    forecast is judged against (predict month m of 1996 with month m
    of 1995) evaluated in-engine: monthly revenue in integer cents,
    one self-join on the month number, exact integer absolute errors.
    Backtesting in the warehouse instead of exporting to a modeling
    stack is the capability; the seasonal-naive choice keeps every
    number integer-exact so the driver hash checks the whole
    evaluation.

    Scale shape: ONE hash-agg to 24 monthly rows, then a domain-sized
    self-join — the backtest cost is the aggregation scan, independent
    of horizon."""
    orders = t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    m = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("mo"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    a = m.filter(F.col("y") == 1996).select(
        F.col("mo").alias("month"), F.col("cents").alias("actual_cents")
    )
    p = m.filter(F.col("y") == 1995).select(
        F.col("mo").alias("month"), F.col("cents").alias("predicted_cents")
    )
    return (
        a.join(p, "month")
        .select(
            "month",
            "actual_cents",
            "predicted_cents",
            F.abs(F.col("actual_cents") - F.col("predicted_cents"))
            .cast("long")
            .alias("abs_err_cents"),
        )
        .orderBy("month")
    )


@query(
    "twap_time_weighted",
    oracle="""
WITH seq AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         CAST(epoch_us(lead(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS BIGINT) AS dt_us
  FROM events
)
SELECT user_id,
       CAST(SUM(cents * dt_us) AS BIGINT) AS twap_num,
       CAST(SUM(dt_us) AS BIGINT) AS twap_den,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM seq WHERE dt_us IS NOT NULL
GROUP BY user_id
""",
    tags=("timeseries", "twap", "finance"),
)
def twap_time_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """TIME-WEIGHTED average price (TWAP) — the irregular-series
    aggregate plain avg() gets wrong (a value holds until the NEXT
    observation, so it must weigh by its holding duration): per user,
    Σ value·Δt / Σ Δt with Δt from a lead() window under the total
    (ts, event_id) order, carried as an EXACT integer
    numerator/denominator pair (cents × epoch-microseconds — the
    regression_slope convention), so the driver hash checks the
    weighting bit-for-bit. The financial/IoT sibling of
    ``window_rolling_1h``.

    Scale shape: one user-keyed window + one user-keyed hash-agg on
    the same partitioning — a single shuffle end to end."""
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).cast("long").alias("dt_us"),
    )
    return (
        seq.filter(F.col("dt_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.col("cents") * F.col("dt_us")).cast("long")
            .alias("twap_num"),
            F.sum("dt_us").cast("long").alias("twap_den"),
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
        )
    )


OHLC_ORACLE = """
WITH pricks AS (
  SELECT event_type,
         date_trunc('hour', ts) AS bar,
         CAST(round(value * 100) AS BIGINT) AS cents,
         -- unique integer ordering value, bar-relative so it can't
         -- overflow: in-bar offset (< 3.6e9 us) * 2^31 + event_id
         (epoch_us(ts) - epoch_us(date_trunc('hour', ts))) * 2147483648
           + event_id AS ord
  FROM events
)
SELECT event_type, bar,
       CAST(min_by(cents, ord) AS BIGINT) AS open_cents,
       CAST(max(cents) AS BIGINT) AS high_cents,
       CAST(min(cents) AS BIGINT) AS low_cents,
       CAST(max_by(cents, ord) AS BIGINT) AS close_cents,
       CAST(count(*) AS BIGINT) AS n_ticks
FROM pricks
GROUP BY event_type, bar
ORDER BY event_type, bar
"""


def ohlc_bars(ev: DataFrame) -> DataFrame:
    """Per (event_type, hour) OHLC bar of ``ev`` (batch or streaming) in
    integer cents. First/last ride min_by/max_by over a UNIQUE integer
    ordering value (in-bar microsecond offset · 2^31 + event_id — the
    ``agg_argmax_argmin`` determinism convention; bar-relative so the
    product stays inside BIGINT: 3.6e9 µs/hour · 2^31 < 2^63). Every
    aggregate is mergeable, so this is ONE hash-agg with map-side
    combine and bounded complete-mode streaming state."""
    ordv = (
        F.unix_micros("ts") - F.unix_micros(F.date_trunc("hour", "ts"))
    ) * 2147483648 + F.col("event_id")
    return (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bar"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            ordv.alias("ord"),
        )
        .groupBy("event_type", "bar")
        .agg(
            F.expr("min_by(cents, ord)").cast("long").alias("open_cents"),
            F.max("cents").cast("long").alias("high_cents"),
            F.min("cents").cast("long").alias("low_cents"),
            F.expr("max_by(cents, ord)").cast("long").alias("close_cents"),
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
        )
    )


@query(
    "ohlc_bars_hourly",
    oracle=OHLC_ORACLE,
    tags=("timeseries", "ohlc", "resample", "finance"),
)
def ohlc_bars_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """OHLC bar resampling — the canonical financial/IoT downsample:
    per (series, hour), the Opening and Closing tick (first/last by
    time) plus the High/Low (see :func:`ohlc_bars`); output is
    |series|×|hours|."""
    return ohlc_bars(t(spark, sf, "events")).orderBy("event_type", "bar")


@query(
    "max_drawdown_per_user",
    oracle="""
WITH seq AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         MAX(CAST(round(value * 100) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS peak
  FROM events
)
SELECT user_id,
       CAST(MAX(peak) AS BIGINT) AS peak_cents,
       CAST(MAX(peak - cents) AS BIGINT) AS max_drawdown_cents,
       CAST(count(*) AS BIGINT) AS n_ticks
FROM seq GROUP BY user_id
""",
    tags=("timeseries", "drawdown", "finance", "window"),
)
def max_drawdown_per_user(spark: SparkSession, sf: str) -> DataFrame:
    """MAXIMUM DRAWDOWN — the canonical risk metric over an ordered
    value series: per user, the running peak (cumulative max under the
    total (ts, event_id) order) and the largest peak-to-current drop,
    all in integer cents so the metric is hash-exact. Completes the
    finance/IoT window family (TWAP, OHLC, rolling 1h, moving avg).

    Scale shape: one user-keyed ordered window (running max is an
    O(1)-state frame) + one hash-agg on the SAME partitioning — a
    single shuffle end to end, the ``twap_time_weighted`` shape."""
    ev = t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    seq = ev.select(
        "user_id",
        cents.alias("cents"),
        F.max(cents).over(w).alias("peak"),
    )
    return seq.groupBy("user_id").agg(
        F.max("peak").cast("long").alias("peak_cents"),
        F.max(F.col("peak") - F.col("cents")).cast("long")
        .alias("max_drawdown_cents"),
        F.count(F.lit(1)).cast("long").alias("n_ticks"),
    )
