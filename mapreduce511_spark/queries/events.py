"""Event-stream analytics (batch form) — the engine's time-series
surface: tumbling windows, sessionization, latest-record dedup, as-of
alignment, JSON prop extraction.

These are the batch twins of the streaming operators in
``mapreduce511_spark.streaming`` (SURVEY.md §2.9: the reference's
monitor feed is an append-only sampler consumed post-hoc).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce511_spark.queries import norm0, register
from mapreduce511_spark.queries.oracle_sql import TUMBLING_HOUR_ORACLE
from mapreduce511_spark.sources.tables import load_table
from mapreduce511_spark.streaming import window_counts

SESSION_GAP_SECONDS = 1800


@register(
    "tumbling_event_counts",
    oracle=TUMBLING_HOUR_ORACLE,
)
def tumbling_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window counts per event type — the batch twin of
    the monitor's per-cycle cluster average (SURVEY.md §2.9)."""
    events = load_table(spark, sf_dir, "events")
    return window_counts(events, F.window("ts", "1 hour"))


@register(
    "sessionize_events",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts - lag(ts) OVER w) > {SESSION_GAP_SECONDS}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id,
           CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
           count(*)                                   AS n_events,
           round(count(*) * 100.0 / count(DISTINCT session_id)) / 100
                                                      AS avg_events_per_session
    FROM sessions
    GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity splits sessions):
    lag → new-session flag → running sum = session id. One shuffle on
    user_id; all windows reuse that partitioning."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    gap = F.col("ts").cast("double") - prev_ts.cast("double")
    marked = events.withColumn(
        "new_session",
        F.when(prev_ts.isNull() | (gap > SESSION_GAP_SECONDS), 1).otherwise(0),
    )
    sessions = marked.withColumn("session_id", F.sum("new_session").over(run))
    return sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
        # scale-before-divide: 82/80=1.025 has no exact double, and
        # Spark (decimal-string HALF_UP) and DuckDB (binary) round the
        # approximation differently; n*100/m keeps exact halves exact.
        (F.round(F.count("*") * 100.0 / F.countDistinct("session_id")) / 100).alias(
            "avg_events_per_session"
        ),
    )


@register(
    "json_props_stats",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           round(avg(CAST(props->>'$.k' AS BIGINT)), 2)       AS avg_k,
           max(CAST(props->>'$.k' AS BIGINT))                 AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull ``k`` out of the JSON props
    column and aggregate. get_json_object stays JVM-side."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return events.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        F.round(F.avg("k"), 2).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "latest_event_per_user_type",
    oracle="""
    SELECT user_id, event_type, event_id, round(value, 2) AS value
    FROM (
        SELECT user_id, event_type, event_id, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def latest_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record dedup (CDC-style compaction): keep the newest
    event per (user, type). At scale this is the standard snapshot
    compaction over a change stream."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.round("value", 2).alias("value"))
    )


@register(
    "asof_last_signup",
    oracle="""
    SELECT p.event_id, p.user_id, max(s.ts) AS last_signup_ts
    FROM events p
    LEFT JOIN events s
      ON s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts <= p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id
    """,
)
def asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase aligned to the user's most recent
    signup at-or-before it. Implemented as the scalable union+window
    form (last non-null over time order) — one shuffle on user_id, no
    inequality-join fan-out."""
    events = load_table(spark, sf_dir, "events")
    evs = events.filter(F.col("event_type").isin("purchase", "signup"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    signup_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    return (
        evs.withColumn("last_signup_ts", F.last(signup_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "last_signup_ts")
    )


@register(
    "event_value_quantiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 2) AS median_value,
           round(quantile_cont(value, 0.9), 2) AS p90_value,
           round(min(value), 2)                AS min_value,
           round(max(value), 2)                AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per type. At 100 TB swap
    ``percentile`` for ``percentile_approx`` (mergeable sketch) — kept
    exact here to hash-match the oracle."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 2).alias("median_value"),
        F.round(F.expr("percentile(value, 0.9)"), 2).alias("p90_value"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
    )


@register(
    "session_window_stats",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts - lag(ts) OVER w) > {SESSION_GAP_SECONDS}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id,
           min(ts)              AS session_start,
           count(*)             AS n_events,
           round(sum(value), 2) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session stats via Spark's native ``session_window`` (the
    merging-interval session operator Structured Streaming uses).
    The oracle derives identical sessions independently with the
    lag/running-sum formulation — cross-validating Spark's built-in
    session semantics against first-principles SQL.

    Session identity: window start == min event ts in the session
    (both formulations agree because a session's first event opens
    it). One shuffle on (user_id, session_window)."""
    events = load_table(spark, sf_dir, "events")
    gap = f"{SESSION_GAP_SECONDS} seconds"
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("sw"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
            F.min("ts").alias("session_start"),
        )
        .select("user_id", "session_start", "n_events", "session_value")
    )


@register(
    "sliding_event_counts",
    oracle="""
    SELECT window_start, event_type, count(*) AS n_events
    FROM (
        SELECT unnest([date_trunc('hour', ts),
                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start,
               event_type
        FROM events
    )
    GROUP BY window_start, event_type
    """,
)
def sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h duration, 1h slide): each event lands in two
    overlapping windows. The oracle derives the same assignment from
    first principles (every event's two covering window starts) —
    cross-validating Spark's sliding ``F.window`` expansion."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )


@register(
    "pivot_event_type_counts",
    oracle="""
    SELECT user_id % 10 AS cohort,
           CAST(count(*) FILTER (event_type = 'click')    AS BIGINT) AS click,
           CAST(count(*) FILTER (event_type = 'view')     AS BIGINT) AS view,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (event_type = 'signup')   AS BIGINT) AS signup,
           CAST(count(*) FILTER (event_type = 'error')    AS BIGINT) AS error
    FROM events
    GROUP BY cohort
    """,
)
def pivot_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot operator: per-cohort event-type counts as columns via
    ``groupBy().pivot(values=...)``. The explicit value list keeps the
    plan single-pass (no extra distinct-values job) and stable-schema
    — the production form of pivot at scale."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        ev.select((F.col("user_id") % 10).alias("cohort"), "event_type")
        .groupBy("cohort")
        .pivot("event_type", types)
        .count()
    )
    # pivot leaves null for absent combos; the oracle's FILTER counts 0
    return out.select(
        "cohort", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


@register(
    "event_value_band_join",
    oracle="""
    WITH bands(band, lo, hi) AS (
        VALUES ('micro', 0.0, 10.0), ('small', 10.0, 50.0),
               ('mid', 50.0, 200.0), ('large', 200.0, 1000.0)
    )
    SELECT band, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY band, event_type
    """,
)
def event_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: each event lands in the value band whose
    [lo, hi) interval contains it. The band table is tiny and
    broadcast, so the non-equi condition is a BroadcastNestedLoopJoin
    over 4 rows per event — the correct plan for interval lookup
    tables (an O(n·bands) scan, never a shuffle; for thousands of
    bands you'd bucketize with width_bucket-style math instead)."""
    ev = load_table(spark, sf_dir, "events")
    bands = ev.sparkSession.createDataFrame(
        [
            ("micro", 0.0, 10.0),
            ("small", 10.0, 50.0),
            ("mid", 50.0, 200.0),
            ("large", 200.0, 1000.0),
        ],
        "band string, lo double, hi double",
    )
    return (
        ev.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "rolling_value_sum",
    oracle="""
    SELECT user_id, event_id,
           CAST(sum(cents) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS window_cents,
           rn
    FROM (
        SELECT user_id, event_id, ts,
               CAST(round(value * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    )
    WHERE user_id < 200
    """,
)
def rolling_value_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-bounded rolling aggregate: per-user 5-event sliding sum.
    Values convert to integer cents FIRST (round(value*100) is the
    same double op in both engines), so the windowed sum is exact
    integer arithmetic — sliding-frame float summation differs between
    engines (Spark re-sums the frame; DuckDB uses segment trees), and
    integers make that difference unobservable. Unique (ts, event_id)
    ordering per the round-1 tie lesson."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = order.rowsBetween(-4, 0)
    return (
        ev.select("user_id", "event_id", "ts", cents.alias("cents"))
        .withColumn("window_cents", F.sum("cents").over(frame))
        .withColumn("rn", F.row_number().over(order))
        .filter(F.col("user_id") < 200)
        .select("user_id", "event_id", "window_cents", "rn")
    )


@register(
    "order_value_ntile",
    oracle="""
    SELECT tile,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS tile_revenue
    FROM (
        SELECT o_totalprice,
               ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS tile
        FROM orders
    )
    GROUP BY tile
    """,
)
def order_value_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing over a total order (price desc, orderkey
    tie-break), aggregated per tile. r9 retrofit (r8 verdict item 3):
    the former single-partition ``ntile(4)`` window is now
    ``operators/order.global_ntile`` — two-pass range-partition row
    numbering plus the closed-form ntile remainder rule. Identical
    buckets, identical oracle, and no stage where one executor sorts
    the whole table."""
    from mapreduce511_spark.operators.order import global_ntile

    orders = load_table(spark, sf_dir, "orders")
    tiled = global_ntile(
        orders.select("o_totalprice", "o_orderkey"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        4,
    )
    return (
        tiled.groupBy("tile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("tile_revenue"),
        )
    )


@register(
    "event_rollup_multires",
    oracle="""
    WITH cents AS (
        SELECT event_type, ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ), hourly AS (
        SELECT date_trunc('hour', ts) AS bucket_ts, event_type,
               count(*) AS n_events, sum(cents) AS total_cents
        FROM cents
        GROUP BY 1, 2
    ), daily AS (
        SELECT date_trunc('day', bucket_ts) AS bucket_ts, event_type,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               sum(total_cents) AS total_cents
        FROM hourly
        GROUP BY 1, 2
    )
    SELECT 'hour' AS grain, bucket_ts, event_type, n_events,
           CAST(total_cents AS BIGINT) AS total_cents
    FROM hourly
    UNION ALL
    SELECT 'day' AS grain, bucket_ts, event_type, n_events,
           CAST(total_cents AS BIGINT) AS total_cents
    FROM daily
    """,
)
def event_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (continuous-aggregate
    pattern): hour and day grains of per-type event counts and value
    sums in one result. The day grain re-aggregates the HOURLY
    aggregate, not the raw table — one scan of the fact table, then a
    tiny second-stage groupBy over ~24x fewer rows, which is how
    cascading rollups stay cheap at 100 TB. Values become integer
    cents before any sum, so cross-engine float order is unobservable."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = (
        ev.select(
            F.date_trunc("hour", "ts").alias("bucket_ts"),
            "event_type",
            cents.alias("cents"),
        )
        .groupBy("bucket_ts", "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("cents").alias("total_cents"))
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", "bucket_ts").alias("bucket_ts"), "event_type"
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_cents").alias("total_cents"),
        )
    )
    return hourly.select(
        F.lit("hour").alias("grain"), "bucket_ts", "event_type",
        "n_events", "total_cents",
    ).unionByName(
        daily.select(
            F.lit("day").alias("grain"), "bucket_ts", "event_type",
            "n_events", "total_cents",
        )
    )


@register(
    "unpivot_type_hour_matrix",
    oracle="""
    WITH wide AS (
        SELECT extract(hour FROM ts) AS hr,
               count(*) FILTER (event_type = 'click')    AS click,
               count(*) FILTER (event_type = 'view')     AS view,
               count(*) FILTER (event_type = 'purchase') AS purchase,
               count(*) FILTER (event_type = 'error')    AS error
        FROM events
        GROUP BY hr
    )
    SELECT hr, event_type, n_events
    FROM wide
    UNPIVOT (n_events FOR event_type IN (click, view, purchase, error))
    """,
)
def unpivot_type_hour_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot then UNPIVOT (melt): the hour x event-type count matrix
    goes wide (conditional aggregation) and back to long via
    ``DataFrame.unpivot`` — the wide->long reshaping primitive
    (pandas ``melt``) for feeding fixed-schema matrices into long-form
    consumers. Unpivot is a zero-shuffle projection (each wide row
    expands to 4 long rows map-side)."""
    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy(F.hour("ts").cast("long").alias("hr")).agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(t)
            for t in ("click", "view", "purchase", "error")
        ]
    )
    return wide.unpivot(
        ids=["hr"],
        values=["click", "view", "purchase", "error"],
        variableColumnName="event_type",
        valueColumnName="n_events",
    )


@register(
    "funnel_view_to_purchase",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS first_view
        FROM events WHERE event_type = 'view'
        GROUP BY user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS first_purchase
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.ts > v.first_view
        GROUP BY e.user_id
    )
    SELECT count(*) AS viewers,
           count(p.user_id) AS converted,
           CAST(round(count(p.user_id) * 10000.0 / count(*)) AS BIGINT)
               AS conversion_bp,
           CAST(round(avg(epoch(p.first_purchase) - epoch(v.first_view)))
                AS BIGINT) AS avg_seconds_to_convert
    FROM v LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def funnel_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral funnel: users whose first 'view' is later followed by
    a 'purchase', with conversion rate (basis points — integer on both
    engines) and mean time-to-convert. Two per-user min-aggregates and
    one join, all hash-partitioned on user_id — at scale this is the
    canonical one-shuffle-per-stage funnel, not a window over the full
    event stream."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    joined = v.join(p, "user_id", "left")
    secs = F.col("first_purchase").cast("double") - F.col(
        "first_view"
    ).cast("double")
    return joined.agg(
        F.count("*").alias("viewers"),
        F.count("first_purchase").alias("converted"),
        F.round(F.count("first_purchase") * 10000.0 / F.count("*"))
        .cast("long")
        .alias("conversion_bp"),
        F.round(F.avg(secs)).cast("long").alias("avg_seconds_to_convert"),
    )


@register(
    "cohort_hourly_retention",
    oracle="""
    WITH hourly AS (
        SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events
    ),
    ret AS (
        SELECT a.h, count(*) AS active,
               CAST(sum(CAST(b.user_id IS NOT NULL AS BIGINT)) AS BIGINT)
                   AS retained
        FROM hourly a
        LEFT JOIN hourly b
          ON a.user_id = b.user_id AND b.h = a.h + INTERVAL 1 HOUR
        GROUP BY a.h
    )
    SELECT h, active, retained,
           CAST(round(retained * 10000.0 / active) AS BIGINT) AS retention_bp
    FROM ret
    WHERE active >= 5
    """,
)
def cohort_hourly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-over-hour user retention: of the users active in hour h,
    the share also active in h+1 (basis points; hours with <5 active
    users suppressed). One distinct over (user, hour) — map-side
    combinable — then a self-join keyed on (user, hour): co-located
    by the same hash partitioning, no skew (a user's hours are
    bounded by the calendar). This is the activity-cohort shape every
    event pipeline runs; day/week grains are the same plan with a
    coarser trunc.

    Reference basis: extension tier — temporal self-alignment beyond
    the reference's per-run series (SURVEY.md §2.3 J2 analog on event
    streams)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.select(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).distinct()
    nxt = hourly.select(
        F.col("user_id").alias("u2"),
        (F.col("h") - F.expr("INTERVAL 1 HOUR")).alias("h2"),
    )
    joined = hourly.join(
        nxt,
        (F.col("user_id") == F.col("u2")) & (F.col("h") == F.col("h2")),
        "left",
    )
    return (
        joined.groupBy("h")
        .agg(
            F.count("*").alias("active"),
            F.sum(F.col("u2").isNotNull().cast("long")).alias("retained"),
        )
        .filter(F.col("active") >= 5)
        .select(
            "h",
            "active",
            "retained",
            F.round(F.col("retained") * 10000.0 / F.col("active"))
            .cast("long")
            .alias("retention_bp"),
        )
    )


@register(
    "funnel_ordered_steps",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT 'view' AS step, 1 AS step_ord, count(*) AS n_users FROM v
    UNION ALL
    SELECT 'view>click', 2, count(*) FROM c
    UNION ALL
    SELECT 'view>click>purchase', 3, count(*) FROM p
    """,
)
def funnel_ordered_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED funnel (sequence detection): users who viewed, then
    clicked strictly after their first view, then purchased strictly
    after that click — the event-pattern query MATCH_RECOGNIZE
    engines run, expressed as cascaded earliest-qualifying-event
    joins. Each stage is a per-user min aggregate joined to the next
    event scan on the user key; all shuffles hash on user_id, and
    each stage's survivor set only shrinks, so the heaviest join is
    the first. Unlike ``funnel_view_to_purchase`` (any-order), the
    strict ts ordering here is the sequence constraint.

    Reference basis: extension tier — event-sequence analytics
    (SURVEY.md §2 extensions, events family)."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    spark_steps = [
        v.agg(F.lit("view").alias("step"), F.lit(1).alias("step_ord"), F.count("*").alias("n_users")),
        c.agg(F.lit("view>click").alias("step"), F.lit(2).alias("step_ord"), F.count("*").alias("n_users")),
        p.agg(F.lit("view>click>purchase").alias("step"), F.lit(3).alias("step_ord"), F.count("*").alias("n_users")),
    ]
    out = spark_steps[0]
    for s in spark_steps[1:]:
        out = out.unionByName(s)
    return out


@register(
    "event_rate_anomaly",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, count(*) AS n
        FROM events GROUP BY 1
    ),
    scored AS (
        SELECT h, n,
               avg(n)         OVER w AS base_avg,
               stddev_samp(n) OVER w AS base_sd,
               count(*)       OVER w AS base_n
        FROM hourly
        WINDOW w AS (ORDER BY h ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
    )
    SELECT h, n,
           round(base_avg, 4) AS base_avg,
           round((n - base_avg) / base_sd, 4) AS z
    FROM scored
    WHERE base_n = 6 AND base_sd > 0
      AND abs((n - base_avg) / base_sd) >= 2
    """,
)
def event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly screen: hours whose event count deviates
    >=2 sample standard deviations from the trailing-6-hour baseline
    (baseline excludes the current hour; partial baselines at the
    series head are suppressed). The hourly rollup is one
    map-combinable aggregate; the window then runs over the tiny
    per-hour series, so the frame computation costs nothing at any
    corpus scale — the 100 TB posture is set entirely by the first
    aggregate. In production the same query runs incrementally over
    the streaming hourly rollup.

    Reference basis: extension tier — operational anomaly detection
    over the events family (SURVEY.md §2.5 window extensions)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").alias("n")
    )
    w = Window.orderBy("h").rowsBetween(-6, -1)
    scored = hourly.select(
        "h",
        "n",
        F.avg("n").over(w).alias("base_avg"),
        F.stddev_samp("n").over(w).alias("base_sd"),
        F.count("*").over(w).alias("base_n"),
    )
    z = (F.col("n") - F.col("base_avg")) / F.col("base_sd")
    return (
        scored.filter(
            (F.col("base_n") == 6) & (F.col("base_sd") > 0) & (F.abs(z) >= 2)
        )
        .select(
            "h",
            "n",
            F.round("base_avg", 4).alias("base_avg"),
            F.round(z, 4).alias("z"),
        )
    )


@register(
    "latest_event_per_user",
    oracle="""
    SELECT user_id,
           arg_max(event_type,
                   lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
                   lpad(CAST(event_id AS VARCHAR), 12, '0')) AS last_type,
           max(ts) AS last_ts,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-event-per-key via the max_by aggregate — ONE combinable
    aggregation instead of the window-rank idiom (which shuffles every
    row to sort full partitions). max_by carries a single (candidate,
    ordinal) pair per group through map-side partial aggregation, so
    the shuffle is one row per user regardless of their event count —
    the right plan for "current state per key" over 100 TB of events.
    The ordinal is the zero-padded (epoch-micros, event_id) string —
    lexicographic order equals numeric order — so ties at identical
    timestamps resolve deterministically in both engines.

    Reference basis: extension tier — argmax family (the reference's
    Best_SlowStart A8 is the same idea over experiment configs)."""
    ev = load_table(spark, sf_dir, "events")
    ordinal = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", ordinal).alias("last_type"),
        F.max("ts").alias("last_ts"),
        F.count("*").alias("n_events"),
    )


@register(
    "concurrent_user_spans",
    oracle="""
    WITH spans AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               min(ts) AS s, max(ts) AS e
        FROM events GROUP BY user_id, day
    )
    SELECT CAST(a.day AS VARCHAR) AS day,
           a.user_id AS user_a, b.user_id AS user_b,
           (epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s)))
               // 1000000 AS overlap_seconds
    FROM spans a JOIN spans b
      ON a.day = b.day AND a.user_id < b.user_id
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def concurrent_user_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join — the range-join shape Spark's
    planner turns into a nested loop if written naively. The scalable
    formulation: explode each (user, day) activity span into its
    covered HOUR buckets (bounded fan-out: <=24/day), equi-join on
    (day, hour) so only spans sharing a bucket ever meet, then verify
    the exact overlap predicate and compute the overlap. Candidate
    completeness AND uniqueness: an overlapping pair's overlap starts
    at max(s_a, s_b), which lies inside BOTH spans, so the pair is
    emitted exactly in the ONE bucket hour(max(s_a, s_b)) falls in —
    the join condition pins that bucket, so no pair is ever
    duplicated and the r5-era wide-row distinct() (which shuffled the
    ~24x bucket fan-out of every pair before deduping — measured 41 s
    at sf0.1, the whole suite's top wall cost once every query was
    timed in r6) is gone: measured 11.7 s for the identical output,
    which at 17M overlapping pairs from 40k spans is OUTPUT-bound
    (~1.5M verified pairs/s), the floor for any formulation that
    materializes the pairs. The oracle states the plain inequality
    join. This is the general recipe for temporal joins at 100 TB
    (pick the bucket width ~ median interval length; cost = fan-out
    x rows + output, never rows^2 and never distinct-bound).

    Reference basis: extension tier — interval analytics over the
    events family (SURVEY.md §2.3 extension; F4 overlap arithmetic is
    the reference's stage-overlap idea generalized)."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    # Per-SPAN precomputation (r12, guide §2.3): the candidate stream is
    # pair-volume sized, so everything evaluated inside the join
    # condition or after it is paid per candidate pair. hour() is a
    # timezone conversion and greatest() on timestamps re-does it —
    # hoist hour(s) and the µs epochs to span columns, and the per-pair
    # work collapses to long compares/adds: hour(greatest(sa, sb)) ==
    # IF(su_a >= su_b, hs_a, hs_b) exactly (equal instants share an
    # hour), and the overlap predicate/arithmetic runs on the hoisted
    # longs. Same buckets, same pairs, same integer µs -> bit-identical.
    bucketed = spans.select(
        "user_id",
        "day",
        F.hour("s").cast("int").alias("hs"),
        F.unix_micros("s").alias("su"),
        F.unix_micros("e").alias("eu"),
        F.explode(
            F.sequence(
                F.hour("s").cast("int"), F.hour("e").cast("int")
            )
        ).alias("hb"),
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.hb") == F.col("b.hb"))
        & (F.col("a.user_id") < F.col("b.user_id"))
        # emit the pair ONLY in the bucket where its (potential)
        # overlap starts — each pair survives in exactly one of its
        # shared buckets, so no distinct is needed
        & (
            F.col("a.hb")
            == F.when(
                F.col("a.su") >= F.col("b.su"), F.col("a.hs")
            ).otherwise(F.col("b.hs"))
        ),
    ).select(
        F.col("a.day").alias("day"),
        F.col("a.user_id").alias("user_a"),
        F.col("b.user_id").alias("user_b"),
        F.col("a.su").alias("sa_us"),
        F.col("a.eu").alias("ea_us"),
        F.col("b.su").alias("sb_us"),
        F.col("b.eu").alias("eb_us"),
    )
    # Integer-microsecond arithmetic end to end: Spark's F.round is
    # HALF_UP while DuckDB's CAST rounds half-to-even, so an overlap
    # of exactly N.5 seconds would diverge.  unix_micros + floor
    # division is rounding-mode-free and matches the oracle's
    # epoch_us(..) // 1000000 exactly (overlap is non-negative by the
    # join predicate, so floor == trunc).
    overlap_us = F.least(
        F.col("ea_us"), F.col("eb_us")
    ) - F.greatest(F.col("sa_us"), F.col("sb_us"))
    return (
        pairs.filter(
            (F.col("sa_us") <= F.col("eb_us"))
            & (F.col("sb_us") <= F.col("ea_us"))
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "user_a",
            "user_b",
            F.floor(overlap_us / F.lit(1_000_000))
            .cast("long")
            .alias("overlap_seconds"),
        )
    )


@register(
    "gap_filled_minute_counts",
    oracle="""
    WITH pm AS (
        SELECT date_trunc('minute', ts) AS m,
               count(*) AS n, sum(value) AS v
        FROM events WHERE event_type = 'purchase' GROUP BY m
    ),
    rng AS (SELECT min(m) AS lo, max(m) AS hi FROM pm),
    minutes AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS m
        FROM rng
    ),
    dense AS (
        SELECT minutes.m, pm.n, pm.v FROM minutes LEFT JOIN pm USING (m)
    )
    SELECT CAST(m AS VARCHAR) AS minute,
           coalesce(n, 0) AS n_events,
           round(coalesce(
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY CAST(m AS DATE) ORDER BY m
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 0.0), 4) AS ffill_value
    FROM dense
    """,
)
def gap_filled_minute_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification (gap-fill + forward-fill) — the
    resample step every monitoring/feature pipeline needs before
    window math: raw events are sparse, downstream models want a row
    per minute. The minute spine comes from one `sequence()` explode
    of the observed [min, max] range (a year is ~526k rows — cheap),
    left-joined to the per-minute aggregate; forward fill is
    `last(..., ignorenulls=True)` over a window PARTITIONED BY DAY, so
    no global single-task sort exists — each day's 1440-row partition
    fills independently and in parallel, the standard scalable
    resample shape (fill state resets at day boundaries by design).

    Reference basis: §2.5 W2 time normalization generalized — the
    reference aligns sparse monitor samples to a common clock
    (`analyze/analyze_monitor.py`); this is the dense-grid version.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    pm = ev.groupBy(F.date_trunc("minute", "ts").alias("m")).agg(
        F.count("*").alias("n"), F.sum("value").alias("v")
    )
    rng = pm.agg(F.min("m").alias("lo"), F.max("m").alias("hi"))
    minutes = rng.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MINUTE"))
        ).alias("m")
    )
    # The spine comes out of a 1-row explode, i.e. ONE partition; a
    # single partition trivially satisfies any clustered distribution,
    # so without an explicit repartition the day-windows would all run
    # in that one task. Shuffle by day first — that's the parallelism.
    dense = minutes.join(pm, "m", "left").repartition(
        F.col("m").cast("date")
    )
    w = (
        Window.partitionBy(F.col("m").cast("date"))
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        F.col("m").cast("string").alias("minute"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.round(
            F.coalesce(F.last("v", ignorenulls=True).over(w), F.lit(0.0)), 4
        ).alias("ffill_value"),
    )


@register(
    "user_type_scd2",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT user_id, event_type, ts,
               sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS run_id
        FROM marked
    ),
    versions AS (
        SELECT user_id, event_type, run_id,
               min(ts) AS valid_from, count(*) AS n_events
        FROM runs GROUP BY user_id, event_type, run_id
    )
    SELECT user_id, event_type,
           CAST(valid_from AS VARCHAR) AS valid_from,
           CAST(lead(valid_from) OVER (PARTITION BY user_id
                                       ORDER BY valid_from) AS VARCHAR)
               AS valid_to,
           n_events
    FROM versions
    """,
)
def user_type_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) interval build — turn an
    event log into versioned validity ranges: one row per maximal run
    of a user's consecutive identical event_type, with
    [valid_from, valid_to) half-open intervals (valid_to NULL on the
    current version). Gaps-and-islands: a lag() change marker, a
    running sum to number runs, a per-run aggregate, then lead() for
    the closing bound — three window passes ALL partitioned by
    user_id, so one shuffle key serves every step (Spark plans a
    single Exchange reused across the windows and the groupBy). This
    is the standard CDC→dimension-table build at any scale; per-user
    partitions are bounded by a user's own event count.

    Ordering ties break on event_id (unique), making the run
    numbering — and therefore every output row — deterministic.

    Reference basis: extension tier — event-sequence analytics
    (SURVEY.md §2.3 extension)."""
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.lag("event_type")
            .over(wo)
            .eqNullSafe(F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    runs = marked.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("chg")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("run_id"),
    )
    versions = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("vf"), F.count("*").alias("n_events")
    )
    wv = Window.partitionBy("user_id").orderBy("vf")
    return versions.select(
        "user_id",
        "event_type",
        F.col("vf").cast("string").alias("valid_from"),
        F.lead("vf").over(wv).cast("string").alias("valid_to"),
        "n_events",
    )


@register(
    "decayed_user_engagement",
    oracle="""
    WITH ref AS (SELECT max(epoch_us(ts)) AS r FROM events)
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value * exp(-((ref.r - epoch_us(ts)) / 1000000.0)
                                 / 604800.0)), 4) AS decayed_score
    FROM events CROSS JOIN ref
    GROUP BY user_id
    """,
)
def decayed_user_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user —
    recency-weighted value with a one-week time constant, the
    standard freshness prior for ranking/retention features (an
    event a week old counts 1/e of one from now). The reference
    timestamp is the corpus max — a 1-row broadcast, keeping the
    whole query one scan plus one partial-aggregated shuffle on
    user_id. The decay weight is computed in integer microseconds
    before the single float exp(), so the only cross-engine float
    surface is exp+sum, absorbed by round(4).

    At 100 TB this shape beats the 'recompute nightly over all
    history' anti-pattern: exp decay is associative — tomorrow's
    score = today's * exp(-Δ/τ) + tomorrow's events — so the same
    formula admits incremental maintenance (documented here; the
    batch query is the from-scratch oracle).

    Reference basis: extension tier — events family (SURVEY.md §2.3
    extension)."""
    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.unix_micros("ts")).alias("r"))
    age_s = (F.col("r") - F.unix_micros("ts")) / F.lit(1_000_000.0)
    return (
        ev.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value") * F.exp(-age_s / F.lit(604800.0))), 4
            ).alias("decayed_score"),
        )
    )


@register(
    "mad_value_anomaly",
    oracle="""
    WITH med AS (
        SELECT event_type, median(value) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med,
               abs(e.value - m.med) AS adev
        FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, median(adev) AS mad FROM dev
        GROUP BY event_type
    )
    SELECT d.event_type,
           round(max(d.med), 4) AS median_value,
           round(max(m.mad), 4) AS mad_value,
           CAST(sum(CASE WHEN abs(d.value - d.med)
                              > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           count(*) AS n_events
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
)
def mad_value_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly screen via Median Absolute Deviation — the
    outlier detector that doesn't let the outliers set their own
    threshold (mean/stddev do: one spike inflates sigma and hides
    itself). Two exact-median passes, both keyed on event_type:
    per-type median, then median of absolute deviations, then a
    3-sigma-equivalent cut (1.4826*MAD estimates sigma under
    normality). Both median relations are |types| rows and broadcast
    into the scan side, so the fact table shuffles only for its own
    per-type aggregates. Exact `percentile` keeps the oracle exact;
    at 100 TB the documented swap is approx_percentile with the same
    two-pass shape.

    Reference basis: extension tier — anomaly family (companion to
    ``event_rate_anomaly``, which screens rates; this screens
    magnitudes)."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 4).alias("median_value"),
            F.round(F.max("mad"), 4).alias("mad_value"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalies"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "rolling_7d_active_users",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    rng AS (SELECT min(day) AS lo, max(day) AS hi FROM ud),
    contrib AS (
        SELECT ud.user_id,
               unnest(generate_series(ud.day, ud.day + 6,
                                      INTERVAL 1 DAY)) AS d
        FROM ud
    )
    SELECT CAST(CAST(c.d AS DATE) AS VARCHAR) AS day,
           count(DISTINCT c.user_id) AS active_users_7d,
           count(*) AS user_day_contribs
    FROM contrib c CROSS JOIN rng
    WHERE CAST(c.d AS DATE) BETWEEN rng.lo AND rng.hi
    GROUP BY day
    """,
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the DAU/WAU
    metric whose naive form (COUNT(DISTINCT) OVER a RANGE window) no
    engine executes scalably because distinct doesn't decompose over
    sliding frames. The scalable identity: a user active on day d is
    'active within 7 days' of each day in [d, d+6], so explode each
    distinct (user, day) into its <=7 target days (bounded fan-out)
    and count distinct users per target day — two shuffles, both on
    uniform keys, no window at all. Clip targets to the observed
    range so every reported day has a full lookback. This exact
    explode-then-distinct recipe is how warehouse models (and the
    rolling-retention family) compute windowed-distinct at 100 TB.

    Reference basis: extension tier — events family (companion to
    ``cohort_hourly_retention``)."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    rng = ud.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                "day",
                F.date_add("day", 6),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d"),
    )
    return (
        contrib.crossJoin(F.broadcast(rng))
        .filter(F.col("d").between(F.col("lo"), F.col("hi")))
        .groupBy(F.col("d").cast("date").cast("string").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("active_users_7d"),
            F.count("*").alias("user_day_contribs"),
        )
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    pairs AS (
        SELECT cur, nxt, count(*) AS n
        FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    )
    SELECT cur, nxt, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY cur), 4) AS p
    FROM pairs
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral fingerprint (what follows what) that
    feeds next-action models and bot screens (a scraper's matrix is
    near-deterministic; a human's is diffuse). One lead() window
    partitioned by user builds consecutive pairs (ties broken on
    event_id — deterministic), a combinable count reduces them to a
    |types|^2 matrix, and row-normalization is a window over that
    tiny matrix, not the fact table. One fact-table shuffle total.

    Reference basis: extension tier — event-sequence analytics
    (companion to ``funnel_ordered_steps``, which tests ONE ordered
    path; this reports all first-order transitions)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    pairs = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("n"))
    )
    wrow = Window.partitionBy("cur")
    return pairs.select(
        "cur",
        "nxt",
        "n",
        F.round(F.col("n") / F.sum("n").over(wrow), 4).alias("p"),
    )


@register(
    "time_weighted_value_avg",
    oracle="""
    WITH stamped AS (
        SELECT user_id, value, epoch_us(ts) AS us,
               lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS next_us
        FROM events
    ), spans AS (
        SELECT user_id, value, next_us - us AS dur_us
        FROM stamped WHERE next_us IS NOT NULL
    )
    SELECT user_id,
           count(*) AS n_spans,
           CAST(sum(dur_us) AS BIGINT) AS total_us,
           round(sum(value * dur_us) / sum(CAST(dur_us AS DOUBLE)), 4)
               AS twap
    FROM spans
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def time_weighted_value_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP): each event's value
    is held until the user's next event and weighted by that holding
    duration — the correct average for irregularly sampled series
    (plain AVG over-weights bursts), i.e. the monitor-series mean the
    reference approximates with fixed cycles (`/root/reference/
    analyze/common_utils.py:265` averages per-cycle samples; this is
    the continuous-time version).

    Durations are integer MICROSECONDS on both sides (unix_micros /
    epoch_us — the rounding-mode-free idiom this repo adopted after
    the concurrent_user_spans HALF_UP/half-even near-miss), so the
    weight sums are exact integers; only the final weighted mean is
    float. One window (partitioned by user — parallel) + one
    aggregate; scales as a standard sessionization-shaped shuffle.

    Reference basis: A3/A4 per-step means (SURVEY.md §2.4) lifted to
    event time; extension tier telemetry family."""
    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    stamped = events.select(
        "user_id",
        "value",
        us.alias("us"),
        F.lead(us).over(w).alias("next_us"),
    )
    spans = stamped.filter(F.col("next_us").isNotNull()).select(
        "user_id", "value", (F.col("next_us") - F.col("us")).alias("dur_us")
    )
    return (
        spans.groupBy("user_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum("dur_us").cast("long").alias("total_us"),
            F.round(
                F.sum(F.col("value") * F.col("dur_us"))
                / F.sum(F.col("dur_us").cast("double")),
                4,
            ).alias("twap"),
        )
        .orderBy("user_id")
    )


@register(
    "hourly_count_autocorr",
    oracle="""
    WITH hours AS (
        SELECT CAST(epoch_us(date_trunc('hour', ts)) / 3600000000
                    AS BIGINT) AS h,
               count(*) AS c
        FROM events GROUP BY h
    ), lags AS (SELECT unnest([1, 2, 3, 6, 12, 24]) AS lag),
    pairs AS (
        SELECT l.lag, a.c AS x, b.c AS y
        FROM hours a
        JOIN lags l ON true
        JOIN hours b ON b.h = a.h + l.lag
    ), m AS (
        SELECT lag, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY lag
    )
    SELECT lag, n AS n_pairs,
           round(
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
               / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                  * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
               4) + 0.0 AS autocorr
    FROM m
    ORDER BY lag
    """,
)
def hourly_count_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at lags
    1/2/3/6/12/24 — the seasonality detector for ingest telemetry (a
    24h peak says daily periodicity; ~0 everywhere says the load is
    memoryless). Pairs are formed by an equi-join on hour index
    (h = h+lag), which is gap-safe, unlike lead(): a missing hour
    simply produces no pair.

    All six Pearson moments (Σx, Σy, Σxy, Σx², Σy²) are sums of
    INTEGER counts — exact at any parallelism — and the correlation
    is assembled in one mirrored float expression at the end; corr()
    built-ins are avoided because their internal accumulation
    (Welford vs two-pass) differs between engines. The series
    collapses to ≤ one row per hour BEFORE the joins, so the whole
    thing is grid-sized regardless of event volume.

    Reference basis: the monitor time-series family (SURVEY.md §2
    W1/A3) — periodicity of the CPU/MEM series is the natural
    follow-on statistic; extension tier telemetry."""
    events = load_table(spark, sf_dir, "events")
    hours = events.groupBy(
        (F.unix_micros(F.date_trunc("hour", F.col("ts"))) / 3_600_000_000)
        .cast("long")
        .alias("h")
    ).agg(F.count("*").alias("c"))
    lags = spark.createDataFrame([(l,) for l in (1, 2, 3, 6, 12, 24)], ["lag"])
    a = hours.alias("a")
    b = hours.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("b.h") == F.col("a.h") + F.col("lag"),
        )
        .select(
            "lag", F.col("a.c").alias("x"), F.col("b.c").alias("y")
        )
    )
    m = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy").cast("double") - sx.cast("double") * sy
    den = F.sqrt(
        n * F.col("sxx").cast("double") - sx.cast("double") * sx
    ) * F.sqrt(n * F.col("syy").cast("double") - sy.cast("double") * sy)
    return m.select(
        "lag",
        n.alias("n_pairs"),
        norm0(F.round(num / den, 4)).alias("autocorr"),
    ).orderBy("lag")


@register(
    "hour_of_day_profile",
    oracle="""
    WITH cells AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(extract(hour FROM ts) AS INTEGER) AS h,
               count(*) AS c
        FROM events GROUP BY d, h
    )
    SELECT h AS hour_of_day,
           count(*) AS n_days,
           CAST(sum(c) AS BIGINT) AS n_events,
           round(avg(c), 3) AS avg_per_day,
           CAST(min(c) AS BIGINT) AS min_per_day,
           CAST(max(c) AS BIGINT) AS max_per_day
    FROM cells
    GROUP BY h
    ORDER BY h
    """,
)
def hour_of_day_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal load profile: per hour-of-day, the mean/min/max events
    per (day, hour) cell — the capacity-planning view of the event
    stream (which hours need headroom, how spiky each is). The
    two-level aggregate (cell counts, then hour-of-day stats over
    cells) is the reference's mean-of-means discipline (A4,
    `/root/reference/analyze/common_utils.py:264-277`) applied to the
    clock dimension: pooling would weight busy days more.

    Both aggregations are map-side combinable on tiny key spaces
    (days×24, then 24) — the profile costs one linear scan at any
    scale.

    Reference basis: A3/A4 per-step means + extension-tier telemetry
    (companions: ``hourly_count_autocorr`` detects the periodicity
    this profiles)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("ts").cast("date").alias("d"),
        F.hour("ts").alias("h"),
    ).agg(F.count("*").alias("c"))
    return (
        cells.groupBy(F.col("h").alias("hour_of_day"))
        .agg(
            F.count("*").alias("n_days"),
            F.sum("c").cast("long").alias("n_events"),
            F.round(F.avg("c"), 3).alias("avg_per_day"),
            F.min("c").cast("long").alias("min_per_day"),
            F.max("c").cast("long").alias("max_per_day"),
        )
        .orderBy("hour_of_day")
    )


@register(
    "funnel_time_to_convert",
    oracle="""
    WITH v AS (
        SELECT user_id, min(epoch_us(ts)) AS vus
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS pus
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.vus
        GROUP BY e.user_id
    ), spans AS (
        SELECT p.user_id, p.pus - v.vus AS dus
        FROM p JOIN v ON p.user_id = v.user_id
    )
    SELECT count(*) AS n_converted,
           round(quantile_cont(dus, 0.5) / 1000000.0, 3) AS median_s,
           round(quantile_cont(dus, 0.9) / 1000000.0, 3) AS p90_s,
           round(max(dus) / 1000000.0, 3) AS max_s
    FROM spans
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, first 'view' to first
    'purchase' AT OR AFTER that view; median/p90/max latency — the
    funnel companion that measures HOW LONG conversion takes, where
    ``funnel_view_to_purchase`` measures whether it happens.

    Timestamps stay integer microseconds until the final divide
    (the repo's rounding-mode-free idiom); quantiles are the exact
    linear-interpolation aggregate (F.percentile ↔ quantile_cont —
    same definition) over the USER-level table, which is
    |converted users| rows; at 100 TB swap in approx_percentile
    (t-digest) exactly as ``median_price_by_flag`` documents. The
    first-view/first-purchase reductions are min() aggregates — one
    user-keyed shuffle each, no window, no ordering pass.

    Reference basis: extension tier — funnel family
    (``funnel_ordered_steps``, ``funnel_view_to_purchase``); A7's
    first-event min(when()) idiom is the underlying reduction."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("vus"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(us >= F.col("vus"))
        .groupBy("user_id")
        .agg(F.min(us).alias("pus"))
    )
    spans = p.join(v, "user_id").select(
        (F.col("pus") - F.col("vus")).alias("dus")
    )
    return spans.agg(
        F.count("*").alias("n_converted"),
        F.round(F.percentile("dus", F.lit(0.5)) / 1_000_000.0, 3).alias(
            "median_s"
        ),
        F.round(F.percentile("dus", F.lit(0.9)) / 1_000_000.0, 3).alias(
            "p90_s"
        ),
        F.round(F.max("dus") / 1_000_000.0, 3).alias("max_s"),
    )


@register(
    "asof_next_purchase_census",
    oracle="""
    WITH v AS (
        SELECT event_id, user_id, epoch_us(ts) AS vus
        FROM events WHERE event_type = 'view'
    ), nxt AS (
        SELECT v.event_id, v.vus,
               (SELECT min(epoch_us(p.ts)) FROM events p
                WHERE p.user_id = v.user_id
                  AND p.event_type = 'purchase'
                  AND epoch_us(p.ts) >= v.vus) AS pus
        FROM v
    ), spans AS (
        SELECT event_id, pus - vus AS dus,
               CASE WHEN pus IS NOT NULL
                         AND pus - vus <= 86400000000
                    THEN 1 ELSE 0 END AS conv24
        FROM nxt
    )
    SELECT count(*) AS n_views,
           CAST(sum(conv24) AS BIGINT) AS n_converted_24h,
           round(quantile_cont(CASE WHEN conv24 = 1 THEN dus END, 0.5)
                 / 1000000.0, 3) AS median_delay_s,
           round(avg(CASE WHEN conv24 = 1 THEN dus END) / 1000000.0, 3)
               AS avg_delay_s
    FROM spans
    """,
)
def asof_next_purchase_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join census: every 'view' is matched to the SAME
    user's next 'purchase' at-or-after it (24h attribution horizon) —
    the complement of ``asof_last_signup`` (backward as-of) and the
    batch twin of ``stream_click_attribution``.

    The engine never runs the correlated-subquery spec the oracle
    states: views and purchases are UNIONed into one user-keyed
    stream and each view reads min(purchase_ts) over a REVERSED
    window frame (CURRENT ROW TO UNBOUNDED FOLLOWING on the purchase
    column) — one shuffle on user_id, one ordered pass per user, no
    join at all. That plan is how every forward/backward as-of in
    this engine scales: per-key ordered scan, never a per-row probe.

    Reference basis: extension tier — events/attribution family
    (SURVEY.md §2.3 notes as-of joins as the range-join extension)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    stream = ev.filter(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "event_id",
        "user_id",
        "event_type",
        us.alias("us"),
        F.when(F.col("event_type") == "purchase", us).alias("pus"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    views = (
        stream.withColumn("next_pus", F.min("pus").over(w))
        .filter(F.col("event_type") == "view")
        .select(
            (F.col("next_pus") - F.col("us")).alias("dus"),
        )
        .withColumn(
            "conv24",
            F.when(
                F.col("dus").isNotNull() & (F.col("dus") <= 86_400_000_000),
                1,
            ).otherwise(0),
        )
    )
    conv_d = F.when(F.col("conv24") == 1, F.col("dus"))
    return views.agg(
        F.count("*").alias("n_views"),
        F.sum("conv24").cast("long").alias("n_converted_24h"),
        F.round(F.percentile(conv_d, F.lit(0.5)) / 1_000_000.0, 3).alias(
            "median_delay_s"
        ),
        F.round(F.avg(conv_d) / 1_000_000.0, 3).alias("avg_delay_s"),
    )


@register(
    "variant_props_quantiles",
    oracle="""
    WITH k AS (
        SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k
        FROM events
        WHERE props->>'$.k' IS NOT NULL
    )
    SELECT event_type,
           count(*) AS n,
           CAST(min(k) AS BIGINT) AS min_k,
           round(quantile_cont(k, 0.5), 2) AS median_k,
           round(quantile_cont(k, 0.9), 2) AS p90_k,
           CAST(max(k) AS BIGINT) AS max_k
    FROM k
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def variant_props_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured quantiles through Spark 4's VARIANT type:
    ``parse_json`` shreds the props column into the binary variant
    encoding ONCE, then ``try_variant_get`` extracts the typed field —
    the open-format answer to 'stop re-parsing JSON strings per
    expression'. At 100 TB the variant column is what you'd
    materialize at ingest (Parquet variant shredding), after which
    every field access is a binary probe, not a JSON parse; the
    companion ``json_props_stats`` keeps the classic
    ``get_json_object`` form for engines without VARIANT.

    try_variant_get (not variant_get) so malformed or key-less
    documents yield NULL instead of failing the scan — the oracle's
    ``->>'$.k' IS NOT NULL`` guard states the same admitted set.

    Reference basis: extension tier — semi-structured family
    (events.props is the only nested-ish column in the data model,
    SURVEY.md §1.2)."""
    events = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    keyed = events.select("event_type", k.alias("k")).filter(
        F.col("k").isNotNull()
    )
    return (
        keyed.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").cast("long").alias("min_k"),
            F.round(F.percentile("k", F.lit(0.5)), 2).alias("median_k"),
            F.round(F.percentile("k", F.lit(0.9)), 2).alias("p90_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "scd2_purchase_enrichment",
    oracle="""
    WITH status AS (
        SELECT user_id, event_type, ts, event_id
        FROM events WHERE event_type <> 'purchase'
    ), purchases AS (
        SELECT user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ), enriched AS (
        SELECT p.value,
               coalesce(
                   (SELECT s.event_type FROM status s
                    WHERE s.user_id = p.user_id AND s.ts <= p.ts
                    ORDER BY s.ts DESC, s.event_id DESC LIMIT 1),
                   'unknown') AS state
        FROM purchases p
    )
    SELECT state, count(*) AS n_purchases,
           round(sum(value), 2) AS total_value
    FROM enriched
    GROUP BY state
    ORDER BY state
    """,
)
def scd2_purchase_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-state attribution: each purchase is enriched with the
    user's LAST non-purchase activity state at purchase time (the
    SCD2 as-of lookup — ``user_type_scd2`` builds the versioned
    dimension, this is the join a fact table runs against it), then
    revenue is rolled up by state: 'what were users doing when they
    bought'.

    The engine never executes the oracle's correlated per-row probe:
    status markers and purchases UNION into one user-keyed stream and
    each purchase reads last(state) IGNORE NULLS over the preceding
    frame — one shuffle on user_id, one ordered pass. Ties at the
    exact boundary are deterministic: at equal ts the marker sorts
    first (kind 0 < kind 1) and later markers win by event_id, which
    is exactly the oracle's ts <= p.ts with DESC LIMIT 1. This
    union-window formulation is the standard scalable form of EVERY
    as-of/SCD2 lookup in this engine (backward:
    ``asof_last_signup``; forward: ``asof_next_purchase_census``).

    Reference basis: extension tier — warehouse dimension family
    (SURVEY.md §2.3 as-of note; companion: ``user_type_scd2``)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    status = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "ts",
        F.col("event_id"),
        F.lit(0).alias("kind"),
        F.col("event_type").alias("state"),
        F.lit(None).cast("double").alias("value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("string").alias("state"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = status.unionByName(purchases).withColumn(
        "cur_state", F.last("state", ignorenulls=True).over(w)
    )
    return (
        merged.filter(F.col("kind") == 1)
        .select(
            F.coalesce(F.col("cur_state"), F.lit("unknown")).alias("state"),
            "value",
        )
        .groupBy("state")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("state")
    )


@register(
    "user_first_path_census",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ), paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= 3
        GROUP BY user_id
    )
    SELECT path, count(*) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
)
def user_first_path_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: each user's first three events (by
    event time, event_id tiebreak) concatenated into an onboarding
    path 'view>click>purchase', censused across users — the
    sequence-mining view product teams use to find the dominant entry
    funnels, and the sequential complement of
    ``event_transition_matrix`` (which forgets position).

    Scale shape: one user-keyed shuffle; the per-user prefix is a
    bounded 3-element ``slice(sort_array(...))`` — per-user state is
    O(3) regardless of activity (the sort_array input is the user's
    events, bounded by per-user volume; at whale-user scale swap in a
    min_by-3 aggregate). The path census is a combinable count over
    at most |types|^3 distinct paths, and top-20 is TakeOrdered.

    Reference basis: extension tier — event-sequence analytics
    (SURVEY.md §2.9 batch twin family)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(20)
    )


@register(
    "ab_conversion_ztest",
    oracle="""
    WITH assign AS (
        SELECT user_id,
               CAST(user_id % 2 AS INT) AS variant,
               CASE WHEN max(CASE WHEN event_type = 'purchase'
                             THEN value END) > 200
                    THEN 1 ELSE 0 END AS converted
        FROM events
        GROUP BY user_id
    ), arms AS (
        SELECT variant,
               count(*)                        AS n_users,
               CAST(sum(converted) AS BIGINT)  AS n_converted
        FROM assign
        GROUP BY variant
    ), wide AS (
        SELECT max(CASE WHEN variant = 0 THEN n_users END)     AS n_a,
               max(CASE WHEN variant = 0 THEN n_converted END) AS c_a,
               max(CASE WHEN variant = 1 THEN n_users END)     AS n_b,
               max(CASE WHEN variant = 1 THEN n_converted END) AS c_b
        FROM arms
    )
    SELECT n_a, c_a, n_b, c_b,
           (10000 * c_a) // n_a AS rate_a_bp,
           (10000 * c_b) // n_b AS rate_b_bp,
           round(
               (c_a / CAST(n_a AS DOUBLE) - c_b / CAST(n_b AS DOUBLE))
               / sqrt(
                   ((c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                   * (1 - (c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 / n_a + 1.0 / n_b)
               ), 4) + 0.0 AS z_score
    FROM wide
    """,
)
def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment: users are
    deterministically bucketed into arms (user_id parity — the
    hash-mod assignment every experimentation platform uses),
    conversion is 'ever made a big-ticket (>200) purchase' (a ~20%
    base rate — 'ever purchased' saturates at 100% in this events
    table), and the pooled-variance z-score
    says whether the arms differ beyond noise. The experiment
    readout every growth team runs daily, expressed as one
    aggregation pipeline.

    Numeric discipline: counts and basis-point rates are integer
    (floor-divided); the z-score is a single scalar float expression
    over four exact integers, mirrored verbatim in the oracle —
    no float accumulation anywhere. Scale shape: one user-keyed
    partial-agg shuffle (|users| rows), then a 2-row rollup; the
    final wide pivot is driver-trivial.

    Reference basis: extension tier — experimentation analytics over
    the events stream (SURVEY.md §2.9 batch twin family)."""
    ev = load_table(spark, sf_dir, "events")
    assign = (
        ev.groupBy("user_id")
        .agg(
            F.when(
                F.max(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                )
                > 200,
                1,
            )
            .otherwise(0)
            .alias("converted")
        )
        .select(
            (F.col("user_id") % 2).cast("int").alias("variant"), "converted"
        )
    )
    arms = assign.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias(
            "c_a"
        ),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias(
            "c_b"
        ),
    )
    p_pool = (F.col("c_a") + F.col("c_b")) / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (
        F.col("c_a") / F.col("n_a").cast("double")
        - F.col("c_b") / F.col("n_b").cast("double")
    ) / F.sqrt(
        p_pool
        * (1 - p_pool)
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return wide.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.expr("(10000 * c_a) DIV n_a").alias("rate_a_bp"),
        F.expr("(10000 * c_b) DIV n_b").alias("rate_b_bp"),
        norm0(F.round(z, 4)).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Distribution-drift panel: nonparametric two-sample tests between the
# per-event-type value distributions, plus a CUSUM changepoint scan
# over the hourly rate series.  All three share one discipline: every
# statistic is assembled from EXACT integer moments (counts, cumulative
# counts, tie-group sizes), with a single mirrored float expression at
# the end — never engine-internal rank()/corr() builtins, whose tie and
# accumulation semantics differ between engines.


def _type_value_cum(events):
    """Per-type ECDF support grid: for every (event_type, pooled
    distinct value) cell — the cross of ALL distinct values with the
    type alphabet — the type's count AT the value (``c``), cumulative
    count at-or-below it (``cum``), and total count (``n``).  Both
    two-sample tests read off this one grid: the KS gap needs per-type
    CDFs at common support points, the Mann-Whitney U needs
    count-below and tie counts at each value.

    Scale shape: one (type, value) count aggregation, a
    broadcast-of-the-type-alphabet expansion (|distinct values| x
    |types| rows — linear in distinct values), and the cumulative
    count via ``operators/order.grouped_prefix_sum`` — a
    ``Window.partitionBy(type)`` cumsum would ship each type's ENTIRE
    distinct-value set to one task (the type alphabet is tiny, so
    each partition is corpus-sized); the two-pass range-partition
    recipe keeps the sort distributed with only a P x |types| offset
    collect.  ``c``/``cum``/``n`` stay exact longs."""
    from mapreduce511_spark.operators.order import grouped_prefix_sum

    cnt = events.groupBy("event_type", "value").agg(
        F.count("*").alias("c")
    )
    tot = events.groupBy("event_type").agg(F.count("*").alias("n"))
    vals = events.select("value").distinct()
    grid = vals.crossJoin(F.broadcast(tot)).join(
        cnt, ["event_type", "value"], "left"
    )
    filled = grid.select(
        "event_type",
        "value",
        "n",
        F.coalesce("c", F.lit(0)).cast("long").alias("c"),
    )
    return grouped_prefix_sum(
        filled, ["event_type"], ["value"], "c", out_col="cum"
    )


# DuckDB twin of _type_value_cum, shared by both test oracles.
_SQL_TYPE_VALUE_CUM = """
    cnt AS (
        SELECT event_type, value, count(*) AS c
        FROM events GROUP BY event_type, value
    ), tot AS (
        SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ), vals AS (SELECT DISTINCT value FROM events),
    grid AS (
        SELECT t.event_type, t.n, v.value, coalesce(c.c, 0) AS c
        FROM vals v
        CROSS JOIN tot t
        LEFT JOIN cnt c
          ON c.event_type = t.event_type AND c.value = v.value
    ), ecdf AS (
        SELECT event_type, value, n, c,
               sum(c) OVER (PARTITION BY event_type ORDER BY value) AS cum
        FROM grid
    )"""


@register(
    "ks_two_sample_census",
    oracle=f"""
    WITH {_SQL_TYPE_VALUE_CUM}
    SELECT a.event_type AS type_a,
           b.event_type AS type_b,
           a.n AS n_a,
           b.n AS n_b,
           round(max(abs(a.cum * b.n - b.cum * a.n)) * 1.0
                 / (a.n * b.n), 6) AS ks_d
    FROM ecdf a
    JOIN ecdf b
      ON a.value = b.value AND a.event_type < b.event_type
    GROUP BY type_a, type_b, n_a, n_b
    ORDER BY type_a, type_b
    """,
)
def ks_two_sample_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic for every unordered
    pair of event types: D = max over the pooled value support of
    |F_a(v) - F_b(v)| — the standard distribution-drift alarm between
    segments of a metric (did 'error' events shift their value
    distribution relative to 'click'?).

    The gap numerator |cum_a*n_b - cum_b*n_a| stays an exact integer
    (cross-multiplied ECDFs), so the max is engine-independent; the
    ONE division by n_a*n_b happens after the max, rounded to 6.
    Ties need no special casing — both CDFs step at the shared
    support point.  The pair join is an equi-join on value over the
    |values| x |types| grid; nothing is quadratic in events.

    Reference basis: extension tier — statistical-testing family
    beside ``ab_conversion_ztest`` (SURVEY.md §2 extensions)."""
    grid = _type_value_cum(load_table(spark, sf_dir, "events"))
    a, b = grid.alias("a"), grid.alias("b")
    d_num = F.abs(
        F.col("a.cum") * F.col("b.n") - F.col("b.cum") * F.col("a.n")
    )
    return (
        a.join(
            b,
            (F.col("a.value") == F.col("b.value"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.max(d_num).alias("dn"))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            F.round(
                F.col("dn")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("ks_d"),
        )
        .orderBy("type_a", "type_b")
    )


# Zelen & Severo rational approximation of the standard normal upper
# tail (Abramowitz & Stegun 26.2.17, |error| < 7.5e-8): for x >= 0,
# 1 - Phi(x) = phi(x) * (b1 t + b2 t^2 + b3 t^3 + b4 t^4 + b5 t^5)
# with t = 1/(1 + 0.2316419 x).  Neither engine ships erf-based
# normal CDFs with identical rounding, so BOTH sides evaluate THIS
# formula — cross-engine agreement then needs only exp/sqrt to be
# faithful to the last ulp or so, absorbed by the round-to-6.
_NORM_T = 0.2316419
_NORM_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_BH_Q = 0.05  # Benjamini-Hochberg target FDR


def _mwu_pair_moments(grid):
    """Exact-integer Mann-Whitney pair moments off the shared ECDF
    grid: (type_a, type_b, n_a, n_b, u2 = 2*U_a, ties = sum t^3 - t).
    Shared by ``mann_whitney_census`` and the BH-FDR panel."""
    a, b = grid.alias("a"), grid.alias("b")
    t = F.col("a.c") + F.col("b.c")
    return (
        a.join(
            b,
            (F.col("a.value") == F.col("b.value"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(
            F.sum(
                2 * F.col("a.c") * (F.col("b.cum") - F.col("b.c"))
                + F.col("a.c") * F.col("b.c")
            ).alias("u2"),
            F.sum(t * t * t - t).alias("ties"),
        )
    )


def _mwu_z():
    """The tie-corrected normal z as a Column over the pair moments
    (one mirrored float expression; see mann_whitney_census)."""
    n_a, n_b = F.col("n_a"), F.col("n_b")
    n_tot = n_a + n_b
    sigma = F.sqrt(
        (n_a.cast("double") * n_b / 12.0)
        * (
            (n_tot + 1)
            - F.col("ties").cast("double")
            / (n_tot * (n_a.cast("double") + n_b - 1))
        )
    )
    # r11 ADVICE: an all-identical pooled sample gives sigma = 0, where
    # Spark's non-ANSI Divide yields NULL but DuckDB's IEEE division
    # yields +/-Inf or NaN — make the degenerate case identically NULL
    # on both engines (the oracle twin wraps its sqrt in nullif).
    return (F.col("u2").cast("double") - n_a.cast("double") * n_b) / (
        F.when(sigma != 0.0, 2.0 * sigma)
    )


# the shared pair-moment CTE (DuckDB twin of _mwu_pair_moments + _mwu_z)
_SQL_MWU_PAIRS = """
    pairs AS (
        SELECT a.event_type AS type_a,
               b.event_type AS type_b,
               a.n AS n_a,
               b.n AS n_b,
               sum(2 * a.c * (b.cum - b.c) + a.c * b.c) AS u2,
               sum((a.c + b.c) * (a.c + b.c) * (a.c + b.c)
                   - (a.c + b.c)) AS ties
        FROM ecdf a
        JOIN ecdf b
          ON a.value = b.value AND a.event_type < b.event_type
        GROUP BY type_a, type_b, n_a, n_b
    ), zs AS (
        SELECT type_a, type_b, n_a, n_b, u2,
               (CAST(u2 AS DOUBLE) - CAST(n_a AS DOUBLE) * n_b)
               / (2.0 * nullif(sqrt(
                     (CAST(n_a AS DOUBLE) * n_b / 12.0)
                     * ((n_a + n_b + 1)
                        - CAST(ties AS DOUBLE)
                          / ((n_a + n_b)
                             * (CAST(n_a AS DOUBLE) + n_b - 1)))), 0.0)) AS z
        FROM pairs
    )"""


@register(
    "mann_whitney_census",
    oracle=f"""
    WITH {_SQL_TYPE_VALUE_CUM}, {_SQL_MWU_PAIRS}
    SELECT type_a, type_b, n_a, n_b,
           u2 / 2.0 AS u_a,
           round(z, 4) + 0.0 AS z_score
    FROM zs
    ORDER BY type_a, type_b
    """,
)
def mann_whitney_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test for every unordered pair of event types:
    U_a counts (i,j) pairs where a's value exceeds b's, ties at half
    weight — the rank-sum drift test that, unlike KS, is sensitive to
    a consistent median shift even when the shapes match.

    Doubled to stay integral: 2*U_a = sum over shared support of
    2*c_a*(cum_b - c_b) + c_a*c_b (strictly-below pairs twice, ties
    once) — exact longs off the same grid as the KS census, no
    pooled re-ranking per pair, no rank() builtin (engine tie
    semantics differ).  The tie-corrected normal z uses
    sigma^2 = (n_a*n_b/12) * ((N+1) - sum(t^3 - t)/(N*(N-1))) with
    tie-group sizes t = c_a + c_b, also exact until the single final
    float expression (round 4, signed-zero-normalized: the z of two
    identically-distributed types is a genuine +/-epsilon).

    Reference basis: extension tier — statistical-testing family
    beside ``ab_conversion_ztest`` / ``ks_two_sample_census``."""
    grid = _type_value_cum(load_table(spark, sf_dir, "events"))
    pairs = _mwu_pair_moments(grid)
    z = _mwu_z()
    return pairs.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        (F.col("u2") / F.lit(2.0)).alias("u_a"),
        norm0(F.round(z, 4)).alias("z_score"),
    ).orderBy("type_a", "type_b")


@register(
    "cusum_changepoint_census",
    oracle="""
    WITH cnt AS (
        SELECT event_type,
               CAST(epoch_us(date_trunc('hour', ts)) / 3600000000
                    AS BIGINT) AS h,
               count(*) AS c
        FROM events GROUP BY event_type, h
    ), bounds AS (SELECT min(h) AS mn, max(h) AS mx FROM cnt),
    hours AS (
        SELECT unnest(generate_series(mn, mx)) AS h,
               mx - mn + 1 AS nh, mn
        FROM bounds
    ), tot AS (
        SELECT event_type, CAST(sum(c) AS BIGINT) AS total
        FROM cnt GROUP BY event_type
    ), grid AS (
        SELECT t.event_type, t.total, hrs.nh,
               hrs.h - hrs.mn + 1 AS tix,
               coalesce(c.c, 0) AS c
        FROM hours hrs
        CROSS JOIN tot t
        LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = hrs.h
    ), cum AS (
        SELECT event_type, total, nh, tix,
               sum(c) OVER (PARTITION BY event_type ORDER BY tix) AS cs
        FROM grid
    ), scored AS (
        SELECT event_type, total, nh, tix,
               abs(nh * cs - tix * total) AS score,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY abs(nh * cs - tix * total) DESC, tix
               ) AS rn
        FROM cum
    )
    SELECT event_type,
           CAST(nh AS BIGINT) AS n_hours,
           total AS n_events,
           CAST(tix AS BIGINT) AS cp_hour_index,
           round(score * 1.0 / nh, 4) AS cusum_peak
    FROM scored WHERE rn = 1
    ORDER BY event_type
    """,
)
def cusum_changepoint_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan per event type: over the gap-filled
    hourly count series, the hour index maximizing |S_t| where
    S_t = sum_{i<=t}(c_i - mean) — the classical single-changepoint
    locator for a level shift in an event rate (Page 1954).  Missing
    hours are REAL zero-rate observations, so the series is the full
    [min_h, max_h] grid, not just observed hours.

    Scaled by n_hours to stay integral: n_hours*S_t =
    n_hours*cum_t - t*total is an exact long, so the argmax (ties
    broken to the earliest hour) is engine-independent; the peak
    magnitude divides once at the end (round 4).  Scale shape: one
    (type, hour) count, a broadcast type-alphabet expansion over the
    bounded hour grid, and per-type window cumsums — the series
    collapses to |hours| x |types| rows before any window.

    Reference basis: the monitor time-series family (SURVEY.md §2
    W1/A3, first-event detection A7) — locating WHEN the CPU/event
    series shifted is the natural follow-on; extension tier."""
    events = load_table(spark, sf_dir, "events")
    cnt = events.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("hour", F.col("ts"))) / 3_600_000_000)
        .cast("long")
        .alias("h"),
    ).agg(F.count("*").alias("c"))
    bounds = cnt.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    hours = bounds.select(
        F.explode(F.sequence("mn", "mx")).alias("h"),
        (F.col("mx") - F.col("mn") + 1).alias("nh"),
        "mn",
    )
    tot = cnt.groupBy("event_type").agg(F.sum("c").alias("total"))
    grid = (
        hours.crossJoin(F.broadcast(tot))
        .join(cnt, ["event_type", "h"], "left")
        .select(
            "event_type",
            "total",
            "nh",
            (F.col("h") - F.col("mn") + 1).alias("tix"),
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("tix")
    cum = grid.withColumn("cs", F.sum("c").over(w))
    score = F.abs(
        F.col("nh") * F.col("cs") - F.col("tix") * F.col("total")
    )
    ranked = cum.withColumn("score", score).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.desc("score"), "tix"
            )
        ),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("nh").cast("long").alias("n_hours"),
            F.col("total").alias("n_events"),
            F.col("tix").cast("long").alias("cp_hour_index"),
            F.round(F.col("score") / F.col("nh").cast("double"), 4).alias(
                "cusum_peak"
            ),
        )
        .orderBy("event_type")
    )




@register(
    "mann_whitney_fdr_census",
    oracle=f"""
    WITH {_SQL_TYPE_VALUE_CUM}, {_SQL_MWU_PAIRS},
    ps AS (
        SELECT type_a, type_b,
               round(z, 4) + 0.0 AS z_score,
               round(least(1.0,
                   2.0 * (exp(-(z * z) / 2.0) / sqrt(2.0 * pi()))
                       * ({_NORM_B[0]} * tt + {_NORM_B[1]} * tt * tt
                          + {_NORM_B[2]} * tt * tt * tt
                          + {_NORM_B[3]} * tt * tt * tt * tt
                          + {_NORM_B[4]} * tt * tt * tt * tt * tt)),
                   6) AS p_value
        FROM (SELECT *, 1.0 / (1.0 + {_NORM_T} * abs(z)) AS tt FROM zs)
    ), ranked AS (
        SELECT *,
               CAST(row_number() OVER (
                   ORDER BY p_value, type_a, type_b) AS BIGINT) AS bh_rank
        FROM ps
    ), m AS (SELECT count(*) AS m FROM ps),
    k AS (
        SELECT coalesce(max(CASE WHEN r.p_value * m.m
                                      <= r.bh_rank * {_BH_Q}
                                 THEN r.bh_rank END), 0) AS kmax
        FROM ranked r CROSS JOIN m
    )
    SELECT type_a, type_b, z_score, p_value, bh_rank,
           CAST(CASE WHEN bh_rank <= k.kmax THEN 1 ELSE 0 END AS INT)
               AS significant
    FROM ranked CROSS JOIN k
    ORDER BY type_a, type_b
    """,
)
def mann_whitney_fdr_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control over the Mann-Whitney pair panel:
    two-sided p-values from the tie-corrected z (normal CDF via the
    Zelen & Severo 26.2.17 rational approximation, evaluated
    IDENTICALLY on both engines — no erf builtin dependence), then
    Benjamini-Hochberg at FDR q=0.05 — the step every drift dashboard
    needs once it tests all type pairs at once (at 10 simultaneous
    pairs, one raw p<0.05 is expected under the null).

    Every BH decision compares the ROUNDED p (identical doubles on
    both engines after round-6) against exact rank*q/m thresholds, so
    the significance flags are engine-independent even on the
    rejection boundary.  The panel is |types|-choose-2 rows — the
    unpartitioned rank window and the two 1-row broadcast scalars
    (m, kmax) are alphabet-bounded at any corpus size; all the heavy
    lifting is the shared ECDF grid (see ``_type_value_cum``).

    Reference basis: extension tier — statistical-testing family
    capstone over ``mann_whitney_census``."""
    grid = _type_value_cum(load_table(spark, sf_dir, "events"))
    z = _mwu_z()
    zs = _mwu_pair_moments(grid).select(
        "type_a", "type_b", z.alias("z")
    )
    az = F.abs(F.col("z"))
    tt = 1.0 / (1.0 + _NORM_T * az)
    poly = (
        _NORM_B[0] * tt
        + _NORM_B[1] * tt * tt
        + _NORM_B[2] * tt * tt * tt
        + _NORM_B[3] * tt * tt * tt * tt
        + _NORM_B[4] * tt * tt * tt * tt * tt
    )
    tail = (
        F.exp(-(F.col("z") * F.col("z")) / 2.0)
        / F.sqrt(F.lit(2.0) * F.lit(math.pi))
    ) * poly
    # materialize the alphabet-sized panel ONCE: the m/kmax scalars
    # and the final projection are three more consumers, and without
    # the checkpoint each plan branch re-executes the corpus-scale
    # grid self-join + pair aggregation feeding it
    ps = zs.select(
        "type_a",
        "type_b",
        norm0(F.round("z", 4)).alias("z_score"),
        F.round(F.least(F.lit(1.0), 2.0 * tail), 6).alias("p_value"),
    ).localCheckpoint(eager=True)
    ranked = ps.withColumn(
        "bh_rank",
        F.row_number()
        .over(Window.orderBy("p_value", "type_a", "type_b"))
        .cast("long"),
    )
    m_df = ps.agg(F.count("*").alias("m"))
    with_m = ranked.crossJoin(F.broadcast(m_df))
    k_df = with_m.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_value") * F.col("m")
                    <= F.col("bh_rank") * F.lit(_BH_Q),
                    F.col("bh_rank"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("kmax")
    )
    return (
        ranked.crossJoin(F.broadcast(k_df))
        .select(
            "type_a",
            "type_b",
            "z_score",
            "p_value",
            "bh_rank",
            (F.col("bh_rank") <= F.col("kmax"))
            .cast("int")
            .alias("significant"),
        )
        .orderBy("type_a", "type_b")
    )
