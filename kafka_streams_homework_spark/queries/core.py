"""Reference §2 relational surface + SQL/layout extensions.

Split from the original monolithic queries.py (r5 verdict task 5);
registration side effects populate the shared REGISTRY, and the
package __init__ fixes the driver-window order, so module
membership is organization only — zero semantic change.
"""
# ruff: noqa: F403, F405
from __future__ import annotations
from kafka_streams_homework_spark.queries._shared import *  # noqa



# ===========================================================================
# Reference surface (SURVEY §2)
# ===========================================================================


@register(
    "source_scan",
    oracle="""
        SELECT event_id, ts, user_id, value
        FROM events WHERE event_type = 'purchase'
    """,
    description="S1/S3: topic scan twin — filtered, pruned parquet scan "
    "(filter + projection reach the scan via Catalyst pushdown)",
)
def q_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return events.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )


@register(
    "latest_by_key",
    oracle="""
        SELECT user_id, event_id AS last_event_id, ts AS last_ts,
               event_type AS last_event_type, value AS last_value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    description="S2/S4: GlobalKTable semantics — latest record per key "
    "(dsl/PriceAlertsApp.java:91-95, StateUpdateSupplier.java:35-37)",
)
def q_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    latest = R.latest_by_key(events, ["user_id"], "ts", tiebreak_cols=["event_id"])
    return latest.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


@register(
    "join_stream_table",
    oracle="""
        SELECT event_id, user_id, c_name, c_mktsegment, value, ts
        FROM events JOIN customer ON user_id = c_custkey
    """,
    description="J1/J2 inner: stream ⋈ broadcast dimension (GlobalKTable "
    "lookup join, dsl/PriceAlertsApp.java:98-103 effective semantics)",
)
def q_join_stream_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    joined = R.join_stream_table(
        events, customer, events["user_id"] == customer["c_custkey"], "inner"
    )
    return joined.select("event_id", "user_id", "c_name", "c_mktsegment", "value", "ts")


@register(
    "join_left",
    oracle="""
        SELECT event_id, user_id, c_name, c_mktsegment, value
        FROM events LEFT JOIN customer ON user_id = c_custkey
    """,
    description="J1 declared semantics: left join preserving unmatched "
    "stream records (the reference declares leftJoin at dsl:99 but NPEs "
    "on a miss; we implement the declared contract)",
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    joined = R.join_stream_table(
        events, customer, events["user_id"] == customer["c_custkey"], "left"
    )
    return joined.select("event_id", "user_id", "c_name", "c_mktsegment", "value")


@register(
    "tumbling_window",
    oracle="""
        SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY 1
    """,
    description="W1/W2: epoch-aligned 1-minute tumbling window "
    "(TimeWindows.of(1m).advanceBy(1m), dsl/PriceAlertsApp.java:105-109)",
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    agg = R.windowed_agg(
        events,
        [],
        "ts",
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
        "1 minute",
    )
    return agg.select(
        F.col("window.start").alias("window_start"), "n_events", "total_value"
    )


@register(
    "windowed_sum",
    oracle="""
        SELECT user_id, CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
               round(sum(value), 2) AS total_sum_per_minute
        FROM events GROUP BY 1, 2
    """,
    description="A1/A2: SUM per (key, 1-minute window) — the reference's "
    "one aggregate (dsl/PriceAlertsApp.java:110-114)",
)
def q_windowed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    agg = R.windowed_sum(events, ["user_id"], "ts", F.col("value"))
    return agg.select(
        "user_id",
        F.col("window.start").alias("window_start"),
        F.round("total_sum_per_minute", 2).alias("total_sum_per_minute"),
    )


@register(
    "filter_threshold",
    oracle=f"""
        SELECT user_id, CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
               round(sum(value), 2) AS total_sum_per_minute
        FROM events GROUP BY 1, 2
        HAVING round(sum(value), 2) > {ALERT_THRESHOLD}
    """,
    description="P1/P2: HAVING-style threshold on the windowed sum "
    "(dsl/PriceAlertsApp.java:115, threshold at :29)",
)
def q_filter_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.filter_threshold(
        q_windowed_sum(spark, sf_dir), "total_sum_per_minute", ALERT_THRESHOLD
    )


@register(
    "project_alert",
    oracle=f"""
        SELECT CAST(user_id AS VARCHAR) AS alert_key,
               CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
               round(sum(value), 2) AS total_sum_per_minute
        FROM events GROUP BY user_id, date_trunc('minute', ts)
        HAVING round(sum(value), 2) > {ALERT_THRESHOLD}
    """,
    description="P3/W3/P7: reshape to the PriceAlert record — re-key to "
    "string, extract window.start (dsl/PriceAlertsApp.java:117-133)",
)
def q_project_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    agg = R.windowed_sum(events, ["user_id"], "ts", F.col("value"))
    agg = agg.withColumn(
        "total_sum_per_minute", F.round("total_sum_per_minute", 2)
    )
    alerts = R.filter_threshold(agg, "total_sum_per_minute", ALERT_THRESHOLD)
    return R.project_alert(alerts, "user_id")


@register(
    "price_alerts",
    oracle=f"""
        SELECT CAST(user_id AS VARCHAR) AS alert_key, c_name AS customer_name,
               CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
               round(sum(value), 2) AS total_sum_per_minute
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY user_id, c_name, date_trunc('minute', ts)
        HAVING round(sum(value), 2) > {ALERT_THRESHOLD}
    """,
    description="FLAGSHIP — the reference's full pipeline (S1+J1+W1+A1+"
    "P1+P3): stream ⋈ broadcast dim → 1-min tumbling window → SUM → "
    "threshold → alert projection (dsl/PriceAlertsApp.java:87-134)",
)
def q_price_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    enriched = R.join_stream_table(
        events, customer, events["user_id"] == customer["c_custkey"], "inner"
    )
    agg = R.windowed_agg(
        enriched,
        ["user_id", "c_name"],
        "ts",
        [F.round(F.sum("value"), 2).alias("total_sum_per_minute")],
        "1 minute",
    )
    alerts = R.filter_threshold(agg, "total_sum_per_minute", ALERT_THRESHOLD)
    return alerts.select(
        F.col("user_id").cast("string").alias("alert_key"),
        F.col("c_name").alias("customer_name"),
        F.col("window.start").alias("window_start"),
        F.col("total_sum_per_minute").cast("double").alias("total_sum_per_minute"),
    )


@register(
    "price_alerts_priced",
    oracle=f"""
        SELECT p_brand, CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS window_start,
               round(sum(l_quantity * p_retailprice), 2) AS total_sum_per_day
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, date_trunc('day', l_shipdate)
        HAVING round(sum(l_quantity * p_retailprice), 2) > {PRICED_ALERT_THRESHOLD}
    """,
    description="Flagship at fact-table scale: quantity×price windowed sum "
    "per brand-day over lineitem⋈part — the reference's adder semantics "
    "(agg += quantity*price, dsl/PriceAlertsApp.java:112) on the big table",
)
def q_price_alerts_priced(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    enriched = R.join_stream_table(
        lineitem, part, lineitem["l_partkey"] == part["p_partkey"], "inner"
    )
    agg = R.windowed_agg(
        enriched,
        ["p_brand"],
        "l_shipdate",
        [
            F.round(F.sum(F.col("l_quantity") * F.col("p_retailprice")), 2).alias(
                "total_sum_per_day"
            )
        ],
        "1 day",
    )
    alerts = R.filter_threshold(agg, "total_sum_per_day", PRICED_ALERT_THRESHOLD)
    return alerts.select(
        "p_brand",
        F.col("window.start").alias("window_start"),
        "total_sum_per_day",
    )


@register(
    "sink_write",
    oracle=f"""
        SELECT CAST(user_id AS VARCHAR) AS alert_key, c_name AS customer_name,
               CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
               round(sum(value), 2) AS total_sum_per_minute
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY user_id, c_name, date_trunc('minute', ts)
        HAVING round(sum(value), 2) > {ALERT_THRESHOLD}
    """,
    description="S5/S6: sink round-trip — write the flagship alerts to "
    "parquet and read them back (.to(RESULT_TOPIC), dsl/PriceAlertsApp.java:134)",
)
def q_sink_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    alerts = q_price_alerts(spark, sf_dir)
    return write_and_read_back(alerts, spark, SINK_PATH)


@register(
    "agg_stats",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               min(value) AS min_value, max(value) AS max_value,
               round(avg(value), 6) AS avg_value,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY event_type
    """,
    description="§2.4 engine agg surface: count/distinct/min/max/avg/sum "
    "in one pass (reference has SUM only; the rest is free in Spark)",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "topk_per_group",
    oracle="""
        SELECT event_type, event_id, value, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT event_type, event_id, value, row_number() OVER (
                PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rank
            FROM events
        ) WHERE rank <= 3
    """,
    description="North-star topk: top-3 per group via ranked window; "
    "Spark's WindowGroupLimit makes this a partial top-k before shuffle",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    top = R.topk_per_group(events, ["event_type"], "value", 3, ["event_id"])
    return top.select(
        "event_type", "event_id", "value", F.col("rank").cast("long").alias("rank")
    )


@register(
    "sessionize",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_sess
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, value,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM flagged
        )
        SELECT user_id, min(ts) AS session_start,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM sess GROUP BY user_id, sess_id
    """,
    description="North-star sessionize: gap-based session windows "
    "(F.session_window; oracle = gaps-and-islands SQL)",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    sess = R.sessionize(
        events,
        ["user_id"],
        "ts",
        SESSION_GAP,
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
    )
    return sess.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n_events",
        "total_value",
    )


@register(
    "json_extract",
    oracle="""
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
        FROM events
    """,
    description="North-star json_extract on events.props "
    "(get_json_object — JVM-side JSON path evaluation)",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return R.json_extract(events, "props", "k", "prop_k", "long").select(
        "event_id", "prop_k"
    )


@register(
    "price_alerts_sql",
    oracle=f"""
        SELECT CAST(user_id AS VARCHAR) AS alert_key, c_name AS customer_name,
               CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
               round(sum(value), 2) AS total_sum_per_minute
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY user_id, c_name, date_trunc('minute', ts)
        HAVING round(sum(value), 2) > {ALERT_THRESHOLD}
    """,
    description="The flagship through the engine's SQL surface: "
    "spark.sql over registered views — same Catalyst plan as the "
    "DataFrame build (the engine speaks both APIs)",
)
def q_price_alerts_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "events").createOrReplaceTempView("v_events")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        f"""
        SELECT CAST(user_id AS STRING) AS alert_key, c_name AS customer_name,
               window(ts, '1 minute').start AS window_start,
               round(sum(value), 2) AS total_sum_per_minute
        FROM v_events JOIN v_customer ON user_id = c_custkey
        GROUP BY user_id, c_name, window(ts, '1 minute')
        HAVING round(sum(value), 2) > {ALERT_THRESHOLD}
        """
    )


@register(
    "salted_join",
    oracle="""
        SELECT event_id, user_id, c_name, c_mktsegment, value, ts
        FROM events JOIN customer ON user_id = c_custkey
    """,
    description="Hot-FK-safe equi-join via fact salting + dim "
    "replication — identical result to join_stream_table (same oracle); "
    "the documented fallback when one key dominates and the dim is too "
    "big to broadcast",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    joined = R.salted_join(
        events, customer, "user_id", "c_custkey", "inner", 8, salt_col="event_id"
    )
    return joined.select("event_id", "user_id", "c_name", "c_mktsegment", "value", "ts")


@register(
    "partitioned_sink_scan",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS event_date,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
          AND ts < TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY 1
    """,
    description="Time-partitioned layout round trip: write events "
    "partitioned by day, read one week back — the date filter prunes "
    "to 7 of 30 partition directories (PartitionFilters, asserted in "
    "test_plans) — the layout contract for 100 TB time-series facts",
)
def q_partitioned_sink_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    path = f"{SINK_ROOT}/events_by_day_{os.path.basename(sf_dir.rstrip('/'))}"
    by_day = events.withColumn("event_date", F.to_date("ts"))
    write_parquet(by_day, path, partition_by=["event_date"])
    lo, hi = F.lit("2024-01-08").cast("date"), F.lit("2024-01-15").cast("date")
    # Read back with the written schema (partition column last, as the
    # partitioned read lays it out): no schema-inference job.
    return (
        spark.read.schema(by_day.schema)
        .parquet(path)
        .filter((F.col("event_date") >= lo) & (F.col("event_date") < hi))
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("event_date").cast("timestamp").alias("event_date"),
            "n_events",
            "total_value",
        )
    )


@register(
    "hierarchical_rollup",
    oracle="""
        SELECT 'minute' AS grain, CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
               CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS total_value
        FROM events GROUP BY 2
        UNION ALL
        SELECT 'hour', CAST(date_trunc('hour', ts) AS TIMESTAMP),
               CAST(count(*) AS BIGINT), round(sum(value), 2)
        FROM events GROUP BY 2
        UNION ALL
        SELECT 'day', CAST(date_trunc('day', ts) AS TIMESTAMP),
               CAST(count(*) AS BIGINT), round(sum(value), 2)
        FROM events GROUP BY 2
    """,
    description="Hypertable-style cascaded rollup: hour aggregates fold "
    "the MINUTE pre-aggregate, day folds hour — each coarser grain "
    "reads ~60× fewer rows than rescanning the facts (the continuous-"
    "aggregate pattern for time-series at 100 TB)",
)
def q_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    # Persisted so the cascade is real: events are scanned/aggregated
    # ONCE at minute grain; hour folds the cached minute rows (~60×
    # fewer), day folds hour. Without the persist each union branch
    # recomputes from the scan (3 scans, 6 shuffles). Tracked for
    # release via caching.release_caches().
    minute = tracked_persist(
        events.groupBy(F.date_trunc("minute", "ts").alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("raw_total"))
    )
    hour = (
        minute.groupBy(F.date_trunc("hour", "window_start").alias("window_start"))
        .agg(F.sum("n_events").alias("n_events"), F.sum("raw_total").alias("raw_total"))
    )
    day = (
        hour.groupBy(F.date_trunc("day", "window_start").alias("window_start"))
        .agg(F.sum("n_events").alias("n_events"), F.sum("raw_total").alias("raw_total"))
    )

    def out(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "window_start",
            "n_events",
            F.round("raw_total", 2).alias("total_value"),
        )

    return out(minute, "minute").unionAll(out(hour, "hour")).unionAll(out(day, "day"))


@register(
    "sliding_window",
    oracle="""
        WITH w AS (
            SELECT user_id, value,
                   unnest([CAST(date_trunc('minute', ts) AS TIMESTAMP),
                           CAST(date_trunc('minute', ts) - INTERVAL 1 MINUTE AS TIMESTAMP)])
                       AS window_start
            FROM events
        )
        SELECT user_id, window_start, round(sum(value), 2) AS total_value
        FROM w GROUP BY user_id, window_start
    """,
    description="Hopping window (size 2 min, slide 1 min) — the "
    "TimeWindows.of(size).advanceBy(slide) general case the reference "
    "degenerates to tumbling (SURVEY §2.5 W1); each event lands in "
    "size/slide windows via the same F.window primitive",
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.window(F.col("ts"), "2 minutes", "1 minute")
        )
        .agg(F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.col("window.start").alias("window_start"),
            "total_value",
        )
    )


@register(
    "semi_join",
    oracle="""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
        )
        GROUP BY o_orderpriority
    """,
    description="Left-semi join (TPC-H Q4 shape): orders with ≥1 "
    "late-shipping lineitem — EXISTS becomes a semi join that never "
    "duplicates or widens the probe side",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"]),
        "leftsemi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@register(
    "anti_join",
    oracle="""
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT'
        )
        GROUP BY c_mktsegment
    """,
    description="Left-anti join (TPC-H Q22 core): customers with no "
    "URGENT order — NOT EXISTS as an anti join (no null-trap, unlike "
    "NOT IN); the filter pushes into the build side before the anti "
    "probe",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    no_urgent = customer.join(
        urgent, customer["c_custkey"] == urgent["o_custkey"], "leftanti"
    )
    return no_urgent.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "above_avg",
    oracle="""
        WITH ua AS (
            SELECT user_id, avg(value) AS user_avg FROM events GROUP BY user_id
        )
        SELECT e.event_id, e.user_id, e.value,
               round(ua.user_avg, 6) AS user_avg
        FROM events e JOIN ua ON e.user_id = ua.user_id
        WHERE e.value > 2 * ua.user_avg
    """,
    description="Correlated-subquery shape (TPC-H Q17 pattern): events "
    "more than 2× their user's average — decorrelated into agg + join "
    "(one shuffle, reused scan)",
)
def q_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    ua = events.groupBy(F.col("user_id").alias("ua_user")).agg(
        F.avg("value").alias("raw_avg")
    )
    return (
        events.join(ua, events["user_id"] == ua["ua_user"])
        .filter(F.col("value") > 2 * F.col("raw_avg"))
        .select(
            "event_id",
            "user_id",
            "value",
            F.round("raw_avg", 6).alias("user_avg"),
        )
    )


@register(
    "pivot_counts",
    oracle="""
        SELECT user_id,
               CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
               CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
               CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
        FROM events GROUP BY user_id
    """,
    description="Pivot/reshape: per-user event-type counts as columns — "
    "Spark pivot with explicit value list (one pass; no second job to "
    "discover pivot values)",
)
def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    out = (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "error"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        F.coalesce("click", F.lit(0)).alias("click"),
        F.coalesce("purchase", F.lit(0)).alias("purchase"),
        F.coalesce("error", F.lit(0)).alias("error"),
    )


@register(
    "range_join",
    oracle="""
        SELECT e.event_id, e.value, t.tier
        FROM events e
        JOIN (VALUES (0.0, 50.0, 'low'),
                     (50.0, 150.0, 'mid'),
                     (150.0, 1e12, 'high')) t(lo, hi, tier)
          ON e.value >= t.lo AND e.value < t.hi
    """,
    description="Pure range (non-equi) join: events banded against an "
    "irregular tier table — broadcast nested-loop on the tiny band "
    "side; at 100 TB with uniform bands you precompute the band key "
    "and equi-join instead (both shapes supported)",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [(0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 1e12, "high")],
        "lo double, hi double, tier string",
    )
    return (
        events.join(
            F.broadcast(tiers),
            (events["value"] >= tiers["lo"]) & (events["value"] < tiers["hi"]),
        )
        .select("event_id", "value", "tier")
    )


@register(
    "asof_join",
    oracle="""
        WITH r AS (
            SELECT o_custkey, o_orderdate,
                   max(o_orderkey) AS last_order_key,
                   o_orderdate AS last_order_date
            FROM orders GROUP BY o_custkey, o_orderdate
        )
        SELECT e.event_id, e.user_id, e.ts, r.last_order_key, r.last_order_date
        FROM events e ASOF LEFT JOIN r
          ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
    description="As-of (point-in-time) join: each event picks the "
    "customer's latest order at event time — union+LOCF algorithm, one "
    "shuffle, no range-join fanout (an operator Spark lacks, composed "
    "from built-ins; oracle = DuckDB ASOF LEFT JOIN)",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders")
    latest_orders = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_orderkey").alias("last_order_key")
    ).withColumn("last_order_date", F.col("o_orderdate"))
    return R.asof_join(
        events,
        latest_orders,
        ["user_id"],
        ["o_custkey"],
        "ts",
        "o_orderdate",
        ["last_order_key", "last_order_date"],
    ).select("event_id", "user_id", "ts", "last_order_key", "last_order_date")


@register(
    "interval_join",
    oracle="""
        SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
               p.ts AS purchase_ts, c.ts AS click_ts
        FROM events p JOIN events c ON p.user_id = c.user_id
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
          AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
    """,
    description="Stream-stream interval join: clicks within the 10 min "
    "before each purchase, same user — equi-key shuffle + time-band "
    "filter (the Structured Streaming join shape, in batch)",
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    joined = R.interval_join(
        p,
        c,
        p["user_id"] == c["c_user"],
        (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("click_ts") < F.col("purchase_ts")),
    )
    return joined.select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts")


@register(
    "rollup_agg",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    description="Grouping-set surface (§2.4 extension): ROLLUP over "
    "(returnflag, linestatus) — one pass, partial agg per grouping set",
)
def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "cube_agg",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT)
                   AS grouping_id,
               round(sum(l_extendedprice * (1 - l_discount)), 2)
                   AS sum_disc_price,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    description="Full CUBE over (returnflag, linestatus) with "
    "grouping_id disambiguation — all 4 grouping sets in one pass "
    "(Expand + single partial-agg shuffle), completing the grouping-set "
    "surface next to ROLLUP (rollup_agg)",
)
def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("grouping_id"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "unpivot_metrics",
    oracle="""
        WITH p AS (
            SELECT user_id,
                   CAST(count(*) FILTER (event_type = 'click') AS BIGINT)
                       AS click,
                   CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
                       AS purchase,
                   CAST(count(*) FILTER (event_type = 'error') AS BIGINT)
                       AS error
            FROM events GROUP BY user_id
        )
        SELECT user_id, 'click' AS event_type, click AS cnt FROM p
        UNION ALL
        SELECT user_id, 'purchase', purchase FROM p
        UNION ALL
        SELECT user_id, 'error', error FROM p
    """,
    description="Unpivot/melt — the inverse reshape of pivot_counts: "
    "wide per-user metric columns back to long (user, metric, value) "
    "rows via native unpivot (one Expand pass, zero-count cells kept; "
    "no N-way self-union)",
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    wide = (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "purchase", "error"])
    )
    return wide.unpivot(
        ids=["user_id"],
        values=["click", "purchase", "error"],
        variableColumnName="event_type",
        valueColumnName="cnt",
    )


@register(
    "set_except",
    oracle="""
        SELECT DISTINCT user_id, CAST(date_trunc('minute', ts) AS TIMESTAMP) AS minute
        FROM events WHERE event_type = 'purchase'
        EXCEPT
        SELECT DISTINCT user_id, CAST(date_trunc('minute', ts) AS TIMESTAMP) AS minute
        FROM events WHERE event_type = 'error'
    """,
    description="Set ops (§2.6 extension): user-minutes with a purchase "
    "but no error — EXCEPT DISTINCT (hash anti-join under the hood)",
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    minute = F.date_trunc("minute", F.col("ts")).alias("minute")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", minute
    )
    errors = events.filter(F.col("event_type") == "error").select("user_id", minute)
    return purchases.subtract(errors)


@register(
    "set_intersect",
    oracle="""
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        INTERSECT
        SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
    """,
    description="Set ops (§2.6 extension): users who both signed up and "
    "purchased — INTERSECT DISTINCT",
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    purchasers = events.filter(F.col("event_type") == "purchase").select("user_id")
    signups = events.filter(F.col("event_type") == "signup").select("user_id")
    return purchasers.intersect(signups)


@register(
    "running_total",
    oracle="""
        SELECT event_id, user_id, ts,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING), 2) AS running_value
        FROM events
    """,
    description="Analytic window (§2.6 extension): per-user cumulative "
    "sum in event-time order — deterministic fold order on both engines",
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


@register(
    "approx_stats",
    oracle=None,  # sketch outputs are engine-specific; pytest bounds the
    # error vs the exact agg_stats/value_percentiles twins
    description="Sketch aggregates for 100 TB cardinalities: HLL++ "
    "approx_count_distinct (rsd 1%) + quantile-sketch approx_percentile "
    "per event_type — constant memory where exact distinct/percentile "
    "would need a full shuffle of the key space; accuracy bounded in "
    "pytest against the exact twins",
)
def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.round(F.expr("approx_percentile(value, 0.5, 10000)"), 6).alias("ap50"),
        F.round(F.expr("approx_percentile(value, 0.99, 10000)"), 6).alias("ap99"),
    )


@register(
    "value_histogram",
    oracle="""
        SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               round(min(value), 6) AS lo,
               round(max(value), 6) AS hi
        FROM events GROUP BY 1
    """,
    description="Fixed-width histogram (bucket = floor(value/25)) — "
    "single hash-agg pass; the distribution-profiling primitive",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.floor(F.col("value") / 25.0).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


@register(
    "value_percentiles",
    oracle="""
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.9), 6) AS p90,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events GROUP BY event_type
    """,
    description="Exact percentiles per group (linear interpolation — "
    "identical definition in Spark `percentile` and DuckDB "
    "quantile_cont); at 100 TB swap to approx_percentile + rows-check",
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@register(
    "windowed_sum_salted",
    oracle="""
        SELECT user_id, CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
               round(sum(value), 2) AS total_sum_per_minute
        FROM events GROUP BY 1, 2
    """,
    description="Hot-key-safe windowed SUM via 2-stage salted "
    "aggregation — result identical to windowed_sum (same oracle); the "
    "documented fallback for skewed aggregation keys at 100 TB",
)
def q_windowed_sum_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    agg = R.windowed_sum_salted(
        events, ["user_id"], "ts", F.col("value"), salt_col="event_id"
    )
    return agg.select(
        "user_id",
        F.col("window.start").alias("window_start"),
        F.round("total_sum_per_minute", 2).alias("total_sum_per_minute"),
    )


@register(
    "udtf_chunks",
    oracle="""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok FROM documents
        ), c AS (
            SELECT doc_id, tok,
                   unnest(generate_series(0,
                       CAST(greatest(ceil((len(tok) - 64 + 48) / 48.0), 1)
                            AS INTEGER) - 1)) AS chunk_idx
            FROM t
        )
        SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
               CAST(len(tok[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS BIGINT)
                   AS n_tokens,
               array_to_string(tok[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
                   AS chunk_text
        FROM c
    """,
    description="SQL-callable table-function surface: Python UDTF "
    "(Arrow-batched) invoked via LATERAL — the session-registered "
    "extension point for 1→N row logic; held to the SAME oracle as "
    "the pure-SQL doc_chunks hot path",
)
def q_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("v_documents")
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_idx, c.n_tokens, c.chunk_text
        FROM v_documents AS d,
             LATERAL doc_chunk_udtf(d.doc_id, d.text, 64, 48) AS c
        """
    )


@register(
    "windowed_distinct",
    oracle="""
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    """,
    description="Exact distinct users per (event_type, 1-hour window): "
    "two-phase partial/final aggregate, one shuffle on the group keys. "
    "The exact anchor for the HLL sketch cascade below",
)
def q_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return SK.windowed_distinct(events)


@register(
    "bucketed_agg_scan",
    oracle="""
        SELECT user_id, round(sum(value), 2) AS sum_value,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    """,
    description="Layout-managed aggregation: events materialized as a "
    "bucketed+sorted table on user_id (sources.layout.write_bucketed), "
    "then aggregated BY the bucket key — the stored hash-partitioning "
    "satisfies the agg's distribution, so the plan has ZERO Exchange "
    "(asserted in test_plans). Pay the bucketed write once; every "
    "later keyed agg/join on user_id is shuffle-free",
)
def q_bucketed_agg_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.sources.layout import (
        read_table,
        write_bucketed,
    )

    events = _t(spark, sf_dir, "events")
    table = f"events_bucketed_{os.getpid()}"
    write_bucketed(
        events, table, bucket_cols=["user_id"], buckets=16, sort_cols=["user_id", "ts"]
    )
    return (
        read_table(spark, table)
        .groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "clustered_layout_scan",
    oracle="""
        SELECT user_id, round(sum(value), 2) AS sum_value,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events WHERE user_id BETWEEN 10 AND 20
        GROUP BY user_id
    """,
    description="Zone-map layout: events range-clustered + sorted on "
    "(user_id, ts) via repartitionByRange — each parquet file covers a "
    "disjoint user_id slice, so this selective scan skips every "
    "non-overlapping file from footer min/max stats alone "
    "(cardinality-proof alternative to partitionBy; file-range "
    "disjointness asserted in test_plans)",
)
def q_clustered_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.sources.layout import write_clustered

    events = _t(spark, sf_dir, "events")
    path = f"{SINK_ROOT}/events_clustered"
    write_clustered(events, path, ["user_id", "ts"], n_files=16)
    # the writer keeps the frame's columns: read back with its schema
    return (
        spark.read.schema(events.schema)
        .parquet(path)
        .filter(F.col("user_id").between(10, 20))
        .groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "geomean_udaf",
    oracle="""
        SELECT event_type,
               round(exp(avg(ln(value))), 6) AS geomean_value,
               round(exp(avg(ln(value))), 6) AS geomean_value_col
        FROM events GROUP BY event_type
    """,
    description="§2.7 U2 — vectorized Python UDAF: geometric mean as a "
    "grouped-agg pandas UDF (Arrow ships each group's column once, "
    "numpy reduces it) next to its decomposable column-algebra twin "
    "exp(avg(ln x)) in the SAME aggregation — both against one "
    "oracle. The twin is the at-scale form (partial aggregation: one "
    "(sum,n) pair per map task); the UDAF form is the escape hatch "
    "for non-decomposable group numerics, on bounded-cardinality "
    "groups only (no partials — the group's values cross to Python)",
)
def q_geomean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.functions.udafs import (
        geomean_column,
        geomean_udaf,
    )

    events = _t(spark, sf_dir, "events")
    # a grouped-agg pandas UDF cannot share an agg() with JVM
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — run the two forms as
    # sibling aggregations and join on the (tiny) group key
    py = events.groupBy("event_type").agg(
        F.round(geomean_udaf(F.col("value")), 6).alias("geomean_value")
    )
    jvm = events.groupBy(F.col("event_type").alias("et2")).agg(
        F.round(geomean_column("value"), 6).alias("geomean_value_col")
    )
    return py.join(F.broadcast(jvm), py["event_type"] == F.col("et2")).select(
        "event_type", "geomean_value", "geomean_value_col"
    )


@register(
    "equidepth_histogram",
    oracle="""
        WITH b AS (
            SELECT event_type, value,
                   ntile(10) OVER (PARTITION BY event_type
                                   ORDER BY value ASC, event_id ASC) AS bucket
            FROM events
        )
        SELECT event_type, CAST(bucket AS INTEGER) AS bucket,
               round(min(value), 6) AS lo, round(max(value), 6) AS hi,
               CAST(count(*) AS BIGINT) AS n
        FROM b GROUP BY event_type, bucket
    """,
    description="Equi-DEPTH histogram (10 buckets of equal row count "
    "per event_type) via ntile — the distribution profile that stays "
    "readable under skew, where the fixed-width twin "
    "(value_histogram) collapses into one hot bin. Deterministic "
    "bucketing: total order (value, event_id)",
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return (
        events.select("event_type", "value", F.ntile(10).over(w).alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "json_ingest_robust",
    oracle="""
        WITH c AS (
            SELECT event_id, event_type,
                   CASE WHEN event_id % 7 = 0 THEN 'x' || props
                        ELSE props END AS props
            FROM events
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN json_valid(props) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_valid,
               CAST(sum(CASE WHEN json_valid(props) THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_corrupt,
               CAST(sum(CASE WHEN json_valid(props)
                             THEN CAST(json_extract_string(props, '$.k')
                                       AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS sum_k
        FROM c GROUP BY event_type
    """,
    description="Corrupt-tolerant ingestion: rows with deterministically "
    "mangled JSON (event_id%7=0) parse to null under from_json's "
    "PERMISSIVE mode and are COUNTED, not dropped and not fatal — the "
    "dirty-data contract a 100 TB ingest needs (one bad record must "
    "never kill a 6-hour job); per-type valid/corrupt accounting in "
    "one pass",
)
def q_json_ingest_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    corrupted = events.select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 7 == 0, F.concat(F.lit("x"), F.col("props"))
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    parsed = corrupted.withColumn("j", F.from_json("props", "k long"))
    valid = F.col("j")["k"].isNotNull()
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(valid, 1).otherwise(0)).cast("bigint").alias("n_valid"),
        F.sum(F.when(valid, 0).otherwise(1)).cast("bigint").alias("n_corrupt"),
        F.sum(F.when(valid, F.col("j")["k"]).otherwise(0))
        .cast("bigint")
        .alias("sum_k"),
    )


@register(
    "scd2_history",
    oracle="""
        SELECT user_id, event_id, value, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC) AS valid_to,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC) IS NULL
                   AS is_current
        FROM events
    """,
    description="Type-2 SCD history from the events changelog: every "
    "record gets its validity interval [valid_from, valid_to), open "
    "for the key's latest — the HISTORY twin of latest_by_key "
    "(GlobalKTable = current snapshot). One window pass: single "
    "shuffle on the key, sort within key partitions; probe with "
    "asof_join for as-of-correct attributes",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return R.scd2_history(
        events, ["user_id"], "ts", "event_id", ["value"]
    ).select("user_id", "event_id", "value", "valid_from", "valid_to", "is_current")


@register(
    "scd2_lookup",
    oracle="""
        WITH v AS (
            SELECT user_id, ts AS valid_from, value AS profile_value,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC) AS valid_to
            FROM events WHERE event_type = 'signup'
        )
        SELECT p.event_id, p.user_id, p.ts, p.value,
               v.profile_value, v.valid_from AS version_from
        FROM events p LEFT JOIN v
          ON p.user_id = v.user_id AND p.ts >= v.valid_from
         AND (v.valid_to IS NULL OR p.ts < v.valid_to)
        WHERE p.event_type = 'purchase'
    """,
    description="§2.4 extension — as-of temporal lookup against the "
    "Type-2 SCD dimension: each purchase joins the profile VERSION "
    "(signup changelog row) valid at its event time; pre-signup "
    "purchases survive null-extended. The consumer of scd2_history: "
    "equi key (user) + interval residual → SMJ on the key, no "
    "interval explosion; disjoint validity intervals guarantee ≤1 "
    "match per probe",
)
def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    versions = R.scd2_history(
        events.filter(F.col("event_type") == "signup"),
        ["user_id"],
        "ts",
        "event_id",
        ["value"],
    ).select(
        F.col("user_id").alias("v_user"),
        F.col("valid_from"),
        F.col("valid_to"),
        F.col("value").alias("profile_value"),
    )
    purchases = events.filter(F.col("event_type") == "purchase")
    cond = (
        (purchases["user_id"] == F.col("v_user"))
        & (purchases["ts"] >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (purchases["ts"] < F.col("valid_to")))
    )
    return purchases.join(versions, cond, "left").select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "profile_value",
        F.col("valid_from").alias("version_from"),
    )


@register(
    "merge_apply_cdc",
    oracle="""
        WITH s AS (
            SELECT user_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE event_type = 'signup'
        ), src AS (
            SELECT user_id + 1400 AS m_key, value AS new_bal
            FROM s WHERE rn = 1
        )
        SELECT coalesce(c_custkey, m_key) AS custkey,
               coalesce(c_name, 'cdc-' || CAST(m_key AS VARCHAR)) AS name,
               round(coalesce(new_bal, c_acctbal), 2) AS acctbal,
               CASE WHEN c_custkey IS NULL THEN 'insert'
                    WHEN m_key IS NULL THEN 'keep'
                    ELSE 'update' END AS action
        FROM customer FULL OUTER JOIN src ON c_custkey = m_key
    """,
    description="MERGE INTO semantics without a table format: CDC "
    "upsert (latest signup per key, keys shifted +1400 so the batch "
    "straddles the dimension boundary) applied to the customer "
    "snapshot via ONE full-outer join — matched rows update, "
    "unmatched source rows insert, unmatched target rows keep, with "
    "the action tagged per row. The deduplicate-then-merge shape "
    "Delta/Iceberg MERGE compiles to; source dedup is the "
    "latest_by_key window, join is size-guarded",
)
def q_merge_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    src = (
        events.filter(F.col("event_type") == "signup")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            (F.col("user_id") + 1400).alias("m_key"),
            F.col("value").alias("new_bal"),
        )
    )
    merged = customer.join(src, customer["c_custkey"] == src["m_key"], "full")
    return merged.select(
        F.coalesce("c_custkey", "m_key").alias("custkey"),
        F.coalesce(
            "c_name", F.concat(F.lit("cdc-"), F.col("m_key").cast("string"))
        ).alias("name"),
        F.round(F.coalesce("new_bal", "c_acctbal"), 2).alias("acctbal"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("m_key").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


ZORDER_BOX = "user_id BETWEEN 40 AND 60 AND value BETWEEN 100 AND 200"


@register(
    "zorder_layout_scan",
    oracle=f"""
        SELECT event_id, user_id, value FROM events WHERE {ZORDER_BOX}
    """,
    description="2-D Z-order layout (sources.layout.write_zordered): "
    "events Morton-clustered on (user_id, value), then scanned with a "
    "2-D box predicate. Lexicographic clustering prunes only the "
    "leading column; bit-interleaving keeps every file's bounding box "
    "small in BOTH dimensions, so footer min/max stats skip files for "
    "either predicate (file-level 2-D pruning asserted in test_plans). "
    "The write is one range-shuffle, paid once — Delta/Iceberg "
    "OPTIMIZE ZORDER BY from Spark primitives",
)
def q_zorder_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.sources.layout import write_zordered

    events = _t(spark, sf_dir, "events")
    path = f"{SINK_ROOT}/events_zordered"
    write_zordered(events, path, "user_id", "value", bits=10, n_files=16)
    # the writer drops its z helper column: read back with the frame's schema
    return (
        spark.read.schema(events.schema)
        .parquet(path)
        .filter(F.expr(ZORDER_BOX))
        .select("event_id", "user_id", "value")
    )


@register(
    "rank_functions",
    oracle="""
        WITH u AS (
            SELECT event_type, user_id,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, user_id, total_value,
               CAST(dense_rank() OVER w AS BIGINT) AS drank,
               round(percent_rank() OVER w, 6) AS prank,
               round(cume_dist() OVER w, 6) AS cdist
        FROM u WINDOW w AS (PARTITION BY event_type
                            ORDER BY total_value DESC, user_id ASC)
    """,
    description="Ranking-function surface in one pass: dense_rank / "
    "percent_rank / cume_dist of each user's total within their event "
    "type — the leaderboard/percentile-position triple sharing ONE "
    "window sort; ranks run over the rounded total so the ordering "
    "(and the exact integer-ratio ranks) are engine-identical",
)
def q_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    u = events.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 2).alias("total_value")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("total_value").desc(), F.col("user_id").asc()
    )
    return u.select(
        "event_type",
        "user_id",
        "total_value",
        F.dense_rank().over(w).cast("bigint").alias("drank"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(
    "grouping_sets_agg",
    oracle="""
        SELECT event_type,
               CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
               CAST(GROUPING(event_type,
                             CAST(dayofweek(ts) + 1 AS BIGINT)) AS BIGINT)
                   AS grouping_id,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY GROUPING SETS ((event_type),
                                (CAST(dayofweek(ts) + 1 AS BIGINT)),
                                ())
    """,
    description="Arbitrary GROUPING SETS (not the CUBE/ROLLUP "
    "specializations): per-type totals, per-day-of-week totals, and "
    "the grand total in ONE Expand pass + one partial-agg shuffle — "
    "vs three scans for separate GROUP BYs; grouping_id "
    "disambiguates all-null group keys from genuine nulls (DuckDB "
    "dayofweek Sunday=0 shifted to Spark's Sunday=1)",
)
def q_grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    events.createOrReplaceTempView("__gs_events")
    return spark.sql(
        """
        SELECT event_type,
               CAST(dayofweek(ts) AS BIGINT) AS dow,
               CAST(grouping_id() AS BIGINT) AS grouping_id,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM __gs_events
        GROUP BY GROUPING SETS ((event_type),
                                (CAST(dayofweek(ts) AS BIGINT)),
                                ())
        """
    )


BAND_CENTS = 5


@register(
    "band_join_prices",
    oracle=f"""
        SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
               CAST(round(b.p_retailprice * 100) AS BIGINT)
               - CAST(round(a.p_retailprice * 100) AS BIGINT) AS diff_cents
        FROM part a, part b
        WHERE b.p_partkey > a.p_partkey
          AND abs(CAST(round(a.p_retailprice * 100) AS BIGINT)
                  - CAST(round(b.p_retailprice * 100) AS BIGINT))
              <= {BAND_CENTS}
    """,
    description="Epsilon-band similarity join (operators.relational."
    "band_join): part pairs priced within 5 cents. The oracle is the "
    "naive theta-join (cross product); the engine runs the "
    "interval-bucketing rewrite — bucket width = band, left explodes "
    "to 3 probe buckets, EQUI-join on bucket id, exact predicate "
    "verifies — candidates are band-bounded, never quadratic. "
    "Bucketing happens in integer CENTS (round(price*100)) so bucket "
    "boundaries are exact, no float ambiguity",
)
def q_band_join_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
    )
    a = parts.select(
        F.col("p_partkey").alias("pk_a"), F.col("cents").alias("cents_a")
    )
    b = parts.select(
        F.col("p_partkey").alias("pk_b"), F.col("cents").alias("cents_b")
    )
    return (
        R.band_join(a, b, "cents_a", "cents_b", BAND_CENTS)
        .filter(F.col("pk_b") > F.col("pk_a"))
        .select(
            "pk_a",
            "pk_b",
            (F.col("cents_b") - F.col("cents_a")).alias("diff_cents"),
        )
    )


IVM_CUTOFF = "2001-06-01"


@register(
    "incremental_agg",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n_rows,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
                          AS DOUBLE), 2) AS sum_qty,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
                          AS DOUBLE) / count(*) + 1e-9, 6) AS avg_qty
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    description="Incremental materialized-view maintenance: the stored "
    "per-(returnflag, linestatus) partial state (count + DECIMAL sum) "
    "from the pre-cutoff base absorbs the post-cutoff delta batch by "
    "MERGING partials (sum-of-sums, sum-of-counts) — the base fact "
    "data is never rescanned, which is the whole point of a "
    "maintained aggregate at 100 TB. avg is deliberately NOT "
    "maintained directly (it is not self-maintainable); it is derived "
    "from the merged sum/count, and DECIMAL(18,4) accumulation makes "
    "the merge bit-identical to the oracle's one-shot full recompute",
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit(IVM_CUTOFF).cast("timestamp")
    keys = ["l_returnflag", "l_linestatus"]

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sum_qty"),
        )

    base = partial(li.filter(F.col("l_shipdate") < cutoff))
    delta = partial(li.filter(F.col("l_shipdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy(*keys)
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum("sum_qty").alias("sum_dec"),
        )
    )
    return merged.select(
        *keys,
        "n_rows",
        F.round(F.col("sum_dec").cast("double"), 2).alias("sum_qty"),
        F.round(
            F.col("sum_dec").cast("double") / F.col("n_rows") + F.lit(1e-9), 6
        ).alias("avg_qty"),
    )
