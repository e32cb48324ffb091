"""Structured Streaming twins + Kafka/Avro wire serde.

Split from the original monolithic queries.py (r5 verdict task 5);
registration side effects populate the shared REGISTRY, and the
package __init__ fixes the driver-window order, so module
membership is organization only — zero semantic change.
"""
# ruff: noqa: F403, F405
from __future__ import annotations
from kafka_streams_homework_spark.queries._shared import *  # noqa



@register(
    "streaming_asof_join",
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
    description="Streaming twin of asof_join via run_append(transform=...): "
    "Spark's stream-static join is equi-key only, so the point-in-time "
    "lookup runs the BATCH asof operator inside foreachBatch against "
    "the static order table — the documented production pattern for "
    "non-equi stream-static joins. Per-row stateless w.r.t. batch "
    "splits (each event's match depends on that event + static data), "
    "hence batch-count-independent; same DuckDB ASOF LEFT JOIN oracle "
    "as the batch twin (streaming/batch parity)",
)
def q_streaming_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    stream = _events_stream(spark, sf_dir).select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders")
    latest_orders = (
        orders.groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_order_key"))
        .withColumn("last_order_date", F.col("o_orderdate"))
    )

    def lookup(batch_df: DataFrame) -> DataFrame:
        return R.asof_join(
            batch_df,
            latest_orders,
            ["user_id"],
            ["o_custkey"],
            "ts",
            "o_orderdate",
            ["last_order_key", "last_order_date"],
        ).select("event_id", "user_id", "ts", "last_order_key", "last_order_date")

    return run_append(spark, stream, transform=lookup)


@register(
    "streaming_price_alerts",
    oracle=f"""
        SELECT CAST(user_id AS VARCHAR) AS alert_key,
               CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
               round(sum(value), 2) AS total_sum_per_minute
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY user_id, date_trunc('minute', ts)
        HAVING round(sum(value), 2) > {ALERT_THRESHOLD}
    """,
    description="The flagship under Structured Streaming: file-source "
    "readStream → stream-static broadcast join → windowed sum → "
    "threshold, update mode, availableNow trigger into a memory sink — "
    "checked against the SAME batch oracle (streaming/batch parity)",
)
def q_streaming_price_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    # _stream_session (r12): windowed-sum state ~1e4 (user, window)
    # groups — see _shared.py rationale
    qs = _stream_session(spark)
    customer = load_table(qs, sf_dir, "customer")
    stream = _events_stream(qs, sf_dir)
    alerts = price_alerts_stream(
        stream, customer, threshold=ALERT_THRESHOLD, mode="update"
    )
    # foreachBatch upsert keyed by (alert_key, window_start): keeps the
    # latest emission per window, so the result is identical whether
    # the source processes as one micro-batch or many
    return run_upsert(spark, alerts, ["alert_key", "window_start"])


@register(
    "streaming_latest_by_key",
    oracle="""
        SELECT user_id, event_id AS last_event_id, ts AS last_ts,
               event_type AS last_event_type, value AS last_value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    description="GlobalKTable semantics under streaming: max_by over "
    "(ts, event_id) per key maintains the latest record incrementally "
    "— state is ONE row per key, updated in place each micro-batch; "
    "emissions upserted per key (run_upsert). Same oracle as the batch "
    "latest_by_key (streaming/batch parity for S2/S4)",
)
def q_streaming_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: one state row per user key
    ev = _events_stream(qs, sf_dir)
    agg = ev.groupBy("user_id").agg(
        F.max_by(
            F.struct("event_id", "ts", "event_type", "value"),
            F.struct(F.col("ts"), F.col("event_id")),
        ).alias("b")
    )
    out = agg.select(
        "user_id",
        F.col("b.event_id").alias("last_event_id"),
        F.col("b.ts").alias("last_ts"),
        F.col("b.event_type").alias("last_event_type"),
        F.col("b.value").alias("last_value"),
    )
    return run_upsert(spark, out, ["user_id"])


@register(
    "streaming_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    description="Streaming exact dedup with bounded state: "
    "dropDuplicatesWithinWatermark on (user_id, event_type) — dedup "
    "state lives only until the watermark passes it (O(keys per "
    "watermark window), the only viable exact-dedup contract on an "
    "unbounded stream). Projected to the dedup subset so the emitted "
    "set is deterministic; oracle = DISTINCT (batch twin dedup_exact "
    "family)",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.streaming import dedup_stream

    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: dedup state = distinct key pairs
    ev = _events_stream(qs, sf_dir)
    out = dedup_stream(ev, ["user_id", "event_type"], ts_col="ts").select(
        "user_id", "event_type"
    )
    return run_append(spark, out)


@register(
    "streaming_stateful_alerts",
    # Emit-once semantics: only windows CLOSED by the final watermark
    # (max event time - 2 min) are emitted; open windows are withheld —
    # that is the Processor contract (emit on punctuation, not at end
    # of input), so the oracle applies the same watermark cut.
    oracle=f"""
        WITH wm AS (
            SELECT epoch_ms(max(ts)) - 120000 AS w FROM events
        ),
        agg AS (
            SELECT user_id,
                   epoch_ms(date_trunc('minute', ts)) AS window_start_ms,
                   round(sum(value), 2) AS total_sum_per_minute
            FROM events GROUP BY 1, 2
        )
        SELECT CAST(user_id AS VARCHAR) AS alert_key,
               window_start_ms, total_sum_per_minute
        FROM agg, wm
        WHERE total_sum_per_minute > {ALERT_THRESHOLD}
          AND window_start_ms + 60000 <= wm.w
    """,
    description="U4 escape hatch, driver-visible: the reference's "
    "hand-built stateful Processor (PurchaseQuantityAlertTrasformer."
    "java:21-122) as applyInPandasWithState — per-(key,window) running "
    "sums in group state, emit-once when the watermark closes a window, "
    "state GC on emit. Append mode through run_append; oracle applies "
    "the same watermark cut to plain SQL (windows still open at end of "
    "input are withheld, matching Processor punctuation semantics)",
)
def q_streaming_stateful_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.streaming import run_append
    from kafka_streams_homework_spark.streaming.stateful import (
        windowed_sum_stateful,
    )

    apply_runtime_confs(spark)
    # _stream_session (r12): ~1.5k live (user, window) groups — a few
    # state-store instances are ample; see _shared.py rationale
    qs = _stream_session(spark)
    stream = _events_stream(qs, sf_dir)
    alerts = windowed_sum_stateful(
        stream, threshold=ALERT_THRESHOLD, watermark_delay="2 minutes"
    )
    return run_append(spark, alerts)


@register(
    "streaming_interval_join",
    # Inner stream-stream joins emit matches as both sides arrive (the
    # watermark only bounds state GC, it does not hold back inner
    # output), and the file source delivers one micro-batch here — so
    # the streaming result equals the plain batch interval join and the
    # oracle needs no watermark cut (unlike streaming_stateful_alerts).
    oracle="""
        SELECT l.event_id AS imp_id, r.event_id AS click_id,
               l.user_id AS user_id, l.ts AS imp_ts, r.ts AS click_ts,
               round(r.value, 2) AS click_value
        FROM events l JOIN events r
          ON l.user_id = r.user_id
         AND l.event_id % 2 = 0 AND r.event_id % 2 = 1
         AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
    """,
    description="Stream-stream watermarked interval join, driver-"
    "visible (north-star extension — Kafka Streams' KStream-KStream "
    "windowed join; the reference only joins against a GlobalKTable): "
    "impressions (even event_id) joined to clicks (odd) landing within "
    "[imp_ts, imp_ts+10min] per user; both sides watermarked so join "
    "state is GC'd, shuffled on the equi key like Kafka Streams' "
    "co-partitioned windowed join",
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.streaming import interval_join_streams

    apply_runtime_confs(spark)
    # _stream_session (r12): stream-stream join buffers both sides in
    # per-partition state stores — see _shared.py rationale
    qs = _stream_session(spark)

    def src() -> DataFrame:
        return _events_stream(qs, sf_dir)

    left = (
        src()
        .filter(F.col("event_id") % 2 == 0)
        .select(
            F.col("event_id").alias("imp_id"),
            F.col("user_id"),
            F.col("ts").alias("imp_ts"),
        )
    )
    right = (
        src()
        .filter(F.col("event_id") % 2 == 1)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
            F.round("value", 2).alias("click_value"),
        )
    )
    joined = interval_join_streams(
        left,
        right,
        "user_id",
        "click_user",
        "imp_ts",
        "click_ts",
        upper="10 minutes",
    ).select("imp_id", "click_id", "user_id", "imp_ts", "click_ts", "click_value")
    return run_append(spark, joined)


@register(
    "streaming_interval_join_left",
    # Outer rows are watermark-held: a left row emits null-extended
    # only once the GLOBAL watermark (min of both stream watermarks —
    # Spark's multiple-watermark policy) proves no match can arrive,
    # i.e. passes imp_ts + upper. The oracle applies the same cut;
    # matched pairs emit un-held like the inner variant.
    oracle="""
        WITH wm AS (
            SELECT least((SELECT max(ts) FROM events WHERE event_id % 2 = 0),
                         (SELECT max(ts) FROM events WHERE event_id % 2 = 1))
                   - INTERVAL 2 MINUTE AS w
        ),
        l AS (SELECT * FROM events WHERE event_id % 2 = 0),
        r AS (SELECT * FROM events WHERE event_id % 2 = 1)
        SELECT l.event_id AS imp_id, l.user_id AS user_id, l.ts AS imp_ts,
               r.event_id AS click_id, r.ts AS click_ts,
               round(r.value, 2) AS click_value
        FROM l JOIN r ON l.user_id = r.user_id
         AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
        UNION ALL
        SELECT l.event_id, l.user_id, l.ts, NULL, NULL, NULL
        FROM l, wm
        WHERE NOT EXISTS (
            SELECT 1 FROM r WHERE l.user_id = r.user_id
             AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
        ) AND l.ts + INTERVAL 10 MINUTE <= wm.w
    """,
    description="leftOuter stream-stream interval join, driver-visible: "
    "matched pairs emit as both sides arrive; unmatched impressions "
    "emit null-extended only when the global watermark (min across "
    "both streams) proves no click can still arrive — the oracle "
    "applies the identical cut in plain SQL",
)
def q_streaming_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.streaming import interval_join_streams

    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: join state, see _shared.py
    left = (
        _events_stream(qs, sf_dir)
        .filter(F.col("event_id") % 2 == 0)
        .select(
            F.col("event_id").alias("imp_id"),
            F.col("user_id"),
            F.col("ts").alias("imp_ts"),
        )
    )
    right = (
        _events_stream(qs, sf_dir)
        .filter(F.col("event_id") % 2 == 1)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
            F.round("value", 2).alias("click_value"),
        )
    )
    joined = interval_join_streams(
        left,
        right,
        "user_id",
        "click_user",
        "imp_ts",
        "click_ts",
        upper="10 minutes",
        how="leftOuter",
    ).select("imp_id", "user_id", "imp_ts", "click_id", "click_ts", "click_value")
    return run_append(spark, joined)


@register(
    "streaming_windowed_distinct",
    oracle="""
        SELECT event_type,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    """,
    description="Streaming twin of windowed_distinct: size(collect_set) "
    "per (event_type, hour) in update mode — COUNT(DISTINCT) is not "
    "incrementally maintainable, the id-set state is; run_upsert keeps "
    "the latest emission per window so the result is batch-count-"
    "independent. Same oracle as the batch twin (streaming/batch parity)",
)
def q_streaming_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.streaming.price_alerts import (
        windowed_distinct_stream,
    )

    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: id-set state per (type, window)
    stream = _events_stream(qs, sf_dir)
    out = windowed_distinct_stream(stream)
    return run_upsert(spark, out, ["event_type", "window_start"])


@register(
    "streaming_sessionize",
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
    description="Streaming twin of sessionize: session_window "
    "aggregation under Structured Streaming. Update mode is rejected "
    "for session windows (a session MERGE would retract already-"
    "emitted pre-merge rows), so this runs complete mode through "
    "run_replace — the last trigger's full emission is the answer, "
    "batch-count-independent by construction. Same gaps-and-islands "
    "oracle as the batch twin (streaming/batch parity)",
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: ~1e5 session-window state rows
    stream = _events_stream(qs, sf_dir)
    sess = R.sessionize(
        stream,
        ["user_id"],
        "ts",
        SESSION_GAP,
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
    ).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n_events",
        "total_value",
    )
    return run_replace(spark, sess)


SENTINEL_USER = -1


@register(
    "streaming_sessionize_append",
    oracle="""
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
    description="Append-mode twin of streaming_sessionize: "
    "watermark + append emits each session exactly ONCE when the "
    "watermark passes its gap, so per-session state is GC'd — the "
    "unbounded-state-safe production shape (complete mode holds the "
    "full result forever). availableNow withholds sessions still open "
    "when input ends (watermark advances only BETWEEN micro-batches), "
    "so the harness stages events plus a far-future sentinel event as "
    "a second file; maxFilesPerTrigger=1 makes the sentinel a later "
    "micro-batch whose watermark advance flushes every real session, "
    "and the sentinel's own session is filtered from the output. In "
    "production the sentinel is unnecessary — live traffic advances "
    "the watermark continuously. Same gaps-and-islands batch oracle "
    "as both sessionize twins (streaming/batch parity)",
)
def q_streaming_sessionize_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt
    import shutil
    import tempfile

    import os as _os

    apply_runtime_confs(spark)
    staged = tempfile.mkdtemp(prefix="sess_append_")
    # Two r8-quiet-drift fixes (measured with cProfile + an isolated
    # stream-phase A/B):
    # 1. STAGING BY FILE COPY, not a scan-and-rewrite: the old
    #    events.write re-read and re-compressed the whole table
    #    single-threaded (3-8 s at sf0.1, the dominant and noisiest
    #    cost). Copying the source parquet bytes is ~50 ms and
    #    byte-identical; only the one-row sentinel is written by
    #    Spark, AFTER the copy, so (modTime, path) ordering still
    #    makes it the later micro-batch.
    # 2. State-partition right-sizing: the session-window aggregation
    #    opens one state-store instance per shuffle partition PER
    #    MICRO-BATCH, so the stream plan is built on the
    #    ``_stream_session`` clone (layout and measurements in
    #    _shared.py); the collected result frame is handed back on
    #    the caller's session.
    qs = _stream_session(spark)
    try:
        src = _os.path.join(sf_dir, "events.parquet")
        if _os.path.isdir(src):
            leaves = sorted(
                f
                for f in _os.listdir(src)
                if not f.startswith(("_", "."))
            )
            for i, f in enumerate(leaves):
                shutil.copy(
                    _os.path.join(src, f),
                    _os.path.join(staged, f"{i:04d}_events.parquet"),
                )
        else:
            shutil.copy(src, _os.path.join(staged, "0000_events.parquet"))
        raw_schema = parquet_schema(spark, src)
        ts_is_ns = dict(
            (f.name, f.dataType.simpleString()) for f in raw_schema.fields
        ).get("ts") == "bigint"
        max_ts = (
            spark.read.schema(raw_schema)
            .parquet(src)
            .agg(F.max("ts").alias("m"))
            .collect()[0]["m"]
        )
        far_future = (
            max_ts + 365 * 86400 * 10**9
            if ts_is_ns
            else max_ts + dt.timedelta(days=365)
        )
        sent_vals = {
            "event_id": -1,
            "user_id": int(SENTINEL_USER),
            "ts": far_future,
            "value": 0.0,
        }
        sentinel = spark.createDataFrame(
            [tuple(sent_vals.get(f.name) for f in raw_schema.fields)],
            schema=raw_schema,
        )
        # repartition(1), NOT coalesce(1): a coalesced one-row write
        # inherits 32 parents' preferred locations and stalls ~5 s in
        # the scheduler's locality wait (measured; the third and
        # largest r8-drift component). The shuffle breaks the
        # preference — 0.5 s, same single file.
        sentinel.repartition(1).write.mode("append").parquet(staged)
        stream = (
            qs.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(staged)
        )
        if ts_is_ns:
            stream = stream.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        stream = stream.select("event_id", "user_id", "ts", "value")
        sess = (
            R.sessionize(
                stream.withWatermark("ts", "2 minutes"),
                ["user_id"],
                "ts",
                SESSION_GAP,
                [
                    F.count(F.lit(1)).alias("n_events"),
                    F.round(F.sum("value"), 2).alias("total_value"),
                ],
            )
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                "n_events",
                "total_value",
            )
        )
        out = run_append(spark, sess)
    finally:
        shutil.rmtree(staged, ignore_errors=True)
    return out.filter(F.col("user_id") != SENTINEL_USER)


@register(
    "streaming_windowed_hll",
    # No oracle: approx_count_distinct is sketch-based; pytest pins the
    # estimate within HLL error bounds of the exact streaming twin.
    description="Streaming windowed HLL: approx distinct users per "
    "(event_type, hour) under Structured Streaming update mode — the "
    "sketch (~KB) is incrementally maintainable state where the exact "
    "twin (streaming_windowed_distinct) holds the full id set; the "
    "only per-window distinct state that stays bounded on a 100 TB "
    "stream. run_upsert keeps the final emission per window "
    "(batch-count-independent); accuracy pinned vs exact in pytest",
)
def q_streaming_windowed_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: one HLL sketch per (type, hour)
    stream = _events_stream(qs, sf_dir)
    out = (
        stream.groupBy("event_type", F.window("ts", "1 hour"))
        .agg(F.approx_count_distinct("user_id").alias("n_distinct_approx"))
        .select(
            "event_type",
            F.col("window.start").alias("window_start"),
            "n_distinct_approx",
        )
    )
    return run_upsert(spark, out, ["event_type", "window_start"])


@register(
    "kafka_wire_roundtrip",
    oracle=f"""
        SELECT CAST(user_id AS VARCHAR) AS alert_key, c_name AS customer_name,
               CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
               round(sum(value), 2) AS total_sum_per_minute
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY user_id, c_name, date_trunc('minute', ts)
        HAVING round(sum(value), 2) > {ALERT_THRESHOLD}
    """,
    description="Kafka edge, driver-visible: events serialized IN-PLAN "
    "to Confluent-wire binary records (magic+schema-id prefix + JSON "
    "payload, all JVM expressions), then decode_kafka_records strips "
    "the prefix and parses the payload, and the flagship runs on the "
    "decoded frame — byte-level serde parity with the reference's "
    "registry serde (dsl/PriceAlertsApp.java:33-37), same oracle as "
    "price_alerts",
)
def q_kafka_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.sources.kafka import decode_kafka_records

    # spread first (r12, guide §2.5): the wire-serde map runs the whole
    # encode+decode on the scan's partitioning, and the fixture's
    # single-row-group events.parquet scans as ONE task — profiled as a
    # single-task 2.4 s stage in the avro twin. Round-robin the narrow
    # projection so the codec parallelizes; no-op at scale.
    events = spread(_t(spark, sf_dir, "events").select("user_id", "ts", "value"))
    customer = _t(spark, sf_dir, "customer")
    # serialize: the exact frame a kafka source would hand us
    wire = events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.concat(
            F.lit(b"\x00\x00\x00\x00\x2a"),  # magic 0x00 + schema id 42
            F.to_json(F.struct("user_id", "ts", "value")).cast("binary"),
        ).alias("value"),
        F.col("ts").alias("timestamp"),
    )
    # tracked_checkpoint (r12, guide §4.4 shape with JVM exprs): the
    # inner join's null-safety filters are deterministic, so Catalyst
    # pushes them below the spread exchange where each pushed predicate
    # RE-DERIVES the whole to_json→from_json chain on the single-split
    # scan (plan audit: Filter(2) under Exchange(4) evaluating the
    # round trip twice). A LogicalRDD leaf is a pushdown barrier: the
    # wire bytes materialize once, 32-way, and every downstream
    # evaluation runs above the exchange.
    wire = tracked_checkpoint(wire)
    decoded = decode_kafka_records(
        wire,
        json_value_schema="user_id long, ts timestamp, value double",
        confluent_wire_format=True,
    ).select("value.user_id", "value.ts", "value.value")
    enriched = R.join_stream_table(
        decoded, customer, decoded["user_id"] == customer["c_custkey"], "inner"
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


AVRO_PURCHASE_SCHEMA = """
{"type": "record", "name": "Purchase", "fields": [
  {"name": "user_id", "type": "long"},
  {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
  {"name": "value", "type": "double"}
]}
"""


@register(
    "avro_wire_roundtrip",
    oracle=f"""
        SELECT CAST(user_id AS VARCHAR) AS alert_key, c_name AS customer_name,
               CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
               round(sum(value), 2) AS total_sum_per_minute
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY user_id, c_name, date_trunc('minute', ts)
        HAVING round(sum(value), 2) > {ALERT_THRESHOLD}
    """,
    description="Avro serde edge (reference dsl/PriceAlertsApp.java:84-85): "
    "events serialized IN-PLAN to Confluent-framed AVRO BINARY (magic + "
    "schema id + spec-conformant zigzag-varint/IEEE754 body), decoded via "
    "decode_kafka_records' from_avro path — JVM from_avro when the "
    "spark-avro jar exists, else the Arrow-batched pure-Python codec "
    "(sources/avro_codec.py) — then the flagship runs on the decoded "
    "frame; same oracle as price_alerts / kafka_wire_roundtrip",
)
def q_avro_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.sources.avro_codec import avro_encode_column
    from kafka_streams_homework_spark.sources.kafka import decode_kafka_records

    # spread first (r12, guide §2.5): see q_kafka_wire_roundtrip — the
    # Arrow-batched Avro codec otherwise serializes on the one-split scan.
    events = spread(_t(spark, sf_dir, "events").select("user_id", "ts", "value"))
    customer = _t(spark, sf_dir, "customer")
    # avro_encode_column is nondeterministic: Project/Filter only, never
    # a join key, grouping key or pushed filter (see its docstring).
    wire = events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.concat(
            F.lit(b"\x00\x00\x00\x00\x2a"),  # magic 0x00 + schema id 42
            avro_encode_column(
                F.struct("user_id", "ts", "value"), AVRO_PURCHASE_SCHEMA
            ),
        ).alias("value"),
        F.col("ts").alias("timestamp"),
    )
    decoded = decode_kafka_records(
        wire,
        avro_value_schema=AVRO_PURCHASE_SCHEMA,
        confluent_wire_format=True,
    ).select("value.user_id", "value.ts", "value.value")
    enriched = R.join_stream_table(
        decoded, customer, decoded["user_id"] == customer["c_custkey"], "inner"
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
    "kafka_corrupt_tolerant",
    oracle="""
        SELECT CAST(count(CASE WHEN event_id % 7 <> 0 THEN 1 END) AS BIGINT)
                   AS n_good,
               CAST(count(CASE WHEN event_id % 7 = 0 THEN 1 END) AS BIGINT)
                   AS n_corrupt,
               round(sum(CASE WHEN event_id % 7 <> 0 THEN value END), 2)
                   AS total_good_value
        FROM events
    """,
    description="Poison-pill tolerance, driver-visible: every 7th wire "
    "record is truncated mid-payload in-plan, then decoded with the "
    "PERMISSIVE from_json path — corrupt payloads become null structs "
    "instead of failing the job (the dead-letter contract a production "
    "consumer needs; a deserialization exception in the reference's "
    "serde kills the stream thread). The oracle derives the same "
    "good/corrupt partition from the injection rule, so the decode "
    "path must classify every record exactly right to hash-match",
)
def q_kafka_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.sources.kafka import decode_kafka_records

    # spread first (r12, guide §2.5): see q_kafka_wire_roundtrip.
    events = spread(
        _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    )
    wire = events.select(
        "event_id",
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.concat(
            F.lit(b"\x00\x00\x00\x00\x2a"),
            F.to_json(F.struct("user_id", "ts", "value")).cast("binary"),
        ).alias("value"),
        F.col("ts").alias("timestamp"),
    )
    poisoned = wire.withColumn(
        "value",
        F.when(
            F.col("event_id") % 7 == 0, F.expr("substring(value, 1, 12)")
        ).otherwise(F.col("value")),
    )
    decoded = decode_kafka_records(
        poisoned,
        json_value_schema="user_id long, ts timestamp, value double",
        confluent_wire_format=True,
    )
    return decoded.agg(
        F.count(F.when(F.col("value.user_id").isNotNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("value.user_id").isNull(), 1)).alias("n_corrupt"),
        F.round(F.sum("value.value"), 2).alias("total_good_value"),
    )


AVRO_PURCHASE_READER_V2 = """
{"type": "record", "name": "Purchase", "fields": [
  {"name": "value", "type": "double"},
  {"name": "user_id", "type": "long"},
  {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
  {"name": "region", "type": "string", "default": "unknown"}
]}
"""


@register(
    "avro_schema_evolution",
    oracle=f"""
        SELECT CAST(user_id AS VARCHAR) AS alert_key, c_name AS customer_name,
               'unknown' AS region,
               CAST(date_trunc('minute', ts) AS TIMESTAMP) AS window_start,
               round(sum(value), 2) AS total_sum_per_minute
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY user_id, c_name, date_trunc('minute', ts)
        HAVING round(sum(value), 2) > {ALERT_THRESHOLD}
    """,
    description="Avro schema RESOLUTION in-plan (spec §Schema "
    "Resolution): events encoded under the v1 writer schema, decoded "
    "under a v2 READER schema that reorders fields (name-based match "
    "over the positional wire format) and adds a defaulted `region` "
    "column — the rolling-upgrade contract a Schema-Registry consumer "
    "needs; flagship aggregation over the evolved frame, same oracle "
    "as avro_wire_roundtrip plus the defaulted column",
)
def q_avro_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.sources.avro_codec import (
        avro_decode_column_evolved,
        avro_encode_column,
    )

    # spread first (r12, guide §2.5): see q_kafka_wire_roundtrip.
    events = spread(_t(spark, sf_dir, "events").select("user_id", "ts", "value"))
    customer = _t(spark, sf_dir, "customer")
    # avro_encode_column is nondeterministic: Project/Filter only, never
    # a join key, grouping key or pushed filter (see its docstring).
    wire = events.select(
        avro_encode_column(
            F.struct("user_id", "ts", "value"), AVRO_PURCHASE_SCHEMA
        ).alias("payload")
    )
    decoded = wire.select(
        avro_decode_column_evolved(
            "payload", AVRO_PURCHASE_SCHEMA, AVRO_PURCHASE_READER_V2
        ).alias("value")
    ).select("value.user_id", "value.ts", "value.value", "value.region")
    enriched = R.join_stream_table(
        decoded, customer, decoded["user_id"] == customer["c_custkey"], "inner"
    )
    agg = R.windowed_agg(
        enriched,
        ["user_id", "c_name", "region"],
        "ts",
        [F.round(F.sum("value"), 2).alias("total_sum_per_minute")],
        "1 minute",
    )
    alerts = R.filter_threshold(agg, "total_sum_per_minute", ALERT_THRESHOLD)
    return alerts.select(
        F.col("user_id").cast("string").alias("alert_key"),
        F.col("c_name").alias("customer_name"),
        "region",
        F.col("window.start").alias("window_start"),
        F.col("total_sum_per_minute").cast("double").alias("total_sum_per_minute"),
    )


@register(
    "streaming_activity_streaks",
    oracle="""
        WITH d AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), r AS (
            SELECT user_id, day,
                   day - CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY day) AS INT) AS anchor
            FROM d
        )
        SELECT user_id, min(day) AS streak_start, max(day) AS streak_end,
               CAST(count(*) AS BIGINT) AS streak_days
        FROM r GROUP BY user_id, anchor HAVING count(*) >= 2
    """,
    description="Streaming twin of activity_streaks: events projected "
    "to midnight-aligned day timestamps, then a per-user session "
    "window with a 25-hour gap — consecutive midnights (24h apart) "
    "merge, a skipped day (48h) splits, so each session IS a streak "
    "and streak_days = span(min,max)+1 without any distinct-count "
    "(order-independent, hence batch-count-independent). Complete "
    "mode via run_replace like streaming_sessionize; same "
    "gaps-and-islands oracle as the batch twin",
)
def q_streaming_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: per-user streak session state
    stream = _events_stream(qs, sf_dir)
    days = stream.select(
        "user_id", F.date_trunc("day", "ts").alias("day_ts")
    )
    sess = (
        days.groupBy("user_id", F.session_window("day_ts", "25 hours"))
        .agg(
            F.min("day_ts").alias("first_day"),
            F.max("day_ts").alias("last_day"),
        )
        .select(
            "user_id",
            F.col("first_day").cast("date").alias("streak_start"),
            F.col("last_day").cast("date").alias("streak_end"),
            (
                F.datediff(F.col("last_day"), F.col("first_day")) + 1
            ).cast("bigint").alias("streak_days"),
        )
        .filter(F.col("streak_days") >= 2)
    )
    return run_replace(spark, sess)


TOPK_WINDOW_N = 3


@register(
    "streaming_windowed_topk",
    oracle=f"""
        WITH c AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                   event_type, CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        ), r AS (
            SELECT window_start, event_type, n_events,
                   row_number() OVER (PARTITION BY window_start
                                      ORDER BY n_events DESC, event_type)
                       AS rk
            FROM c
        )
        SELECT window_start, event_type, n_events, CAST(rk AS BIGINT) AS rk
        FROM r WHERE rk <= {TOPK_WINDOW_N}
    """,
    description="Top-N event types per hour under Structured Streaming "
    "— the canonical windowed-leaderboard shape (Kafka Streams' "
    "windowed KTable top-N example). The streaming stage maintains "
    "per-(window, type) counts (complete mode through run_replace — "
    "rank over a streaming agg is not incrementally expressible, the "
    "documented KTable-reader pattern ranks downstream); the rank "
    "runs on the emitted window×type table, which is bounded "
    "regardless of event volume. Deterministic event_type tiebreak; "
    "same batch oracle shape as topk_per_group",
)
def q_streaming_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: |types| x hours count state
    stream = _events_stream(qs, sf_dir)
    counts = (
        stream.groupBy(
            F.window(F.col("ts"), "1 hour"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    emitted = run_replace(spark, counts)
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        emitted.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TOPK_WINDOW_N)
    )


DECAY_LAMBDA = 0.099021025794278  # ln 2 / 7 days, shared with batch twin
DECAY_BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z, before the corpus


@register(
    "streaming_decayed_leaderboard",
    oracle=f"""
        WITH b AS (
            SELECT epoch(date_trunc('second', max(ts))) AS tmax FROM events
        ), s AS (
            SELECT user_id, count(*) AS n_events,
                   sum(exp({DECAY_LAMBDA}
                           * (epoch(date_trunc('second', ts))
                              - {DECAY_BASE_EPOCH}) / 86400.0)) AS raw
            FROM events GROUP BY user_id
        ), sc AS (
            SELECT user_id, n_events,
                   round(raw * exp(-{DECAY_LAMBDA}
                                   * (b.tmax - {DECAY_BASE_EPOCH})
                                   / 86400.0) + 1e-9, 6) AS decayed_score
            FROM s, b
        )
        SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
               decayed_score, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY decayed_score DESC, user_id) AS rank
            FROM sc
        ) WHERE rank <= 20
    """,
    description="Streaming twin of decayed_leaderboard (r7, VERDICT r6 "
    "task 7): the exponentially time-decayed top-20 maintained under "
    "Structured Streaming. The decay anchor (corpus max ts) is "
    "unknowable mid-stream, so the streaming state keeps the "
    "ANCHOR-FREE factored sum per user — sum(exp(+lambda*(t-base))) "
    "with a fixed calendar base literal — which is mergeable "
    "incremental state (the classic streaming trick for exponential "
    "decay: rebase the literal every few years to stay inside double "
    "range); the anchor factor exp(-lambda*(tmax-base)) applies at "
    "read time on the emitted per-user table. Both engines compute "
    "the IDENTICAL factored arithmetic (the oracle mirrors it), so "
    "the 6dp-rounded scores hash-match. Top-20 via orderBy+limit on "
    "the emitted bounded table (TakeOrdered, no global sort); the "
    "rank window runs over the <=20-row result. Complete mode through "
    "run_replace — same KTable-reader pattern as "
    "streaming_windowed_topk",
)
def q_streaming_decayed_leaderboard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: one state row per user
    stream = _events_stream(qs, sf_dir)
    sec = F.unix_timestamp(F.date_trunc("second", F.col("ts")))
    per_user = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.exp(
                F.lit(DECAY_LAMBDA)
                * (sec - F.lit(DECAY_BASE_EPOCH))
                / F.lit(86400.0)
            )
        ).alias("raw"),
        F.max(sec).alias("max_sec"),
    )
    emitted = run_replace(spark, per_user)
    b = emitted.agg(F.max("max_sec").alias("tmax"))
    scored = emitted.crossJoin(F.broadcast(b)).select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(
            F.col("raw")
            * F.exp(
                F.lit(-DECAY_LAMBDA)
                * (F.col("tmax") - F.lit(DECAY_BASE_EPOCH))
                / F.lit(86400.0)
            )
            + F.lit(1e-9),
            6,
        ).alias("decayed_score"),
    )
    top = scored.orderBy(F.col("decayed_score").desc(), "user_id").limit(20)
    w = Window.orderBy(F.col("decayed_score").desc(), "user_id")
    return top.select(
        "user_id",
        "n_events",
        "decayed_score",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


@register(
    "streaming_quantile_hist",
    oracle="""
        WITH h AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
                   CAST(floor(value) AS BIGINT) AS bucket,
                   count(*) AS c
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2
        ), cum AS (
            SELECT window_start, bucket, c,
                   sum(c) OVER (PARTITION BY window_start ORDER BY bucket
                                ROWS UNBOUNDED PRECEDING) AS cc,
                   sum(c) OVER (PARTITION BY window_start) AS n
            FROM h
        )
        SELECT window_start, CAST(max(n) AS BIGINT) AS n_values,
               CAST(min(CASE WHEN cc >= (50 * n + 99) // 100
                             THEN bucket END) AS BIGINT) AS p50_bucket,
               CAST(min(CASE WHEN cc >= (95 * n + 99) // 100
                             THEN bucket END) AS BIGINT) AS p95_bucket
        FROM cum GROUP BY window_start
    """,
    description="Streaming per-day value quantiles from an integer "
    "histogram — the quantile half of the r7 streaming-primitive "
    "coverage (next to streaming_decayed_leaderboard): the streaming "
    "state is per-(window, floor(value)) COUNTS — bounded by the "
    "value RANGE, not the event volume, and trivially mergeable — "
    "and the exact histogram quantile (smallest bucket whose running "
    "count reaches ceil(q*n)) is read off the emitted bounded table "
    "downstream. ceil(q*n) computed as (q*100*n + 99) div 100 in "
    "INTEGER arithmetic on both engines (a float 0.95*n can straddle "
    "the integer boundary at large n). Complete mode via run_replace; "
    "the cum window partitions by day over <=491 bucket rows",
)
def q_streaming_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: (day, bucket) count state
    stream = _events_stream(qs, sf_dir)
    hist = (
        stream.filter(F.col("value").isNotNull())
        .groupBy(
            F.window(F.col("ts"), "1 day"),
            F.floor("value").cast("long").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.col("window.start").alias("window_start"), "bucket", "c"
        )
    )
    emitted = run_replace(spark, hist)
    wd = Window.partitionBy("window_start")
    cum = emitted.select(
        "window_start",
        "bucket",
        F.sum("c")
        .over(
            wd.orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cc"),
        F.sum("c").over(wd).alias("n"),
    )
    need50 = F.expr("(50 * n + 99) div 100")
    need95 = F.expr("(95 * n + 99) div 100")
    return cum.groupBy("window_start").agg(
        F.max("n").cast("bigint").alias("n_values"),
        F.min(F.when(F.col("cc") >= need50, F.col("bucket")))
        .cast("bigint")
        .alias("p50_bucket"),
        F.min(F.when(F.col("cc") >= need95, F.col("bucket")))
        .cast("bigint")
        .alias("p95_bucket"),
    )


# --- round 8: streaming twins completing the OHLC family
#     (VERDICT r7 window fillers; streaming_bpe_encode lives in
#     queries/text.py next to its oracle helpers) ---


def _ohlc_stream_agg(stream: DataFrame) -> DataFrame:
    """The OHLC streaming aggregation, factored out so pytest can
    drive it over a hand-built multi-batch stream (merge-order safety
    of the min_by/max_by state is the load-bearing claim)."""
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        stream.groupBy(
            "event_type", F.window(F.col("ts"), "1 hour").alias("win")
        )
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
            F.sum("value").alias("raw_volume"),
        )
        .select(
            "event_type",
            F.col("win.start").alias("bucket"),
            "open",
            "high",
            "low",
            "close",
            "n_ticks",
            "raw_volume",
        )
    )



@register(
    "streaming_ohlc_bars",
    # identical result contract to the batch ohlc_bars oracle
    # (streaming/batch parity, same rows)
    oracle="""
        WITH b AS (
            SELECT event_type, value,
                   time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
                   row_number() OVER (
                       PARTITION BY event_type,
                                    time_bucket(INTERVAL 1 HOUR, ts)
                       ORDER BY ts ASC, event_id ASC) AS rn_a,
                   row_number() OVER (
                       PARTITION BY event_type,
                                    time_bucket(INTERVAL 1 HOUR, ts)
                       ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        SELECT event_type, bucket,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high, min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               CAST(count(*) AS BIGINT) AS n_ticks,
               round(sum(value), 2) AS volume
        FROM b GROUP BY event_type, bucket
    """,
    description="OHLC candlestick bars maintained under Structured "
    "Streaming — the streaming twin of ohlc_bars and the canonical "
    "financial-tick rollup. Per-(series, hour-window) state is five "
    "mergeable aggregates: open/close via min_by/max_by over the "
    "deterministic (ts, event_id) total order (merge-order-safe, "
    "unlike first()/last()), high/low/count/sum natively mergeable. "
    "State is one row per open (series, hour) — bounded by series "
    "cardinality x window retention, never by tick volume. Update "
    "mode through run_upsert keyed (event_type, bucket); volume "
    "rounds at read time on the final per-key emission. Same rn-based "
    "deterministic oracle as the batch twin",
)
def q_streaming_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: (series, hour) OHLC state
    agg = _ohlc_stream_agg(_events_stream(qs, sf_dir))
    emitted = run_upsert(spark, agg, ["event_type", "bucket"])
    return emitted.select(
        "event_type",
        "bucket",
        "open",
        "high",
        "low",
        "close",
        "n_ticks",
        F.round("raw_volume", 2).alias("volume"),
    )


@register(
    "streaming_quality_score",
    # same oracle as the batch quality_score twin (streaming/batch
    # parity; same rows)
    oracle=f"""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok FROM documents
        ), m AS (
            SELECT doc_id,
                   len(tok) AS n_tok,
                   len(list_distinct(tok)) AS n_uniq,
                   len(list_filter(tok, x -> x IN ('{_STOPWORD_SQL}'))) AS n_stop
            FROM t
        )
        SELECT doc_id,
               round(n_uniq::DOUBLE / n_tok, 6) AS lexical_diversity,
               round(0.5 * (n_uniq::DOUBLE / n_tok)
                     + 0.3 * least(n_tok / 100.0, 1.0)
                     + 0.2 * (1.0 - n_stop::DOUBLE / n_tok), 6) AS quality,
               (n_tok >= 5 AND n_tok <= 1000
                AND n_uniq::DOUBLE / n_tok > 0.3) AS keep
        FROM m
    """,
    description="Quality-score documents AT INGEST — the streaming "
    "twin of quality_score and the other half of the production "
    "ingest stage next to streaming_bpe_encode: LLM pipelines score "
    "and gate documents as they arrive, not in a batch afterthought. "
    "Entirely STATELESS (per-doc projection, all JVM expressions), so "
    "it runs in append mode with emit-on-arrival — no state store, no "
    "watermark, per-row latency instead of window latency; "
    "run_append's accumulating collector is batch-count-independent "
    "because append emissions are final by contract. Same oracle as "
    "the batch twin (streaming/batch parity). At 100 TB/day this is "
    "a pure map stage: scales horizontally with zero shuffle",
)
def q_streaming_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    stream = _table_stream(spark, sf_dir, "documents")
    return run_append(spark, T.quality_score(stream))


@register(
    "streaming_kmv_distinct",
    # same oracle as the batch kmv_distinct twin (streaming/batch
    # parity for the sketch family; deterministic md5 hashes make the
    # whole ESTIMATE checkable, not just an error bound)
    oracle="""
        WITH u AS (
            SELECT DISTINCT event_type,
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                       / 4294967296.0 AS u
            FROM events
        ), r AS (
            SELECT event_type, u,
                   row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
            FROM u
        )
        SELECT event_type,
               CAST(least(count(*), 64) AS BIGINT) AS n_sketch,
               round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                     ELSE 63.0 / max(u) FILTER (rn <= 64) END, 2)
                   AS est_distinct
        FROM r GROUP BY event_type
    """,
    description="KMV distinct-count sketch maintained as CUSTOM "
    "STATEFUL streaming state (applyInPandasWithState) — the "
    "streaming twin of kmv_distinct and the U4 escape hatch applied "
    "to the sketch family: per-group state is the k=64 smallest "
    "distinct md5 hash fractions (bounded, mergeable — the k smallest "
    "of a union are among the union of each side's k smallest), each "
    "micro-batch set-unions into it, update-mode emissions upsert per "
    "group. Hash fractions computed JVM-side before the stateful op; "
    "the (k-1)/u_k estimate derives JVM-side after it (F.round "
    "HALF_UP parity). Same oracle as the batch twin. At 100 TB the "
    "state is k doubles x |groups| regardless of event volume",
)
def q_streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.streaming.stateful import (
        kmv_distinct_stateful,
    )

    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: one KMV sketch per event type
    stream = _events_stream(qs, sf_dir)
    sketch = kmv_distinct_stateful(stream, "event_type", "user_id", k=64)
    emitted = run_upsert(spark, sketch, ["g"])
    return emitted.select(
        F.col("g").alias("event_type"),
        F.col("n_sketch").cast("bigint").alias("n_sketch"),
        F.round(
            F.when(
                F.col("n_sketch") < 64, F.col("n_sketch").cast("double")
            ).otherwise(F.lit(63.0) / F.col("kmax")),
            2,
        ).alias("est_distinct"),
    )


@register(
    "streaming_psi_drift",
    # same oracle as the batch psi_drift twin (streaming/batch parity)
    oracle="""
        WITH b0 AS (
            SELECT min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS d0
            FROM events
        ), binned AS (
            SELECT event_type,
                   least(CAST(floor(value / 20) AS BIGINT), 24) AS bin,
                   CASE WHEN ts < d0 + INTERVAL 15 DAY THEN 1 ELSE 0 END
                       AS pre
            FROM events, b0 WHERE value IS NOT NULL
        ), cnt AS (
            SELECT event_type, bin,
                   sum(pre) AS c_pre, sum(1 - pre) AS c_post
            FROM binned GROUP BY 1, 2
        ), tot AS (
            SELECT event_type, sum(c_pre) AS n_pre, sum(c_post) AS n_post,
                   count(*) AS n_bins
            FROM cnt GROUP BY 1
        ), terms AS (
            SELECT c.event_type,
                   ((c.c_pre + 0.5) / (t.n_pre + 0.5 * t.n_bins)
                    - (c.c_post + 0.5) / (t.n_post + 0.5 * t.n_bins))
                   * ln(((c.c_pre + 0.5) / (t.n_pre + 0.5 * t.n_bins))
                        / ((c.c_post + 0.5)
                           / (t.n_post + 0.5 * t.n_bins))) AS term
            FROM cnt c JOIN tot t USING (event_type)
        )
        SELECT t.event_type,
               CAST(t.n_pre AS BIGINT) AS n_pre,
               CAST(t.n_post AS BIGINT) AS n_post,
               CAST(t.n_bins AS BIGINT) AS n_bins,
               round(s.psi + 1e-9, 6) AS psi,
               round(s.psi + 1e-9, 6) > 0.02 AS drifted
        FROM tot t JOIN (
            SELECT event_type, sum(term) AS psi FROM terms GROUP BY 1
        ) s USING (event_type)
    """,
    description="Drift monitoring AT INGEST — the streaming twin of "
    "psi_drift, completing the production ML-ops trio next to "
    "streaming_bpe_encode (tokenize) and streaming_quality_score "
    "(gate). The pre/post cut (first 15 days vs rest) depends on the "
    "corpus min date — unknowable mid-stream — so the state is "
    "ANCHOR-FREE per-(type, DAY, bin) counts (bounded: types x days x "
    "25 bins, mergeable; the cut boundary is day-aligned, so "
    "day-granular state loses nothing) and the cut + Laplace-smoothed "
    "PSI arithmetic apply at read time over the emitted bounded table "
    "— the same mid-stream-unknowable-anchor discipline as "
    "streaming_decayed_leaderboard. Integer counts -> identical "
    "doubles cross-engine; drift flag on the ROUNDED psi. Complete "
    "mode via run_replace",
)
def q_streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: (type, day, bin) count state
    stream = _events_stream(qs, sf_dir)
    hist = (
        stream.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.window(F.col("ts"), "1 day").alias("win"),
            F.least(
                F.floor(F.col("value") / 20).cast("bigint"), F.lit(24)
            ).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "event_type", F.col("win.start").alias("day"), "bin", "c"
        )
    )
    emitted = run_replace(spark, hist)
    b0 = emitted.agg(F.min("day").alias("d0"))
    cut = emitted.crossJoin(F.broadcast(b0)).select(
        "event_type",
        "bin",
        "c",
        F.when(
            F.col("day") < F.col("d0") + F.expr("INTERVAL 15 DAY"), 1
        )
        .otherwise(0)
        .alias("pre"),
    )
    cnt = cut.groupBy("event_type", "bin").agg(
        F.sum(F.col("c") * F.col("pre")).alias("c_pre"),
        F.sum(F.col("c") * (1 - F.col("pre"))).alias("c_post"),
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("c_pre").alias("n_pre"),
        F.sum("c_post").alias("n_post"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    j = cnt.join(F.broadcast(tot), "event_type")
    p = (F.col("c_pre") + 0.5) / (F.col("n_pre") + 0.5 * F.col("n_bins"))
    q = (F.col("c_post") + 0.5) / (F.col("n_post") + 0.5 * F.col("n_bins"))
    terms = j.select(
        "event_type", ((p - q) * F.log(p / q)).alias("term")
    )
    psi = terms.groupBy("event_type").agg(F.sum("term").alias("psi"))
    return tot.join(psi, "event_type").select(
        "event_type",
        F.col("n_pre").cast("bigint").alias("n_pre"),
        F.col("n_post").cast("bigint").alias("n_post"),
        F.col("n_bins").cast("bigint").alias("n_bins"),
        F.round(F.col("psi") + F.lit(1e-9), 6).alias("psi"),
        (F.round(F.col("psi") + F.lit(1e-9), 6) > 0.02).alias("drifted"),
    )


NB_TOP_V = 1 << 16  # vocabulary cap for the broadcast NB model (OOV bucket)


@register(
    "streaming_naive_bayes",
    # same oracle as the batch naive_bayes_lang twin (streaming/batch
    # parity: same docs, same trained model, same rows)
    oracle=_NAIVE_BAYES_ORACLE,
    description="Classify documents AT INGEST with a broadcast "
    "naive-Bayes model — the learned-classifier half of the "
    "production ingest stage next to streaming_quality_score "
    "(heuristic gate) and streaming_bpe_encode (tokenize): the model "
    "is TRAINED batch-side as pure relational algebra (token-class "
    "counts, class totals, vocab size — ZERO driver collects, zero "
    "plan literals) and folded into ONE static model row (token -> "
    "per-class log-prob array map, plus class/prior/default arrays) "
    "that reaches the stream via a stream-static BROADCAST equi-join "
    "— the streaming_bpe_encode vocab-TABLE pattern the r8 verdict "
    "prescribed, so the plan size is independent of vocabulary. A "
    "top-V cap (two_phase_rank by corpus frequency, V=65536 >> any "
    "fixture vocab so output is bit-identical to the uncapped "
    "oracle) bounds the broadcast at crawl scale; capped-out tokens "
    "fall to the per-class unseen default — the OOV bucket of "
    "production lang-id. Scoring is a pure JVM fold per doc "
    "(F.aggregate over the token array + try_element_at map lookup "
    "+ F.get class indexing — no explode, no per-doc aggregation "
    "state). Entirely STATELESS append mode: no state store, no "
    "watermark, per-row latency. Argmax via array_min over (neg "
    "rounded score, class) structs — same rounded-score/class-asc "
    "tie rule as the batch twin. At 100 TB/day this is a "
    "zero-shuffle map stage scaling horizontally, the exact shape "
    "of fastText-style quality/language filters in LLM ingest "
    "pipelines",
)
def q_streaming_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    # no _stream_session here (r12): the scored stream is STATELESS
    # (stream-static join + projection, append mode — no state stores),
    # and the model-training aggregations behind the static side want
    # the full session parallelism.
    out = _nb_scored_stream(spark, sf_dir)
    return run_append(spark, out)


def _nb_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-row static naive-Bayes model frame, built fully relationally.

    Columns: ``nb_model`` map<tok, array<double>> (per-class Laplace
    log-probs, class-sorted), ``classes``/``priors``/``dflts`` arrays,
    ``one`` join key. No ``.collect()`` anywhere: the single-row fold
    (map_from_entries over collect_list) runs ON AN EXECUTOR and is
    bounded by the top-V vocabulary cap, so neither the driver heap
    nor the serialized plan grows with the corpus."""
    from kafka_streams_homework_spark.functions import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(tokens("text")).alias("tok"))
    # ONE corpus pass: tc feeds class totals, the vocab cap, and the
    # grid join. tracked_checkpoint, not persist (r11): the 4-way
    # referenced cached subtree was re-canonicalized per reference at
    # planning time and AQE's concurrent leaf stages raced on the
    # unbuilt cache (~60 s duplicated task time inside the streaming
    # twin's query-start job); a LogicalRDD leaf plans flat and
    # materializes once.
    tc = tracked_checkpoint(
        toks.groupBy("tok", F.col("lang").alias("cl")).agg(
            F.count(F.lit(1)).alias("c")
        )
    )
    class_tot = tc.groupBy("cl").agg(F.sum("c").alias("tl"))
    tok_tot = tc.groupBy("tok").agg(F.sum("c").alias("ct"))
    vocab_n = tok_tot.agg(F.count(F.lit(1)).alias("v"))
    priors = docs.groupBy(F.col("lang").alias("cl")).agg(
        F.count(F.lit(1)).alias("nd")
    )
    ndocs = priors.agg(F.sum("nd").alias("n"))  # no second docs scan
    cls = (
        priors.join(class_tot, "cl").crossJoin(vocab_n).crossJoin(ndocs)
    )  # k rows: (cl, nd, tl, v, n)
    # top-V frequency cap — FULLY RELATIONAL (ADVICE r9: the previous
    # vocab_n.first() was a driver-side action at plan-construction
    # time, eagerly running the corpus pass and violating the
    # zero-driver-actions invariant). two_phase_rank is always in the
    # plan; the rk <= V filter is a no-op when vocab < V, so fixture
    # output stays bit-identical to the uncapped oracle while the
    # broadcast stays bounded at crawl scale (OOV bucket).
    kept = (
        R.two_phase_rank(
            tok_tot,
            [F.col("ct").desc(), F.col("tok").asc()],
            -F.col("ct"),
            "rk",
        )
        .filter(F.col("rk") <= NB_TOP_V)
        .select("tok")
    )
    full = kept.crossJoin(F.broadcast(cls)).join(
        tc.select(
            F.col("tok").alias("t2"), F.col("cl").alias("c2"), "c"
        ),
        (F.col("tok") == F.col("t2")) & (F.col("cl") == F.col("c2")),
        "left",
    )
    logp = F.log(
        (F.coalesce(F.col("c"), F.lit(0)) + 1)
        / (F.col("tl") + F.col("v")).cast("double")
    )
    tok_entries = full.select("tok", "cl", logp.alias("lp")).groupBy(
        "tok"
    ).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("cl", "lp"))),
            lambda s: s["lp"],
        ).alias("lps")
    )
    cls_row = (
        cls.select(
            "cl",
            F.log(F.col("nd").cast("double") / F.col("n")).alias("pr"),
            F.log(
                F.lit(1.0) / (F.col("tl") + F.col("v")).cast("double")
            ).alias("df"),
        )
        .agg(
            F.array_sort(F.collect_list(F.struct("cl", "pr", "df"))).alias(
                "cs"
            )
        )
        .select(
            F.transform("cs", lambda s: s["cl"]).alias("classes"),
            F.transform("cs", lambda s: s["pr"]).alias("priors"),
            F.transform("cs", lambda s: s["df"]).alias("dflts"),
        )
    )
    return (
        tok_entries.agg(
            F.map_from_entries(
                F.collect_list(F.struct("tok", "lps"))
            ).alias("nb_model")
        )
        .crossJoin(cls_row)
        .withColumn("one", F.lit(1))
    )


def _nb_scored_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-sink streaming plan: stream-static broadcast join of the doc
    stream with the one-row model, then a per-class JVM fold (exposed
    separately so the plan-contract test can assert the broadcast join
    and the absence of vocabulary-sized plan literals)."""
    from kafka_streams_homework_spark.functions import tokens

    # persist the one-row model: the static side of a stream-static
    # join is re-evaluated per micro-batch (and again for the
    # broadcast), and the training plan behind it is multi-stage —
    # cache it so every evaluation after the first reads one row
    model = tracked_persist(_nb_model(spark, sf_dir))
    stream = _table_stream(spark, sf_dir, "documents").withColumn("one", F.lit(1))
    joined = stream.join(F.broadcast(model), "one")
    tk = tokens("text")

    # ONE fold over the token array, accumulating the k-class score
    # VECTOR (init = priors, each step adds the token's per-class
    # log-prob vector, default vector for unseen tokens) — one map
    # lookup per token instead of one per (token, class)
    scores = F.aggregate(
        tk,
        F.col("priors"),
        lambda acc, t: F.zip_with(
            acc,
            F.coalesce(
                F.try_element_at(F.col("nb_model"), t), F.col("dflts")
            ),
            lambda a, b: a + b,
        ),
    )
    best = F.array_min(
        F.zip_with(
            scores,
            F.col("classes"),
            lambda s, c: F.struct(
                (-F.round(s + F.lit(1e-9), 6)).alias("ns"),
                c.alias("cl"),
            ),
        )
    )
    return joined.select(
        "doc_id",
        best["cl"].alias("pred_lang"),
        (-best["ns"]).alias("log_posterior"),
        (best["cl"] == F.col("lang")).alias("is_correct"),
    )


@register(
    "streaming_anomaly_zscore",
    # same oracle as the batch anomaly_zscore twin (streaming/batch
    # parity: same stats table, same rows)
    oracle="""
        WITH s AS (
            SELECT event_type, avg(value) AS mu, stddev(value) AS sigma
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type, e.value,
               round((e.value - mu) / sigma, 6) AS z
        FROM events e JOIN s USING (event_type)
        WHERE abs(round((e.value - mu) / sigma, 6)) > 3
    """,
    description="Flag z-score outliers AT INGEST — the monitoring leg "
    "of the ingest family (gate: streaming_quality_score, classify: "
    "streaming_naive_bayes, drift: streaming_psi_drift): per-type "
    "reference stats are computed batch-side and joined onto the "
    "event stream as a STREAM-STATIC broadcast join (Spark evaluates "
    "the static side per micro-batch against the tiny 5-row stats "
    "table — no collect, no state store), the standardization and "
    "threshold run in whole-stage codegen, append mode emits each "
    "alert exactly once on arrival. Same oracle as the batch twin. "
    "At 100 TB/day: a zero-shuffle map stage with one broadcast",
)
def q_streaming_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    events = _t(spark, sf_dir, "events")
    stats = events.groupBy(F.col("event_type").alias("s_type")).agg(
        F.avg("value").alias("mu"), F.stddev("value").alias("sigma")
    )
    stream = _events_stream(spark, sf_dir)
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6)
    out = (
        stream.join(
            F.broadcast(stats), stream["event_type"] == F.col("s_type")
        )
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 3)
        .select("event_id", "event_type", "value", "z")
    )
    return run_append(spark, out)


@register(
    "streaming_page_hinkley",
    oracle="""
        WITH seq AS (
            SELECT event_type, ts, event_id, value,
                   sum(value) OVER w / count(*) OVER w AS m
            FROM events WHERE value IS NOT NULL
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING)
        ), dev AS (
            SELECT event_type, ts, event_id,
                   sum(value - m - 0.01)
                       OVER (PARTITION BY event_type ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS cum
            FROM seq
        ), ph AS (
            SELECT event_type, ts,
                   cum - min(cum)
                       OVER (PARTITION BY event_type ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS ph
            FROM dev
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(max(ph) + 1e-9, 6) AS max_ph,
               min(CASE WHEN round(ph + 1e-9, 6) > 1000.0 THEN ts END)
                   AS alarm_ts,
               min(CASE WHEN round(ph + 1e-9, 6) > 1000.0 THEN ts END)
                   IS NOT NULL AS drifted
        FROM ph GROUP BY event_type
    """,
    description="ONLINE Page-Hinkley mean-shift detection AT INGEST — "
    "the genuinely sequential form (running mean, single pass, six "
    "scalars of state per group) as CUSTOM STATEFUL streaming state "
    "(applyInPandasWithState), joining streaming_kmv_distinct as the "
    "second U4-escape-hatch proof: where the batch "
    "page_hinkley_drift needs the closed daily grain and the global "
    "series mean (two passes), this maintains m_t = cumsum/n "
    "incrementally and alarms the moment the excursion "
    "cum - min(cum) exceeds the fixed deployment threshold "
    "lambda=1000. The handler adds plain left-to-right Python "
    "floats (no numpy reassociation) in (ts, event_id) order — the "
    "SAME association as the oracle's running windowed sums, so the "
    "final excursion hash-matches. Update semantics; run_upsert "
    "keeps the final readout per type. At 100 TB/day the state is "
    "O(|groups|) scalars",
)
def q_streaming_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.streaming.stateful import (
        page_hinkley_stateful,
    )

    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: one PH state row per type
    stream = _events_stream(qs, sf_dir)
    ph = page_hinkley_stateful(stream, "event_type", "ts", "value")
    emitted = run_upsert(spark, ph, ["g"])
    return emitted.select(
        F.col("g").alias("event_type"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("max_ph") + F.lit(1e-9), 6).alias("max_ph"),
        F.col("alarm_ts"),
        F.col("alarm_ts").isNotNull().alias("drifted"),
    )


@register(
    "streaming_oov_gate",
    oracle="""
        WITH occ AS (
            SELECT unnest(str_split(lower(text), ' ')) AS tok
            FROM documents
        ), tot AS (
            SELECT tok, count(*) AS ct FROM occ GROUP BY tok
        ), kept AS (
            SELECT list(tok) AS vocab FROM (
                SELECT tok FROM (
                    SELECT tok,
                           row_number() OVER (ORDER BY ct DESC, tok ASC)
                               AS rk
                    FROM tot
                ) WHERE rk <= 32
            )
        )
        SELECT d.doc_id,
               CAST(len(str_split(lower(d.text), ' ')) AS BIGINT)
                   AS n_tokens,
               CAST(len(list_filter(str_split(lower(d.text), ' '),
                                    t -> NOT list_contains(k.vocab, t)))
                    AS BIGINT) AS n_oov,
               round(len(list_filter(str_split(lower(d.text), ' '),
                                     t -> NOT list_contains(k.vocab, t)))
                     * 1.0 / len(str_split(lower(d.text), ' '))
                     + 1e-9, 6) AS oov_rate,
               len(list_filter(str_split(lower(d.text), ' '),
                               t -> NOT list_contains(k.vocab, t)))
                   * 2 <= len(str_split(lower(d.text), ' ')) AS keep
        FROM documents d CROSS JOIN kept k
    """,
    description="Per-document OOV gate AT INGEST — the fourth member "
    "of the ingest quartet's coverage leg (gate: "
    "streaming_quality_score, tokenize: streaming_bpe_encode, "
    "classify: streaming_naive_bayes, coverage: this): the top-V "
    "vocabulary (V=32, vocab_oov_rate's two_phase_rank selection) is "
    "built batch-side and reaches the doc stream as a ONE-ROW "
    "broadcast array via a stream-static join; each arriving doc "
    "counts its uncovered token occurrences with a JVM filter over "
    "the bounded array (no explode, no per-doc aggregation state) "
    "and is kept when OOV <= half its tokens — the integer-exact "
    "2*n_oov <= n_tokens comparison, no float threshold. Entirely "
    "STATELESS append mode; at 100 TB/day a zero-shuffle map stage "
    "with one bounded broadcast",
)
def q_streaming_oov_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.functions import tokens

    apply_runtime_confs(spark)
    docs = _t(spark, sf_dir, "documents")
    occ = docs.select(F.explode(tokens("text")).alias("tok"))
    tot = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("ct"))
    kept = (
        R.two_phase_rank(
            tot, [F.col("ct").desc(), F.col("tok").asc()], -F.col("ct"), "rk"
        )
        .filter(F.col("rk") <= 32)
        .agg(F.array_sort(F.collect_list("tok")).alias("vocab"))
        .withColumn("one", F.lit(1))
    )
    stream = _table_stream(spark, sf_dir, "documents").withColumn("one", F.lit(1))
    tk = tokens("text")
    n_oov = F.size(
        F.filter(
            tk, lambda t: ~F.array_contains(F.col("vocab"), t)
        )
    )
    out = stream.join(F.broadcast(kept), "one").select(
        "doc_id",
        F.size(tk).cast("bigint").alias("n_tokens"),
        n_oov.cast("bigint").alias("n_oov"),
        F.round(
            n_oov * F.lit(1.0) / F.size(tk) + F.lit(1e-9), 6
        ).alias("oov_rate"),
        (n_oov * 2 <= F.size(tk)).alias("keep"),
    )
    return run_append(spark, out)


@register(
    "streaming_rate_gate",
    oracle="""
        WITH counted AS (
            SELECT event_id, user_id,
                   count(*) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 86400000000 PRECEDING
                                 AND 1 PRECEDING) AS n_prev
            FROM events
        )
        SELECT event_id, user_id, (n_prev < 3) AS admitted
        FROM counted
    """,
    description="Per-user sliding-window rate gate AT INGEST — the "
    "online twin of batch rate_gate, sharing its oracle (same 24 h / "
    "3-event admission rule, same decisions per event): "
    "applyInPandasWithState in APPEND mode emits one admit/deny row "
    "per event while holding only (microsecond, count) pairs for the "
    "newest distinct micros per key — O(K) state regardless of "
    "per-key volume, decision-exact under same-microsecond ties "
    "(the strict e < t frame edge), vectorized via searchsorted. The "
    "admission-control leg of the ingest battery (quality gate -> "
    "OOV gate -> rate gate), and the third custom-stateful op in the "
    "registry (KMV sketch, Page-Hinkley, rate gate)",
)
def q_streaming_rate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.streaming.stateful import (
        rate_gate_stateful,
    )

    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: K=3 timestamps state per user
    stream = _events_stream(qs, sf_dir)
    out = rate_gate_stateful(stream)
    return run_append(spark, out)


@register(
    "streaming_funnel_steps",
    # Composed from the batch twin's own oracle (the ann_recall_at_k
    # zero-drift pattern): the streaming op must reproduce the exact
    # funnel table funnel_steps defines.
    oracle=None,  # bound after business.py registers funnel_steps (see below)
    description="Greedy ordered funnel AT INGEST — the fourth custom-"
    "stateful op (applyInPandasWithState, update mode) and the "
    "streaming twin of funnel_steps, sharing its oracle: per-user "
    "state is THREE epoch-micro scalars (earliest view, earliest "
    "in-gap click, earliest in-gap purchase — greedy-earliest means a "
    "set step time never changes, so state is O(1) per user at any "
    "volume). Each micro-batch evaluates as a SET (vectorized "
    "per-type mins), so same-microsecond ties within a batch resolve "
    "exactly like the batch SQL min-aggregates; run_upsert keeps the "
    "final per-user position and the read-side fold unpivots to the "
    "(step_idx, step, n_users) funnel table — the product-analytics "
    "readout maintained live instead of recomputed per batch",
)
def q_streaming_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.streaming.stateful import (
        FN_STEPS,
        funnel_stateful,
    )

    apply_runtime_confs(spark)
    qs = _stream_session(spark)  # r12: 3 scalars of state per user
    stream = _events_stream(qs, sf_dir)
    pos = run_upsert(spark, funnel_stateful(stream), ["user_id"])
    counts = pos.agg(
        *[
            F.sum((F.col("reached") >= i).cast("long")).alias(f"n{i}")
            for i in range(1, len(FN_STEPS) + 1)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("bigint").alias("step_idx"),
                F.lit(s).alias("step"),
                F.col(f"n{i + 1}").cast("bigint").alias("n_users"),
            )
            for i, s in enumerate(FN_STEPS)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select("r.*")


ANN_INGEST_CELLS = 8


@register(
    "streaming_ann_ingest",
    oracle=f"""
        WITH a AS (
            SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) - 1 AS cell,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
            FROM embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {ANN_INGEST_CELLS}
        ), e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), s AS (
            SELECT e.vec_id, a.cell,
                   list_inner_product(e.v, a.c)
                   / (sqrt(list_inner_product(e.v, e.v))
                      * sqrt(list_inner_product(a.c, a.c))) AS sim
            FROM e, a
        ), best AS (
            SELECT vec_id, cell, sim,
                   row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY sim DESC, cell ASC) AS rk
            FROM s
        )
        SELECT vec_id, CAST(cell AS INT) AS cell,
               round(sim, 6) AS csim
        FROM best WHERE rk = 1
    """,
    description="Streaming ANN index maintenance — the at-ingest twin "
    "of knn_ivf_indexed's build-time cell assignment (r10 verdict #6, "
    "the last batch/streaming asymmetry in the LLM surface): new "
    "embeddings are assigned to their coarse-quantizer cell AT INGEST "
    "via the broadcast centroid table (stream-static, append mode, "
    "stateless — the per-row argmax runs inside one nested-array "
    "broadcast row, the assign_cells zero-shuffle idiom, so no "
    "streaming aggregation state exists). Centroids here are the "
    "md5-smallest anchor vectors (deterministic and SQL-replayable, "
    "unlike the numpy Lloyd quantizer — which is why this row is "
    "oracle-HASH while knn_ivf_kmeans stays rows-only); pytest pins "
    "parity with the batch assign_cells operator on the same anchor "
    "table. At scale the assignment appends to the cell-partitioned "
    "index (ivf_write_index layout); probes stay partition-pruned",
)
def q_streaming_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    emb = _t(spark, sf_dir, "embeddings")
    anchors = (
        emb.select(
            "vec_id",
            "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(ANN_INGEST_CELLS)
        .collect()
    )
    anchors.sort(key=lambda r: (r.h, r.vec_id))
    nested = [[float(v) for v in r.embedding] for r in anchors]
    cdf = spark.createDataFrame([(nested,)], "cents array<array<double>>")
    sims = F.transform(
        F.col("cents"),
        lambda cent: S.cosine_similarity(
            F.col("embedding").cast("array<double>"), cent
        ),
    )
    out = (
        _table_stream(spark, sf_dir, "embeddings")
        .crossJoin(F.broadcast(cdf))
        .select(
            "vec_id",
            (F.array_position(sims, F.array_max(sims)) - 1)
            .cast("int")
            .alias("cell"),
            F.round(F.array_max(sims), 6).alias("csim"),
        )
    )
    return run_append(spark, out)


@register(
    "streaming_media_resize",
    # same oracle as the batch media_resize twin (per-row stateless
    # transform -> batch-count-independent; streaming/batch parity)
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   greatest(octet_length(encode(text)) % 640, 1) AS w,
                   greatest(octet_length(encode(text)) % 480, 1) AS h
            FROM documents
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
               CAST(floor(w * least(64.0 / greatest(w, h), 1.0)) AS INTEGER) AS thumb_w,
               CAST(floor(h * least(64.0 / greatest(w, h), 1.0)) AS INTEGER) AS thumb_h
        FROM d
    """,
    description="Multimodal preprocessing AT INGEST — the streaming "
    "twin of media_resize and the first streaming x multimodal "
    "registry member (production image pipelines decode/resize at "
    "ingest, not as a batch afterthought): the identical fused "
    "decode-resize mapInPandas stage runs on the documents stream "
    "(stateless — mapInPandas is streaming-legal with zero state), "
    "append collector, batch twin's oracle verbatim. Proves the "
    "engine's Arrow-batched Python escape hatch composes with "
    "Structured Streaming unchanged — same plan shape, same codec "
    "arithmetic, one Python crossing per micro-batch partition",
)
def q_streaming_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    stream = _table_stream(spark, sf_dir, "documents")
    return run_append(spark, M.decode_and_resize(M.to_media(stream)))


# mirrors sketches.CMS_W/CMS_D/CMS_TOPK (registration-order decoupled;
# parity pinned in tests)
SCMS_W = 512
SCMS_D = 4
SCMS_TOPK = 20


@register(
    "streaming_count_min",
    oracle=f"""
        WITH truec AS (
            SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1
        ), cells AS (
            SELECT j.j AS j,
                   ('0x' || substr(md5(j.j::VARCHAR || ':'
                                       || t.k::VARCHAR), 1, 8))::BIGINT
                       % {SCMS_W} AS col,
                   CAST(sum(t.c) AS BIGINT) AS cnt
            FROM truec t, range(0, {SCMS_D}) AS j(j)
            GROUP BY 1, 2
        ), cand AS (
            SELECT k, c FROM truec
            ORDER BY c DESC, k ASC LIMIT {SCMS_TOPK}
        ), est AS (
            SELECT cand.k, cand.c, min(cells.cnt) AS est
            FROM cand, range(0, {SCMS_D}) AS j(j)
            JOIN cells ON cells.j = j.j
             AND cells.col = ('0x' || substr(md5(j.j::VARCHAR || ':'
                                  || cand.k::VARCHAR), 1, 8))::BIGINT
                                  % {SCMS_W}
            GROUP BY cand.k, cand.c
        )
        SELECT k AS user_id, c AS true_cnt,
               CAST(est AS BIGINT) AS cms_est,
               CAST(est - c AS BIGINT) AS overest
        FROM est
    """,
    description="Count-Min sketch MAINTAINED AT INGEST — the "
    "streaming twin of count_min_sketch and the sketch-family member "
    "of the streaming-ingest surface (streaming_kmv_distinct "
    "pattern): each arriving event fans out to its 4 md5 row-cells "
    "via a broadcast stream-static join (stateless, engine-portable "
    "hashes), the streaming aggregation state IS the 4x512 counter "
    "matrix (2048 mergeable cells — bounded state at any volume, the "
    "same matrix a second cluster's sketch would merge into "
    "cell-wise), and the top-20 user estimates are read off the "
    "emitted cells downstream with the one-sided error audited "
    "against exact counts. Update mode via run_upsert keyed "
    "(j, col); the oracle replays the identical arithmetic in batch "
    "SQL, so the row is oracle-HASH like its batch twin",
)
def q_streaming_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    # _stream_session (r12): state here is the 2048-cell counter
    # matrix — a few state-store instances are ample; see _shared.py
    # rationale
    qs = _stream_session(spark)
    stream = _events_stream(qs, sf_dir)
    js = qs.createDataFrame(
        [(i,) for i in range(SCMS_D)], "j int"
    )

    def col_expr(key):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("j").cast("string"),
                            F.lit(":"),
                            key.cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % SCMS_W
        )

    cells_stream = (
        stream.select("user_id")
        .crossJoin(F.broadcast(js))
        .groupBy("j", col_expr(F.col("user_id")).alias("col"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    cells = run_upsert(spark, cells_stream, key_cols=["j", "col"])
    ev = _t(spark, sf_dir, "events")
    truec = ev.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wtop = Window.orderBy(F.col("c").desc(), F.col("k").asc())
    cand = (
        truec.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= SCMS_TOPK)
        .drop("rk")
    )
    est = (
        cand.crossJoin(F.broadcast(js))
        .withColumn("col", col_expr(F.col("k")))
        .join(F.broadcast(cells), ["j", "col"])
        .groupBy("k", "c")
        .agg(F.min("cnt").cast("bigint").alias("est"))
    )
    return est.select(
        F.col("k").alias("user_id"),
        F.col("c").alias("true_cnt"),
        F.col("est").alias("cms_est"),
        (F.col("est") - F.col("c")).cast("bigint").alias("overest"),
    )
