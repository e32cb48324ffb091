"""Resampling, smoothing, forecasting, sequential metrics.

Split from the original monolithic queries.py (r5 verdict task 5);
registration side effects populate the shared REGISTRY, and the
package __init__ fixes the driver-window order, so module
membership is organization only — zero semantic change.
"""
# ruff: noqa: F403, F405
from __future__ import annotations
from kafka_streams_homework_spark.queries._shared import *  # noqa



@register(
    "timeseries_resample",
    oracle="""
        WITH obs AS (
            SELECT event_type AS k, date_trunc('minute', ts) AS bucket,
                   avg(value) AS v
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ), grid AS (
            SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 MINUTE))
                       AS bucket
            FROM (SELECT k, min(bucket) AS lo, max(bucket) AS hi
                  FROM obs GROUP BY k)
        ), j AS (
            SELECT g.k, g.bucket, o.v
            FROM grid g LEFT JOIN obs o USING (k, bucket)
        ), w AS (
            SELECT k, bucket, v,
                last_value(v IGNORE NULLS) OVER (
                    PARTITION BY k ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                last_value(CASE WHEN v IS NOT NULL THEN bucket END
                           IGNORE NULLS) OVER (
                    PARTITION BY k ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
                first_value(v IGNORE NULLS) OVER (
                    PARTITION BY k ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                first_value(CASE WHEN v IS NOT NULL THEN bucket END
                            IGNORE NULLS) OVER (
                    PARTITION BY k ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
            FROM j
        )
        SELECT k AS event_type, bucket,
               round((CASE WHEN v IS NOT NULL THEN v
                      ELSE pv + (nv - pv)
                           * ((epoch(bucket) - epoch(pt))
                              / (epoch(nt) - epoch(pt))) END) + 1e-9,
                     6) AS value_filled,
               v IS NULL AS filled
        FROM w
    """,
    description="Hypertable-style resample + gap fill: per-series dense "
    "1-minute grid (sequence/generate_series between observed min/max) "
    "with linear interpolation of empty slots — timescaledb "
    "time_bucket_gapfill + interpolate as one declarative plan; grid "
    "size independent of input row count",
)
def q_timeseries_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return R.resample_gapfill(events)


@register(
    "activity_streaks",
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
    description="Gaps-and-islands: maximal consecutive-active-day "
    "streaks per user via the row_number anchor trick — no self-join, "
    "no calendar materialization; two key-partitioned shuffles "
    "(distinct days, island groupBy), window state bounded by the "
    "calendar not the event volume",
)
def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return R.activity_streaks(events, "user_id", "ts", min_len=2)


@register(
    "rolling_anomaly",
    oracle="""
        WITH w AS (
            SELECT event_type, ts, event_id, value,
                   count(value) OVER f AS n_prior,
                   sum(value) OVER f AS s,
                   sum(value * value) OVER f AS sq
            FROM events
            WINDOW f AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, ts, event_id, value, n_prior,
               CASE WHEN n_prior >= 5
                    THEN round(s / n_prior + 1e-9, 6) END AS roll_mean,
               CASE WHEN n_prior >= 5 AND
                         sqrt(greatest((sq - (s * s) / n_prior)
                                       / (n_prior - 1), 0.0)) > 0
                    THEN round((value - s / n_prior)
                               / sqrt(greatest((sq - (s * s) / n_prior)
                                              / (n_prior - 1), 0.0))
                               + 1e-9, 6) END AS zscore,
               coalesce(abs(round((value - s / n_prior)
                               / sqrt(greatest((sq - (s * s) / n_prior)
                                              / (n_prior - 1), 0.0))
                               + 1e-9, 6)) > 3.0
                        AND n_prior >= 5
                        AND sqrt(greatest((sq - (s * s) / n_prior)
                                          / (n_prior - 1), 0.0)) > 0,
                        false) AS is_anomaly
        FROM w
    """,
    description="Rolling z-score anomaly flags: each event scored "
    "against mean/stddev of its trailing 20 PRIOR observations per "
    "type (no self-masking) — the complement of the global-stats "
    "anomaly_zscore; variance spelled as explicit window sums with "
    "the identical algebraic form on both engines, one key-partitioned "
    "window pass with O(lookback) state",
)
def q_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return R.rolling_zscore(events, "event_type", "ts", "value", "event_id")


def _ewma_oracle(alpha: float = 0.5, lookback: int = 8) -> str:
    terms_n, terms_d = [], []
    for j in range(lookback):
        wt = repr((1.0 - alpha) ** j)
        lagv = "value" if j == 0 else f"lag(value, {j}) OVER f"
        terms_n.append(f"CASE WHEN {lagv} IS NOT NULL THEN {wt} * ({lagv}) ELSE 0.0 END")
        terms_d.append(f"CASE WHEN {lagv} IS NOT NULL THEN {wt} ELSE 0.0 END")
    num = " + ".join(["0.0"] + terms_n)
    den = " + ".join(["0.0"] + terms_d)
    return f"""
        SELECT event_type, ts, event_id, value,
               round(({num}) / ({den}) + 1e-9, 6) AS ewma
        FROM events
        WINDOW f AS (PARTITION BY event_type ORDER BY ts, event_id)
    """


@register(
    "ewma_smooth",
    oracle=_ewma_oracle(),
    description="Truncated EWMA smoothing (alpha=0.5, 8 taps, <0.4% "
    "dropped tail): the unbounded recurrence recast as a literal lag "
    "polynomial evaluated left-to-right identically on both engines — "
    "bit-reproducible, O(1) window state, one key-partitioned sort "
    "pass shared by all taps",
)
def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return R.ewma_smooth(events, "event_type", "ts", "value", "event_id")


@register(
    "holt_forecast",
    oracle="""
        WITH RECURSIVE d0 AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   round(avg(value) + 1e-9, 6) AS y
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ), d AS (
            SELECT event_type, day, y,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY day) AS i
            FROM d0
        ), init AS (
            SELECT a.event_type, a.day, a.i, a.y,
                   a.y AS l, b.y - a.y AS b
            FROM d a JOIN d b ON b.event_type = a.event_type AND b.i = 2
            WHERE a.i = 1
        ), h(event_type, day, i, y, l, b) AS (
            SELECT event_type, day, i, y, l, b FROM init
            UNION ALL
            SELECT d.event_type, d.day, d.i, d.y,
                   0.5 * d.y + 0.5 * (h.l + h.b),
                   0.5 * ((0.5 * d.y + 0.5 * (h.l + h.b)) - h.l)
                       + 0.5 * h.b
            FROM h JOIN d ON d.event_type = h.event_type
                         AND d.i = h.i + 1
        )
        SELECT event_type, day,
               round(l + 1e-9, 6) AS level,
               round(b + 1e-9, 6) AS trend,
               round(l + b + 1e-9, 6) AS forecast_next
        FROM h
    """,
    description="Holt double exponential smoothing (alpha=beta=0.5) "
    "per series on the daily aggregate: a NON-associative coupled "
    "recurrence no window/scan expresses — the canonical grouped "
    "applyInPandas escape (one Arrow crossing per series, state "
    "bounded by the calendar; the data-sized aggregation stays JVM). "
    "Inputs pre-rounded and float expressions ordered identically to "
    "the recursive-CTE oracle, so the whole trajectory is "
    "bit-reproducible cross-engine — the exactness standard for "
    "escape-hatch operators",
)
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.round(F.avg("value") + F.lit(1e-9), 6).alias("y"))
    )
    out = R.holt_smooth(daily, "event_type", "day", "y", 0.5, 0.5)
    return out.select(
        "event_type",
        "day",
        F.round(F.col("level") + F.lit(1e-9), 6).alias("level"),
        F.round(F.col("trend") + F.lit(1e-9), 6).alias("trend"),
        F.round(F.col("forecast_next") + F.lit(1e-9), 6).alias(
            "forecast_next"
        ),
    )


@register(
    "acf_lags",
    oracle="""
        WITH d0 AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   round(avg(value) + 1e-9, 6) AS y
            FROM events WHERE value IS NOT NULL GROUP BY 1
        ), d AS (
            SELECT y, row_number() OVER (ORDER BY day) AS i FROM d0
        ), mm AS (
            SELECT count(*) AS n,
                   sum(CAST(y AS DECIMAL(18,6)))::DOUBLE / count(*)
                       AS mean
            FROM d
        ), m AS (
            SELECT mm.n, mm.mean,
                   sum((d.y - mm.mean) * (d.y - mm.mean)) AS denom
            FROM d, mm GROUP BY mm.n, mm.mean
        ), lags AS (
            SELECT CAST(k AS BIGINT) AS lag FROM range(1, 8) t(k)
        ), num AS (
            SELECT lags.lag,
                   count(*) AS n_terms,
                   sum((a.y - m.mean) * (b.y - m.mean)) AS s
            FROM lags
            JOIN d a ON TRUE
            JOIN d b ON b.i = a.i + lags.lag, m
            GROUP BY lags.lag
        )
        SELECT num.lag, CAST(num.n_terms AS BIGINT) AS n_terms,
               round(num.s / m.denom + 1e-9, 6) AS acf
        FROM num, m
        ORDER BY num.lag
    """,
    description="Autocorrelation function of the daily mean-value "
    "series at lags 1-7 (the seasonality/persistence diagnostic next "
    "to seasonality_profile and holt_forecast): the corpus collapses "
    "to the calendar-bounded daily aggregate first (same pre-rounded "
    "series as holt_forecast), the series mean accumulates in DECIMAL "
    "(exact), and each lag's covariance is a self-join on the "
    "row-number index — 30 x 7 term pairs, all post-aggregate. The "
    "centered products sum over <=30 doubles, well inside the 1e-9 "
    "nudge",
)
def q_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    # persist the CALENDAR-BOUNDED daily series: mean/denominator/lag
    # branches all reference it, and unpersisted each re-scanned the
    # full corpus (r8 verdict audit: 10 shuffles -> the one daily
    # aggregate pass + bounded follow-ups over ~30 cached rows)
    d = tracked_persist(
        events.filter(F.col("value").isNotNull())
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.round(F.avg("value") + F.lit(1e-9), 6).alias("y"))
        .select("y", F.row_number().over(Window.orderBy("day")).alias("i"))
    )
    m = d.agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("y").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean"),
    )
    dm = d.crossJoin(F.broadcast(m))
    denom = dm.agg(
        F.sum(
            (F.col("y") - F.col("mean")) * (F.col("y") - F.col("mean"))
        ).alias("denom")
    )
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = dm.select("i", "y", "mean")
    b = d.select(
        F.col("i").alias("bi"), F.col("y").alias("by")
    )
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("bi") == F.col("i") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(
                (F.col("y") - F.col("mean")) * (F.col("by") - F.col("mean"))
            ).alias("s"),
        )
    )
    return (
        num.crossJoin(F.broadcast(denom))
        .select(
            "lag",
            F.col("n_terms").cast("bigint").alias("n_terms"),
            F.round(F.col("s") / F.col("denom") + F.lit(1e-9), 6).alias(
                "acf"
            ),
        )
        .orderBy("lag")
    )


@register(
    "dtw_distance",
    oracle="""
        WITH RECURSIVE d0 AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   round(avg(value) + 1e-9, 6) AS y
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ), srt AS (
            SELECT event_type, list(y ORDER BY day) AS ys
            FROM d0 GROUP BY 1
        ), pr AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   a.ys AS xs, b.ys AS ys,
                   len(a.ys) AS n, len(b.ys) AS m
            FROM srt a JOIN srt b ON a.event_type < b.event_type
        ), dp(type_a, type_b, xs, ys, n, m, i, j, prev, curp) AS (
            SELECT type_a, type_b, xs, ys, n, m, 1, 1,
                   CAST([] AS DOUBLE[]), [abs(xs[1] - ys[1])]
            FROM pr
            UNION ALL
            SELECT type_a, type_b, xs, ys, n, m,
                   CASE WHEN j < m THEN i ELSE i + 1 END,
                   CASE WHEN j < m THEN j + 1 ELSE 1 END,
                   CASE WHEN j < m THEN prev ELSE curp END,
                   list_append(
                       CASE WHEN j < m THEN curp
                            ELSE CAST([] AS DOUBLE[]) END,
                       abs(xs[CASE WHEN j < m THEN i ELSE i + 1 END]
                           - ys[CASE WHEN j < m THEN j + 1 ELSE 1 END])
                       + least(
                           coalesce(
                               (CASE WHEN j < m THEN prev ELSE curp END)
                               [CASE WHEN j < m THEN j + 1 ELSE 1 END],
                               1e308),
                           CASE WHEN j < m
                                THEN coalesce(prev[j], 1e308)
                                ELSE 1e308 END,
                           CASE WHEN j < m
                                THEN coalesce(curp[j], 1e308)
                                ELSE 1e308 END))
            FROM dp WHERE NOT (i = n AND j = m)
        )
        SELECT type_a, type_b,
               CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
               round(curp[m] + 1e-9, 6) AS dtw,
               round(curp[m] / (n + m) + 1e-9, 6) AS dtw_per_step
        FROM dp WHERE i = n AND j = m
    """,
    description="Dynamic-time-warping distance between every pair of "
    "event-type daily series (L1 cost): the shape-similarity measure "
    "for series that drift out of phase, where ks_test/acf see only "
    "marginals. A 2-D non-associative DP -> the mapInPandas escape "
    "hatch on the PAIRED array table (corpus collapses to one "
    "calendar-bounded array per series first; each pair is one O(n*m) "
    "loop over two 30-point arrays). The oracle replays the identical "
    "DP as a cell-stepping recursive CTE carrying (prev row, current "
    "row prefix) as lists — every dp cell is parent + cost in the "
    "same order, so distances are bit-reproducible cross-engine "
    "(holt_forecast's exactness standard, extended to 2-D recurrences)",
)
def q_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.round(F.avg("value") + F.lit(1e-9), 6).alias("y"))
    )
    srt = (
        daily.groupBy("event_type")
        .agg(
            F.array_sort(F.collect_list(F.struct("day", "y"))).alias("s")
        )
        .select("event_type", F.col("s.y").alias("ys"))
    )
    out = R.dtw_pairs(srt, "event_type", "ys")
    return out.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        F.round(F.col("dtw") + F.lit(1e-9), 6).alias("dtw"),
        F.round(
            F.col("dtw") / (F.col("n_a") + F.col("n_b")) + F.lit(1e-9), 6
        ).alias("dtw_per_step"),
    )


@register(
    "decayed_leaderboard",
    oracle="""
        WITH b AS (
            SELECT epoch(date_trunc('second', max(ts))) AS tmax
            FROM events
        ), s AS (
            SELECT user_id,
                   count(*) AS n_events,
                   round(sum(exp(-0.099021025794278
                                 * (b.tmax
                                    - epoch(date_trunc('second', ts)))
                                 / 86400.0)) + 1e-9, 6) AS decayed_score
            FROM events, b GROUP BY user_id, b.tmax
        )
        SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
               decayed_score, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY decayed_score DESC, user_id) AS rank
            FROM s
        ) WHERE rank <= 20
    """,
    description="Exponentially time-decayed activity leaderboard "
    "(7-day half-life, lambda = ln2/7 as a shared literal): each "
    "event contributes exp(-lambda * age_days) against the corpus "
    "max-timestamp anchor, so recent activity dominates without any "
    "window cutoff — the freshness-weighted ranking a trending/"
    "engagement surface runs. Timestamps floor to whole seconds on "
    "both engines (nanos-vs-epoch parity), the per-user sum is one "
    "partial-aggregable pass, and the top-20 cut ranks the ROUNDED "
    "score with user_id ties — TakeOrdered, no global sort",
)
def q_decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    b = events.agg(
        F.unix_timestamp(F.date_trunc("second", F.max("ts"))).alias("tmax")
    )
    s = (
        events.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(
                    F.exp(
                        F.lit(-0.099021025794278)
                        * (
                            F.col("tmax")
                            - F.unix_timestamp(
                                F.date_trunc("second", F.col("ts"))
                            )
                        )
                        / F.lit(86400.0)
                    )
                )
                + F.lit(1e-9),
                6,
            ).alias("decayed_score"),
        )
    )
    # Top-20 via TakeOrderedAndProject (orderBy + limit = per-partition
    # top-k + driver merge), NOT a global row_number window over all
    # users (VERDICT r5). rank derives from a window over the ≤20-row
    # result only — bounded by construction.
    top = s.orderBy(F.col("decayed_score").desc(), "user_id").limit(20)
    w = Window.orderBy(F.col("decayed_score").desc(), "user_id")
    return top.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        "decayed_score",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


@register(
    "period_over_period",
    oracle="""
        WITH w AS (
            SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
                   round(sum(o_totalprice), 2) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY 1
        )
        SELECT week, revenue, n_orders,
               round((revenue - lag(revenue) OVER (ORDER BY week))
                     / lag(revenue) OVER (ORDER BY week) + 1e-9,
                     6) AS wow_growth
        FROM w
    """,
    description="Period-over-period trend: weekly revenue with "
    "week-over-week growth — one date_trunc groupBy (partial-agg) "
    "then a lag window over the ~hundreds of week rows (single tiny "
    "partition AFTER aggregation — the corpus itself never enters a "
    "global sort); revenue rounded to cents before the ratio so both "
    "engines difference identical values",
)
def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.date_trunc("week", "o_orderdate").cast("date").alias("week")
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    w = Window.orderBy("week")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week",
        "revenue",
        "n_orders",
        F.round((F.col("revenue") - prev) / prev + F.lit(1e-9), 6).alias(
            "wow_growth"
        ),
    )


@register(
    "ohlc_bars",
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
    description="OHLC candlestick bars per (series, hour): open/close "
    "via deterministic (ts, event_id)-ordered row_number — never an "
    "unordered first()/arg_min tie — high/low/count/volume in the "
    "same single groupBy. Two window sorts + one partial-agg shuffle, "
    "all keyed on (series, bucket); the financial-rollup shape for "
    "hypertable tick stores",
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", "ts")
    wa = Window.partitionBy("event_type", bucket).orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wd = Window.partitionBy("event_type", bucket).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    b = events.select(
        "event_type",
        "value",
        bucket.alias("bucket"),
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return b.groupBy("event_type", "bucket").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        F.round(F.sum("value"), 2).alias("volume"),
    )


@register(
    "time_weighted_avg",
    oracle="""
        WITH s AS (
            SELECT event_type, value,
                   epoch(ts) AS t,
                   lead(epoch(ts)) OVER w AS nt,
                   lead(value) OVER w AS nv
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        )
        SELECT event_type,
               round(sum((nt - t) * ((value + nv) / 2))
                     / (max(t) - min(t)) + 1e-9, 6) AS twa,
               CAST(count(*) AS BIGINT) AS n_obs
        FROM s GROUP BY event_type
    """,
    description="Time-weighted average per series (trapezoidal "
    "integral over irregular samples / observed span) — the "
    "timescaledb time_weight('linear') twin, the correct mean when "
    "sampling is irregular. One lead window pass + one partial-agg "
    "groupBy, both keyed on the series; identical product/sum "
    "association on both engines, round+nudge on the final ratio",
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = F.col("ts").cast("double")
    s = events.select(
        "event_type",
        "value",
        t.alias("t"),
        F.lead(t).over(w).alias("nt"),
        F.lead("value").over(w).alias("nv"),
    )
    return s.groupBy("event_type").agg(
        F.round(
            F.sum(
                (F.col("nt") - F.col("t"))
                * ((F.col("value") + F.col("nv")) / 2)
            )
            / (F.max("t") - F.min("t"))
            + F.lit(1e-9),
            6,
        ).alias("twa"),
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
    )


@register(
    "interarrival_stats",
    oracle="""
        WITH gaps AS (
            SELECT event_type,
                   CAST(date_diff('second',
                        lag(ts) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id), ts)
                        AS DOUBLE) AS gap_s
            FROM events
        )
        SELECT event_type,
               CAST(count(gap_s) AS BIGINT) AS n_gaps,
               round(avg(gap_s) + 1e-9, 4) AS avg_gap_s,
               round(quantile_cont(gap_s, 0.5), 0) AS p50_gap_s,
               round(quantile_cont(gap_s, 0.95), 0) AS p95_gap_s
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY event_type
    """,
    description="Inter-arrival time statistics per event_type (lag "
    "diff in whole seconds, deterministic event_id tiebreak) — the "
    "traffic-model input for capacity planning and the empirical "
    "basis for trigger intervals. One key-partitioned window sort + a "
    "bounded per-type aggregate with exact percentiles (grouped, "
    "bounded; approx_percentile the unbounded handoff)",
)
def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gap = (
        F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ).cast("double")
    gaps = events.select("event_type", gap.alias("gap_s")).filter(
        F.col("gap_s").isNotNull()
    )
    return gaps.groupBy("event_type").agg(
        F.count("gap_s").cast("bigint").alias("n_gaps"),
        F.round(F.avg("gap_s") + F.lit(1e-9), 4).alias("avg_gap_s"),
        F.round(F.expr("percentile(gap_s, 0.5)"), 0).alias("p50_gap_s"),
        F.round(F.expr("percentile(gap_s, 0.95)"), 0).alias("p95_gap_s"),
    )


@register(
    "rolling_active_users",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   user_id
            FROM events
        ), days AS (SELECT DISTINCT day FROM pairs)
        SELECT d.day, CAST(count(DISTINCT p.user_id) AS BIGINT) AS active_7d
        FROM days d JOIN pairs p
          ON p.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        GROUP BY d.day
    """,
    description="Rolling 7-day distinct active users per day — the "
    "DAU/WAU primitive. COUNT(DISTINCT) over a sliding range cannot "
    "ride an incremental window, so the engine dedupes to (day, user) "
    "pairs first (fact volume collapses to at most days×users), "
    "EXPLODES each pair to the ≤7 target days it serves (a bounded "
    "fan-out equi-join — no range join), and distinct-counts per "
    "target day. The oracle is the naive interval join; HLL "
    "(distinct_rollup_hll) is the documented unbounded-id handoff",
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    pairs = events.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    days = pairs.select("day").distinct()
    target = pairs.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day_t"),
        "user_id",
    )
    return (
        target.join(F.broadcast(days), target["day_t"] == days["day"])
        .groupBy(F.col("day_t").alias("day"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_7d"))
        .select(F.col("day").cast("timestamp").alias("day"), "active_7d")
    )


CUSUM_H = 3.0


@register(
    "cusum_changepoints",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   round(sum(value), 2) AS v
            FROM events GROUP BY 1, 2
        ), stats AS (
            SELECT event_type, avg(v) AS mu, stddev_samp(v) AS sigma
            FROM daily GROUP BY event_type
        ), c AS (
            SELECT event_type, day,
                   round(sum((v - mu) / sigma)
                             OVER (PARTITION BY event_type ORDER BY day
                                   ROWS UNBOUNDED PRECEDING)
                         + 1e-9, 4) AS cusum
            FROM daily JOIN stats USING (event_type)
        )
        SELECT event_type, day, cusum,
               abs(cusum) > {CUSUM_H} AS is_changepoint
        FROM c
    """,
    description="CUSUM change-point detection per event_type: daily "
    "totals standardized against the series mean/std, cumulated in an "
    "ORDERED window; |cusum| > h flags a sustained level shift (vs "
    "rolling_anomaly's pointwise spikes). Determinism by "
    "construction: daily sums round to 2dp BEFORE standardization "
    "(collapsing engine-order ulp noise), the cumulative sum runs in "
    "pinned day order on both engines, and the flag applies to the "
    "ROUNDED cusum. Day grid per series is bounded; the corpus "
    "shuffles once on (type, day)",
)
def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("v"))
    stats = daily.groupBy("event_type").agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sigma")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = F.round(
        F.sum((F.col("v") - F.col("mu")) / F.col("sigma")).over(w) + F.lit(1e-9),
        4,
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select("event_type", "day", cusum.alias("cusum"))
        .withColumn("is_changepoint", F.abs(F.col("cusum")) > CUSUM_H)
    )


@register(
    "seasonality_profile",
    oracle="""
        WITH e AS (
            SELECT event_type, dayname(ts) AS dow, value FROM events
        ), dm AS (
            SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n,
                   round(avg(value) + 1e-9, 6) AS seasonal_mean
            FROM e GROUP BY event_type, dow
        ), tm AS (
            SELECT event_type, round(avg(value) + 1e-9, 6) AS type_mean
            FROM e GROUP BY event_type
        ), r AS (
            SELECT e.event_type, e.dow,
                   round(avg(abs(e.value - dm.seasonal_mean)) + 1e-9, 6)
                       AS mean_abs_resid
            FROM e JOIN dm ON e.event_type = dm.event_type
                          AND e.dow = dm.dow
            GROUP BY e.event_type, e.dow
        )
        SELECT dm.event_type, dm.dow, dm.n, dm.seasonal_mean,
               round(dm.seasonal_mean / tm.type_mean + 1e-9, 6)
                   AS seasonal_index,
               r.mean_abs_resid
        FROM dm
        JOIN tm ON dm.event_type = tm.event_type
        JOIN r ON dm.event_type = r.event_type AND dm.dow = r.dow
    """,
    description="Day-of-week seasonality decomposition per event_type: "
    "seasonal means by weekday name (day NAMES, not engine-specific "
    "weekday numbering — Spark dayofweek is 1-based Sunday, DuckDB "
    "0-based), a seasonal index vs the type-level mean, and the "
    "remainder magnitude (mean |value - seasonal_mean|, residuals "
    "taken against the ROUNDED seasonal mean so both engines subtract "
    "the identical constant). The |types| x 7 profile table is "
    "broadcast back onto one corpus scan for the residual pass — "
    "classic seasonal-naive decomposition (trend/seasonal/remainder) "
    "as two bounded aggregates",
)
def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.date_format("ts", "EEEE").alias("dow"), "value"
    )
    dm = ev.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value") + F.lit(1e-9), 6).alias("seasonal_mean"),
    )
    tm = ev.groupBy("event_type").agg(
        F.round(F.avg("value") + F.lit(1e-9), 6).alias("type_mean")
    )
    r = (
        ev.join(F.broadcast(dm.select("event_type", "dow", "seasonal_mean")),
                ["event_type", "dow"])
        .groupBy("event_type", "dow")
        .agg(
            F.round(
                F.avg(F.abs(F.col("value") - F.col("seasonal_mean")))
                + F.lit(1e-9),
                6,
            ).alias("mean_abs_resid")
        )
    )
    return (
        dm.join(F.broadcast(tm), "event_type")
        .join(F.broadcast(r), ["event_type", "dow"])
        .select(
            "event_type",
            "dow",
            "n",
            "seasonal_mean",
            F.round(
                F.col("seasonal_mean") / F.col("type_mean") + F.lit(1e-9), 6
            ).alias("seasonal_index"),
            "mean_abs_resid",
        )
    )


@register(
    "survival_km",
    oracle="""
        WITH u AS (
            SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id
        ), p AS (
            SELECT user_id, min(ts) AS tp FROM events
            WHERE event_type = 'purchase' GROUP BY user_id
        ), lives AS (
            SELECT CASE WHEN h IS NULL OR h > 48 THEN 48 ELSE h END AS t,
                   (h IS NOT NULL AND h <= 48) AS died
            FROM (
                SELECT (epoch(date_trunc('hour', p.tp))::BIGINT
                        - epoch(date_trunc('hour', u.t0))::BIGINT)
                       // 3600 AS h
                FROM u LEFT JOIN p USING (user_id)
            )
        ), g AS (
            SELECT t, count(*) AS n_all,
                   SUM(CASE WHEN died THEN 1 ELSE 0 END) AS deaths
            FROM lives GROUP BY t
        ), k AS (
            SELECT t, deaths,
                   SUM(n_all) OVER (ORDER BY t
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS n_at_risk
            FROM g
        ), s AS (
            SELECT t, deaths, n_at_risk,
                   SUM(CASE WHEN deaths < n_at_risk
                            THEN ln(1.0 - deaths::DOUBLE / n_at_risk)
                            ELSE 0.0 END) OVER (ORDER BY t) AS logsurv
            FROM k
        )
        SELECT CAST(t AS BIGINT) AS t_hours,
               CAST(n_at_risk AS BIGINT) AS n_at_risk,
               CAST(deaths AS BIGINT) AS deaths,
               round(CASE WHEN deaths = n_at_risk THEN 0.0
                          ELSE exp(logsurv) END + 1e-9, 6) AS survival
        FROM s WHERE deaths > 0
    """,
    description="Kaplan-Meier survival estimator: time-to-first-purchase "
    "in hours from each user's first event, right-censored at a 48 h "
    "administrative window (~26% of the fixture cohort censored). "
    "S(t) = prod(1 - d_s/n_s) computed in log space over the ordered "
    "event times; n_at_risk is a suffix window sum (exact integers), "
    "deaths-before-censoring tie convention. Aggregation state is "
    "bounded by the observation window (<=49 rows), not corpus size — "
    "the per-user reduce is the only data-sized stage",
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def hour(c):  # hour-boundary index: trunc-then-epoch, both engines
        return (
            F.unix_timestamp(F.date_trunc("hour", c)) / 3600
        ).cast("long")

    u = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    lives = (
        u.join(p, "user_id", "left")
        .select((hour(F.col("tp")) - hour(F.col("t0"))).alias("h"))
        .select(
            F.when(
                F.col("h").isNull() | (F.col("h") > 48), F.lit(48)
            )
            .otherwise(F.col("h"))
            .alias("t"),
            (F.col("h").isNotNull() & (F.col("h") <= 48)).alias("died"),
        )
    )
    g = lives.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.when(F.col("died"), 1).otherwise(0)).alias("deaths"),
    )
    w_risk = Window.orderBy("t").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    k = g.select(
        "t", "deaths", F.sum("n_all").over(w_risk).alias("n_at_risk")
    )
    # deaths == n_at_risk (total extinction — only possible at the max
    # event time) would put ln(0) in the cumsum: Spark returns NULL
    # there while DuckDB returns -inf, so both sides special-case the
    # factor to 0 and emit survival 0 directly.
    s = k.withColumn(
        "logsurv",
        F.sum(
            F.when(
                F.col("deaths") < F.col("n_at_risk"),
                F.log(F.lit(1.0) - F.col("deaths") / F.col("n_at_risk")),
            ).otherwise(F.lit(0.0))
        ).over(w_cum),
    )
    surv = F.when(
        F.col("deaths") == F.col("n_at_risk"), F.lit(0.0)
    ).otherwise(F.exp("logsurv"))
    return s.filter(F.col("deaths") > 0).select(
        F.col("t").cast("long").alias("t_hours"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("deaths").cast("long").alias("deaths"),
        F.round(surv + F.lit(1e-9), 6).alias("survival"),
    )


@register(
    "trend_seasonal_decompose",
    oracle="""
        WITH d AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP)
                       AS day,
                   SUM(CAST(value AS DECIMAL(18,4))) AS day_total
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ), w AS (
            SELECT event_type, day, day_total,
                   SUM(day_total) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                       AS trend_sum,
                   COUNT(*) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw
            FROM d
        ), f AS (
            SELECT * FROM w WHERE nw = 7
        ), s AS (
            SELECT event_type, dayname(day) AS dow,
                   SUM(7 * day_total - trend_sum) AS s7,
                   COUNT(*) AS n
            FROM f GROUP BY 1, 2
        )
        SELECT f.event_type, f.day,
               round(CAST(f.day_total AS DOUBLE) + 1e-9, 6) AS day_total,
               round(CAST(f.trend_sum AS DOUBLE) / 7.0 + 1e-9, 6) AS trend,
               round(CAST(s.s7 AS DOUBLE) / (7.0 * s.n) + 1e-9, 6)
                   AS seasonal,
               round((CAST(f.day_total AS DOUBLE)
                      - CAST(f.trend_sum AS DOUBLE) / 7.0)
                     - CAST(s.s7 AS DOUBLE) / (7.0 * s.n) + 1e-9, 6)
                   AS resid
        FROM f JOIN s ON f.event_type = s.event_type
                     AND dayname(f.day) = s.dow
    """,
    description="STL-lite additive decomposition of the daily revenue "
    "series per event_type: trend = centered 7-day moving average "
    "(full windows only), weekly seasonal = day-of-week mean of the "
    "detrended series, residual = observed - trend - seasonal. The "
    "cross-engine trick is LINEARITY: everything accumulates in "
    "DECIMAL x7 fixed point (detrended7 = 7*day_total - trend_sum — "
    "exact, no float sum order anywhere); the only doubles are the "
    "final three divisions of exact decimals, identical single IEEE "
    "ops both engines. One groupBy + one window + one bounded "
    "(|types| x 7) seasonal table broadcast back — the classic "
    "decomposition at corpus scale without a single UDF",
)
def q_trend_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("day_total"))
    win = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    f = (
        d.select(
            "event_type",
            "day",
            "day_total",
            F.sum("day_total").over(win).alias("trend_sum"),
            F.count(F.lit(1)).over(win).alias("nw"),
        )
        .filter(F.col("nw") == 7)
        .drop("nw")
    )
    f = tracked_persist(f)
    s = f.groupBy(
        "event_type", F.date_format("day", "EEEE").alias("dow")
    ).agg(
        F.sum(F.lit(7) * F.col("day_total") - F.col("trend_sum")).alias("s7"),
        F.count(F.lit(1)).alias("n"),
    )
    day_d = F.col("day_total").cast("double")
    trend = F.col("trend_sum").cast("double") / F.lit(7.0)
    seasonal = F.col("s7").cast("double") / (F.lit(7.0) * F.col("n"))
    return (
        f.withColumn("dow", F.date_format("day", "EEEE"))
        .join(F.broadcast(s), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            F.round(day_d + F.lit(1e-9), 6).alias("day_total"),
            F.round(trend + F.lit(1e-9), 6).alias("trend"),
            F.round(seasonal + F.lit(1e-9), 6).alias("seasonal"),
            F.round((day_d - trend) - seasonal + F.lit(1e-9), 6).alias(
                "resid"
            ),
        )
    )


@register(
    "ratio_metric_delta",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   ('0x' || substr(md5('rm:' || user_id::VARCHAR),
                                   1, 8))::BIGINT % 2 AS grp,
                   COALESCE(SUM(CAST(value AS DECIMAL(18,4))),
                            CAST(0 AS DECIMAL(18,4))) AS x,
                   COUNT(*) AS y
            FROM events GROUP BY 1, 2
        ), g AS (
            SELECT grp, COUNT(*) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx,
                   SUM(CAST(y AS DECIMAL(18,0))
                       * CAST(y AS DECIMAL(18,0))) AS syy,
                   SUM(x * CAST(y AS DECIMAL(18,0))) AS sxy
            FROM u GROUP BY 1
        ), d AS (
            SELECT grp, n,
                   CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                   CAST(n * sxx - sx * sx AS DOUBLE) AS a,
                   CAST(n * syy - sy * sy AS DOUBLE) AS b,
                   CAST(n * sxy - sx * sy AS DOUBLE) AS c
            FROM g
        ), v AS (
            SELECT grp, CAST(n AS BIGINT) AS n_users,
                   sxd / syd AS r,
                   ((a - 2.0 * (sxd / syd) * c)
                    + ((sxd / syd) * (sxd / syd)) * b) * n
                   / (((n - 1.0) * syd) * syd) AS var_r
            FROM d
        )
        SELECT a.n_users AS n_a, b.n_users AS n_b,
               round(a.r + 1e-9, 6) AS ratio_a,
               round(b.r + 1e-9, 6) AS ratio_b,
               round((a.r - b.r) + 1e-9, 6) AS diff,
               round(sqrt(a.var_r + b.var_r) + 1e-9, 6) AS se_diff,
               round((a.r - b.r) / sqrt(a.var_r + b.var_r) + 1e-9, 6) AS z
        FROM (SELECT * FROM v WHERE grp = 0) a,
             (SELECT * FROM v WHERE grp = 1) b
    """,
    description="Delta-method A/B readout for a RATIO metric (revenue "
    "per event, unit of randomization = user, so naive Bernoulli "
    "variance is wrong): per-group ratio sum(x)/sum(y), "
    "linearized variance (Var x - 2R Cov + R^2 Var y)/(n Ybar^2), "
    "z for the difference. Cross-engine exactness by the n^2 "
    "fixed-point trick: A = n*Sxx - Sx^2, B, C accumulate entirely "
    "in DECIMAL (no float sum order anywhere — the same linearity "
    "discipline as cuped_adjustment); doubles appear only in the "
    "final identical-association expression. Two-level agg (user "
    "rollup, then |groups| rows) — one shuffle on user_id, one on "
    "the 2-row group key; the md5 coin is the engine-portable bucket "
    "assignment",
)
def q_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    grp = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rm:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = ev.groupBy("user_id", grp.alias("grp")).agg(
        F.coalesce(
            F.sum(F.col("value").cast("decimal(18,4)")),
            F.lit(0).cast("decimal(18,4)"),
        ).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    yd = F.col("y").cast("decimal(18,0)")
    g = u.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(F.col("x") * yd).alias("sxy"),
    )
    d = g.select(
        "grp",
        "n",
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("a"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("b"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        .alias("c"),
    )
    r = F.col("sxd") / F.col("syd")
    var_r = (
        ((F.col("a") - F.lit(2.0) * r * F.col("c")) + (r * r) * F.col("b"))
        * F.col("n")
        / (((F.col("n") - F.lit(1.0)) * F.col("syd")) * F.col("syd"))
    )
    v = d.select(
        "grp",
        F.col("n").cast("bigint").alias("n_users"),
        r.alias("r"),
        var_r.alias("var_r"),
    )
    a = v.filter(F.col("grp") == 0).select(
        F.col("n_users").alias("n_a"),
        F.col("r").alias("ra"),
        F.col("var_r").alias("va"),
    )
    b = v.filter(F.col("grp") == 1).select(
        F.col("n_users").alias("n_b"),
        F.col("r").alias("rb"),
        F.col("var_r").alias("vb"),
    )
    se = F.sqrt(F.col("va") + F.col("vb"))
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        F.round(F.col("ra") + F.lit(1e-9), 6).alias("ratio_a"),
        F.round(F.col("rb") + F.lit(1e-9), 6).alias("ratio_b"),
        F.round((F.col("ra") - F.col("rb")) + F.lit(1e-9), 6).alias("diff"),
        F.round(se + F.lit(1e-9), 6).alias("se_diff"),
        F.round((F.col("ra") - F.col("rb")) / se + F.lit(1e-9), 6).alias("z"),
    )


BACKTEST_H = 7


@register(
    "forecast_backtest",
    oracle=f"""
        WITH RECURSIVE d0 AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   round(avg(value) + 1e-9, 6) AS y
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ), dd AS (
            SELECT event_type, day, y,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY day) AS i,
                   COUNT(*) OVER (PARTITION BY event_type) AS t
            FROM d0
        ), d AS (
            SELECT event_type, day, y, i, t - {BACKTEST_H} AS cut
            FROM dd WHERE i <= t - {BACKTEST_H}
        ), init AS (
            SELECT a.event_type, a.i, a.y, a.y AS l, b.y - a.y AS b,
                   a.cut
            FROM d a JOIN d b ON b.event_type = a.event_type AND b.i = 2
            WHERE a.i = 1
        ), h(event_type, i, y, l, b, cut) AS (
            SELECT event_type, i, y, l, b, cut FROM init
            UNION ALL
            SELECT d.event_type, d.i, d.y,
                   0.5 * d.y + 0.5 * (h.l + h.b),
                   0.5 * ((0.5 * d.y + 0.5 * (h.l + h.b)) - h.l)
                       + 0.5 * h.b,
                   d.cut
            FROM h JOIN d ON d.event_type = h.event_type
                         AND d.i = h.i + 1
        ), fin AS (
            SELECT event_type, l, b, cut FROM h WHERE i = cut
        ), fc AS (
            SELECT fin.event_type, fin.cut + s.h AS i,
                   fin.l + s.h * fin.b AS f
            FROM fin, (SELECT unnest(generate_series(1, {BACKTEST_H}))
                           AS h) s
        ), test AS (
            SELECT fc.event_type, fc.i, fc.f, dd.y
            FROM fc JOIN dd ON dd.event_type = fc.event_type
                           AND dd.i = fc.i
        ), terr AS (
            SELECT event_type,
                   CAST(round(abs(f - y) + 1e-9, 6) AS DECIMAL(18,6))
                       AS ae,
                   CAST(round(2 * abs(f - y) / (abs(f) + abs(y)) + 1e-9,
                              6) AS DECIMAL(18,6)) AS sm
            FROM test
        ), scale AS (
            SELECT a.event_type,
                   SUM(CAST(round(abs(a.y - b.y) + 1e-9, 6)
                            AS DECIMAL(18,6))) AS sdiff,
                   COUNT(*) AS nd
            FROM d a JOIN d b ON b.event_type = a.event_type
                             AND b.i = a.i - 1
            GROUP BY a.event_type
        )
        SELECT terr.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               round(CAST(SUM(ae) AS DOUBLE) / COUNT(*) + 1e-9, 6)
                   AS mae,
               round(CAST(SUM(sm) AS DOUBLE) / COUNT(*) + 1e-9, 6)
                   AS smape,
               round((CAST(SUM(ae) AS DOUBLE) / COUNT(*))
                     / (CAST(scale.sdiff AS DOUBLE) / scale.nd)
                     + 1e-9, 6) AS mase
        FROM terr JOIN scale ON scale.event_type = terr.event_type
        GROUP BY terr.event_type, scale.sdiff, scale.nd
    """,
    description="Walk-forward forecast backtest: Holt(0.5,0.5) trained "
    "on all but the last 7 days per series, h-step forecasts l + h*b "
    "scored against held-out actuals with MAE, sMAPE and MASE (scale "
    "= train-set naive |y_t - y_(t-1)| mean — the scale-free metric "
    "that makes series comparable). The recurrence is the "
    "bit-reproducible applyInPandas escape from holt_forecast; every "
    "error term is rounded then DECIMAL-summed so the metric "
    "aggregation is order-free, and MASE's two means divide once at "
    "the end. The eval twin that turns holt_forecast from a "
    "trajectory into a decision (is this model good enough to ship)",
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.round(F.avg("value") + F.lit(1e-9), 6).alias("y"))
    )
    wt = Window.partitionBy("event_type")
    dd = daily.select(
        "event_type",
        "day",
        "y",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("i"),
        F.count(F.lit(1)).over(wt).alias("t"),
    )
    dd = tracked_persist(dd)
    train = dd.filter(F.col("i") <= F.col("t") - BACKTEST_H).withColumn(
        "cut", F.col("t") - BACKTEST_H
    )
    smoothed = R.holt_smooth(
        train.select("event_type", "day", "y"), "event_type", "day", "y"
    )
    fin = (
        smoothed.join(
            train.filter(F.col("i") == F.col("cut")).select(
                "event_type", "day", "cut"
            ),
            ["event_type", "day"],
        )
        .select("event_type", "level", "trend", "cut")
    )
    fc = fin.select(
        "event_type",
        "cut",
        "level",
        "trend",
        F.explode(F.array(*[F.lit(h) for h in range(1, BACKTEST_H + 1)])).alias(
            "h"
        ),
    ).select(
        "event_type",
        (F.col("cut") + F.col("h")).alias("i"),
        (F.col("level") + F.col("h") * F.col("trend")).alias("f"),
    )
    test = fc.join(dd.select("event_type", "i", "y"), ["event_type", "i"])
    ae = F.round(F.abs(F.col("f") - F.col("y")) + F.lit(1e-9), 6).cast(
        "decimal(18,6)"
    )
    sm = F.round(
        2 * F.abs(F.col("f") - F.col("y"))
        / (F.abs(F.col("f")) + F.abs(F.col("y")))
        + F.lit(1e-9),
        6,
    ).cast("decimal(18,6)")
    terr = test.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(ae).alias("sae"),
        F.sum(sm).alias("ssm"),
    )
    tr2 = train.select("event_type", "i", "y")
    diffs = tr2.alias("a").join(
        tr2.alias("b"),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.i") == F.col("a.i") - 1),
    )
    scale = diffs.groupBy(F.col("a.event_type").alias("event_type")).agg(
        F.sum(
            F.round(F.abs(F.col("a.y") - F.col("b.y")) + F.lit(1e-9), 6).cast(
                "decimal(18,6)"
            )
        ).alias("sdiff"),
        F.count(F.lit(1)).alias("nd"),
    )
    mae = F.col("sae").cast("double") / F.col("n_test")
    return terr.join(scale, "event_type").select(
        "event_type",
        F.col("n_test").cast("bigint").alias("n_test"),
        F.round(mae + F.lit(1e-9), 6).alias("mae"),
        F.round(
            F.col("ssm").cast("double") / F.col("n_test") + F.lit(1e-9), 6
        ).alias("smape"),
        F.round(
            mae / (F.col("sdiff").cast("double") / F.col("nd")) + F.lit(1e-9),
            6,
        ).alias("mase"),
    )


IPF_STEPS = 10  # 5 full row+column rounds


@register(
    "ipf_raking",
    oracle=f"""
        WITH RECURSIVE cells AS (
            SELECT event_type AS i, dayname(ts) AS j, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ), tot AS (
            SELECT CAST(SUM(n) AS DOUBLE) AS t,
                   CAST(COUNT(DISTINCT i) AS DOUBLE) AS ni,
                   CAST(COUNT(DISTINCT j) AS DOUBLE) AS nj
            FROM cells
        ), state(step, i, j, n, w) AS (
            SELECT 0, i, j, n, CAST(n AS DECIMAL(20,12)) FROM cells
            UNION ALL
            SELECT s.step + 1, s.i, s.j, s.n,
                   CAST(s.w * CAST(round(
                       CASE WHEN s.step % 2 = 0
                            THEN (SELECT t FROM tot)
                                 / ((SELECT ni FROM tot)
                                    * CAST(ri.r AS DOUBLE))
                            ELSE (SELECT t FROM tot)
                                 / ((SELECT nj FROM tot)
                                    * CAST(rj.r AS DOUBLE))
                       END + 1e-15, 12) AS DECIMAL(14,12))
                       AS DECIMAL(20,12))
            FROM state s
            JOIN (SELECT step, i, SUM(w) AS r FROM state
                  GROUP BY 1, 2) ri ON ri.step = s.step AND ri.i = s.i
            JOIN (SELECT step, j, SUM(w) AS r FROM state
                  GROUP BY 1, 2) rj ON rj.step = s.step AND rj.j = s.j
            WHERE s.step < {IPF_STEPS}
        )
        SELECT i AS event_type, j AS dow,
               CAST(n AS BIGINT) AS n,
               round(CAST(w AS DOUBLE) + 1e-9, 6) AS raked_mass,
               round(CAST(w AS DOUBLE) / n + 1e-9, 6) AS row_weight
        FROM state WHERE step = {IPF_STEPS}
    """,
    description="Iterative proportional fitting (raking) of the "
    "(event_type x day-of-week) contingency table to uniform target "
    "margins — the survey-statistics weighting that balances a "
    "training mix on two attributes at once (the 2-D generalization "
    "of domain_mix). Scale shape: the corpus aggregates ONCE to a "
    "bounded |types| x 7 cell grid; the 10 alternating scalings run "
    "on that grid only, and the final per-row weight broadcasts back. "
    "Cross-engine exactness: cell state lives in DECIMAL(20,12); "
    "each scaling factor is one IEEE division of exact decimals "
    "rounded to 12dp, each multiply re-quantized to the same scale "
    "(HALF_UP both engines on positive mass) — so ten float "
    "iterations stay BIT-IDENTICAL where naive double state would "
    "drift. Oracle replays the identical schedule in a recursive CTE "
    "that aggregates its own previous iteration (the kcore_members "
    "pattern)",
)
def q_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("i"),
        F.date_format("ts", "EEEE").alias("j"),
    ).agg(F.count(F.lit(1)).alias("n"))
    cells = tracked_persist(
        cells.withColumn("w", F.col("n").cast("decimal(20,12)"))
    )
    agg = cells.agg(
        F.sum("n"), F.countDistinct("i"), F.countDistinct("j")
    ).collect()[0]
    total, ni, nj = float(agg[0]), float(agg[1]), float(agg[2])
    # AQE off + bounded-table partitions for the raking loop (r12,
    # bpe_train/kcore finding): the cell table is |types| x |dows| (~35
    # rows) — the data-sized events aggregate above already
    # materialized under the full session confs via the collect.
    with bounded_loop(spark, small_shuffles=True):
        cells = _ipf_loop(cells, total, ni, nj)
    wd = F.col("w").cast("double")
    return cells.select(
        F.col("i").alias("event_type"),
        F.col("j").alias("dow"),
        F.col("n").cast("bigint").alias("n"),
        F.round(wd + F.lit(1e-9), 6).alias("raked_mass"),
        F.round(wd / F.col("n") + F.lit(1e-9), 6).alias("row_weight"),
    )


def _ipf_loop(cells, total: float, ni: float, nj: float):
    for step in range(IPF_STEPS):
        key, k = ("i", ni) if step % 2 == 0 else ("j", nj)
        r = cells.groupBy(key).agg(F.sum("w").alias("r"))
        f = F.round(
            F.lit(total) / (F.lit(k) * F.col("r").cast("double"))
            + F.lit(1e-15),
            12,
        ).cast("decimal(14,12)")
        # localCheckpoint: each step references the previous state
        # twice (margin agg + join), so without lineage truncation the
        # logical plan doubles per step — 2^10 scans by step ten.
        prev_cells = cells
        cells = cells.join(
            F.broadcast(r.select(key, f.alias("f"))), key
        ).select(
            "i",
            "j",
            "n",
            (F.col("w") * F.col("f")).cast("decimal(20,12)").alias("w"),
        ).localCheckpoint()
        # superseded step state released per iteration (VERDICT r7
        # task 6 footprint discipline; no-op on the initial frame)
        release_checkpoint(prev_cells)
    return cells


@register(
    "hurst_exponent",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   sum(CAST(round(value * 100) AS BIGINT)) AS s
            FROM events GROUP BY 1
        ), indexed AS (
            SELECT s, row_number() OVER (ORDER BY h) - 1 AS idx
            FROM hourly
        ), expanded AS (
            SELECT i.s, i.idx, u.n, i.idx // u.n AS blk
            FROM indexed i, unnest([8, 16, 32, 64]) AS u(n)
        ), sized AS (
            SELECT n, blk, count(*) AS cnt, avg(CAST(s AS DOUBLE)) AS m
            FROM expanded GROUP BY n, blk
        ), devs AS (
            SELECT e.n, e.blk, e.s - z.m AS d, e.idx,
                   sum(e.s - z.m) OVER (
                       PARTITION BY e.n, e.blk ORDER BY e.idx
                       ROWS UNBOUNDED PRECEDING) AS z
            FROM expanded e
            JOIN sized z ON z.n = e.n AND z.blk = e.blk AND z.cnt = z.n
        ), per_blk AS (
            SELECT n, blk,
                   max(z) - min(z) AS r,
                   sqrt(sum(d * d) / n) AS sd
            FROM devs GROUP BY n, blk
        ), per_n AS (
            SELECT n, count(*) AS n_blocks, avg(r / sd) AS rs
            FROM per_blk WHERE sd > 0 GROUP BY n
        ), fit AS (
            SELECT count(*) AS n_scales,
                   (sum(ln(CAST(n AS DOUBLE)) * ln(rs))
                    - sum(ln(CAST(n AS DOUBLE))) * sum(ln(rs))
                      / count(*))
                   / (sum(ln(CAST(n AS DOUBLE))
                          * ln(CAST(n AS DOUBLE)))
                      - sum(ln(CAST(n AS DOUBLE)))
                        * sum(ln(CAST(n AS DOUBLE))) / count(*))
                       AS h_exp
            FROM per_n
        )
        SELECT CAST((SELECT count(*) FROM hourly) AS BIGINT) AS n_hours,
               CAST(n_scales AS BIGINT) AS n_scales,
               round(h_exp + 1e-9, 6) AS hurst
        FROM fit
    """,
    description="Hurst exponent of the hourly event-value series via "
    "rescaled-range (R/S) analysis: block sizes {8,16,32,64} hours, "
    "per-block range of ORDER-DETERMINISTIC cumulative deviations "
    "(the window is keyed by the hour index, so cumsum ULPs agree "
    "across engines) over population std, log-log least-squares "
    "slope across scales. H>0.5 = trending/persistent load, H<0.5 = "
    "mean-reverting — the long-memory diagnostic for capacity "
    "planning next to acf_lags and seasonality_profile. One "
    "hour-cardinality rollup, then everything is bounded by "
    "hours x 4 scales",
)
def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("s")
    )
    indexed = hourly.select(
        "s", (F.row_number().over(Window.orderBy("h")) - 1).alias("idx")
    )
    expanded = indexed.select(
        "s",
        "idx",
        F.explode(F.array(F.lit(8), F.lit(16), F.lit(32), F.lit(64))).alias(
            "n"
        ),
    ).withColumn("blk", F.floor(F.col("idx") / F.col("n")))
    sized = expanded.groupBy(F.col("n").alias("zn"), F.col("blk").alias("zb")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.avg(F.col("s").cast("double")).alias("m"),
    ).filter(F.col("cnt") == F.col("zn"))
    wz = Window.partitionBy("n", "blk").orderBy("idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    devs = (
        expanded.join(
            sized, (F.col("n") == F.col("zn")) & (F.col("blk") == F.col("zb"))
        )
        .select(
            "n",
            "blk",
            "idx",
            (F.col("s") - F.col("m")).alias("d"),
        )
        .withColumn("z", F.sum("d").over(wz))
    )
    per_blk = devs.groupBy("n", "blk").agg(
        (F.max("z") - F.min("z")).alias("r"),
        F.sqrt(F.sum(F.col("d") * F.col("d")) / F.col("n")).alias("sd"),
    )
    per_n = per_blk.filter(F.col("sd") > 0).groupBy("n").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.avg(F.col("r") / F.col("sd")).alias("rs"),
    )
    lx = F.log(F.col("n").cast("double"))
    ly = F.log(F.col("rs"))
    fit = per_n.agg(
        F.count(F.lit(1)).alias("n_scales"),
        (
            (F.sum(lx * ly) - F.sum(lx) * F.sum(ly) / F.count(F.lit(1)))
            / (F.sum(lx * lx) - F.sum(lx) * F.sum(lx) / F.count(F.lit(1)))
        ).alias("h_exp"),
    )
    nh = hourly.agg(F.count(F.lit(1)).alias("n_hours"))
    return fit.crossJoin(F.broadcast(nh)).select(
        F.col("n_hours").cast("bigint").alias("n_hours"),
        F.col("n_scales").cast("bigint").alias("n_scales"),
        F.round(F.col("h_exp") + F.lit(1e-9), 6).alias("hurst"),
    )


_CROSTON_ALPHA = 0.2


@register(
    "croston_forecast",
    oracle=f"""
        WITH dd AS (
            SELECT l_partkey AS part, l_shipdate AS d,
                   sum(CAST(l_quantity AS BIGINT)) AS z
            FROM lineitem GROUP BY 1, 2
        ), idx AS (
            SELECT part, d, z,
                   row_number() OVER (PARTITION BY part ORDER BY d)
                       AS j,
                   count(*) OVER (PARTITION BY part) AS m,
                   date_diff('day',
                             lag(d) OVER (PARTITION BY part ORDER BY d),
                             d) AS gap
            FROM dd
        ), smoothed AS (
            SELECT part, m,
                   sum(CASE WHEN j = 1
                            THEN pow(1 - {_CROSTON_ALPHA}, m - 1) * z
                            ELSE {_CROSTON_ALPHA}
                                 * pow(1 - {_CROSTON_ALPHA}, m - j) * z
                       END) AS z_hat,
                   sum(CASE WHEN j = 2
                            THEN pow(1 - {_CROSTON_ALPHA}, m - 2) * gap
                            WHEN j > 2
                            THEN {_CROSTON_ALPHA}
                                 * pow(1 - {_CROSTON_ALPHA}, m - j) * gap
                            ELSE 0 END) AS p_hat
            FROM idx GROUP BY part, m
        )
        SELECT part, CAST(m AS BIGINT) AS n_demands,
               round(z_hat + 1e-9, 4) AS forecast_size,
               round(p_hat + 1e-9, 4) AS forecast_interval,
               round(z_hat / p_hat + 1e-9, 6) AS demand_rate
        FROM smoothed WHERE m >= 3
    """,
    description="Croston's method for intermittent demand (alpha="
    f"{_CROSTON_ALPHA}) per part over ship-date demand days: the "
    "exponential smoothing recurrences Z_j = Z_(j-1) + a(z_j - "
    "Z_(j-1)) over demand SIZES and P_j over inter-demand INTERVALS "
    "unrolled to their closed weighted-sum form ((1-a)^(m-j) decay "
    "powers — the factored-decay discipline of "
    "streaming_decayed_leaderboard applied along occurrence index "
    "instead of time), forecast rate = Z_m/P_m. Per-part windows are "
    "bounded by that part's demand-day count; the supply-chain "
    "staple for slow movers that simple EWMA (ewma_smooth) "
    "systematically over-forecasts",
)
def q_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _CROSTON_ALPHA
    li = _t(spark, sf_dir, "lineitem")
    dd = li.groupBy(
        F.col("l_partkey").alias("part"), F.col("l_shipdate").alias("d")
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("z"))
    wp = Window.partitionBy("part").orderBy("d")
    wc = Window.partitionBy("part")
    idx = dd.select(
        "part",
        "z",
        F.row_number().over(wp).alias("j"),
        F.count(F.lit(1)).over(wc).alias("m"),
        F.datediff(F.col("d"), F.lag("d").over(wp)).alias("gap"),
    )
    decay = F.pow(F.lit(1 - a), F.col("m") - F.col("j"))
    z_term = F.when(
        F.col("j") == 1, F.pow(F.lit(1 - a), F.col("m") - 1) * F.col("z")
    ).otherwise(F.lit(a) * decay * F.col("z"))
    p_term = (
        F.when(
            F.col("j") == 2,
            F.pow(F.lit(1 - a), F.col("m") - 2) * F.col("gap"),
        )
        .when(F.col("j") > 2, F.lit(a) * decay * F.col("gap"))
        .otherwise(F.lit(0.0))
    )
    sm = idx.groupBy("part", "m").agg(
        F.sum(z_term).alias("z_hat"), F.sum(p_term).alias("p_hat")
    )
    return sm.filter(F.col("m") >= 3).select(
        "part",
        F.col("m").cast("bigint").alias("n_demands"),
        F.round(F.col("z_hat") + F.lit(1e-9), 4).alias("forecast_size"),
        F.round(F.col("p_hat") + F.lit(1e-9), 4).alias("forecast_interval"),
        F.round(F.col("z_hat") / F.col("p_hat") + F.lit(1e-9), 6).alias(
            "demand_rate"
        ),
    )


@register(
    "granger_lag1",
    oracle="""
        WITH dy AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   round(avg(value) + 1e-9, 6) AS y
            FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
            GROUP BY 1
        ), dx AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   round(avg(value) + 1e-9, 6) AS x
            FROM events WHERE event_type = 'click' AND value IS NOT NULL
            GROUP BY 1
        ), d AS (
            SELECT dy.day, dy.y, dx.x,
                   row_number() OVER (ORDER BY dy.day) AS i
            FROM dy JOIN dx ON dx.day = dy.day
        ), pairs AS (
            SELECT cur.y AS yt, prev.y AS a, prev.x AS b
            FROM d cur JOIN d prev ON prev.i = cur.i - 1
        ), s AS (
            SELECT count(*) AS n,
                   sum(yt) AS sy, sum(a) AS sa, sum(b) AS sb,
                   sum(a*a) AS saa, sum(b*b) AS sbb, sum(a*b) AS sab,
                   sum(a*yt) AS say, sum(b*yt) AS sby, sum(yt*yt) AS syy
            FROM pairs
        ), c AS (
            SELECT n,
                   saa - sa*sa/n AS caa, sbb - sb*sb/n AS cbb,
                   sab - sa*sb/n AS cab, say - sa*sy/n AS cay,
                   sby - sb*sy/n AS cby, syy - sy*sy/n AS cyy
            FROM s
        ), fit AS (
            SELECT n,
                   (cbb*cay - cab*cby) / (caa*cbb - cab*cab) AS b1,
                   (caa*cby - cab*cay) / (caa*cbb - cab*cab) AS b2,
                   cyy - cay*cay/caa AS rss_r,
                   cyy - ((cbb*cay - cab*cby) / (caa*cbb - cab*cab)) * cay
                       - ((caa*cby - cab*cay) / (caa*cbb - cab*cab)) * cby
                       AS rss_f
            FROM c
        )
        SELECT CAST(n AS BIGINT) AS n_pairs,
               round(b1 + 1e-9, 6) AS beta_ylag,
               round(b2 + 1e-9, 6) AS beta_xlag,
               round(rss_r + 1e-9, 6) AS rss_restricted,
               round(rss_f + 1e-9, 6) AS rss_full,
               round((rss_r - rss_f) / (rss_f / (n - 3)) + 1e-9, 6)
                   AS f_stat
        FROM fit
    """,
    description="Granger lag-1 causality test: does yesterday's CLICK "
    "daily mean improve today's PURCHASE daily mean prediction beyond "
    "purchase's own lag? Both series collapse to the calendar-bounded "
    "daily grain FIRST (acf_lags' pre-rounded-series discipline, so "
    "both engines regress identical inputs), consecutive joined days "
    "pair via the row-number index, and both nested OLS fits are "
    "CLOSED FORM from one 10-number moment aggregate — restricted "
    "y_t~y_{t-1} vs full y_t~y_{t-1}+x_{t-1}, F = (RSS_r - RSS_f) / "
    "(RSS_f / (n-3)). The econometric causal screen next to "
    "diff_in_diff (designed effect) and mann_kendall_trend "
    "(monotonic drift); everything after the daily rollup is "
    "~30-row arithmetic at any corpus volume",
)
def q_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())

    def daily(t: str, name: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == t)
            .groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(F.round(F.avg("value") + F.lit(1e-9), 6).alias(name))
        )

    # persist the calendar-bounded joined daily series: both pair
    # sides read it (acf_lags discipline — one corpus pass)
    d = tracked_persist(
        daily("purchase", "y")
        .join(daily("click", "x"), "day")
        .select(
            "y", "x", F.row_number().over(Window.orderBy("day")).alias("i")
        )
    )
    cur = d.select(F.col("y").alias("yt"), F.col("i"))
    prev = d.select(
        F.col("y").alias("a"), F.col("x").alias("b"), (F.col("i") + 1).alias("pi")
    )
    pairs = cur.join(prev, F.col("pi") == F.col("i"))
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yt").alias("sy"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("yt")).alias("say"),
        F.sum(F.col("b") * F.col("yt")).alias("sby"),
        F.sum(F.col("yt") * F.col("yt")).alias("syy"),
    )
    n = F.col("n")
    caa = F.col("saa") - F.col("sa") * F.col("sa") / n
    cbb = F.col("sbb") - F.col("sb") * F.col("sb") / n
    cab = F.col("sab") - F.col("sa") * F.col("sb") / n
    cay = F.col("say") - F.col("sa") * F.col("sy") / n
    cby = F.col("sby") - F.col("sb") * F.col("sy") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    det = caa * cbb - cab * cab
    b1 = (cbb * cay - cab * cby) / det
    b2 = (caa * cby - cab * cay) / det
    rss_r = cyy - cay * cay / caa
    rss_f = cyy - b1 * cay - b2 * cby
    return s.select(
        n.cast("bigint").alias("n_pairs"),
        F.round(b1 + F.lit(1e-9), 6).alias("beta_ylag"),
        F.round(b2 + F.lit(1e-9), 6).alias("beta_xlag"),
        F.round(rss_r + F.lit(1e-9), 6).alias("rss_restricted"),
        F.round(rss_f + F.lit(1e-9), 6).alias("rss_full"),
        F.round(
            (rss_r - rss_f) / (rss_f / (n - F.lit(3))) + F.lit(1e-9), 6
        ).alias("f_stat"),
    )


@register(
    "page_hinkley_drift",
    oracle="""
        WITH d AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   round(avg(value) + 1e-9, 6) AS x
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2
        ), m AS (
            SELECT event_type,
                   count(*) AS n,
                   sum(x) / count(*) AS mu,
                   sqrt((sum(x * x) - sum(x) * sum(x) / count(*))
                        / (count(*) - 1)) AS sd
            FROM d GROUP BY event_type
        ), cums AS (
            SELECT d.event_type, d.day, m.n, m.sd,
                   sum(d.x - m.mu - 0.01)
                       OVER (PARTITION BY d.event_type ORDER BY d.day
                             ROWS UNBOUNDED PRECEDING) AS c
            FROM d JOIN m USING (event_type)
        ), ph AS (
            SELECT event_type, day, n, sd,
                   c - min(c) OVER (PARTITION BY event_type ORDER BY day
                                    ROWS UNBOUNDED PRECEDING) AS ph
            FROM cums
        )
        SELECT event_type,
               CAST(max(n) AS BIGINT) AS n_days,
               round(max(ph) + 1e-9, 6) AS max_ph,
               round(2 * max(sd) + 1e-9, 6) AS lambda,
               min(CASE WHEN round(ph + 1e-9, 6)
                             > round(2 * sd + 1e-9, 6)
                        THEN day END) AS alarm_day,
               min(CASE WHEN round(ph + 1e-9, 6)
                             > round(2 * sd + 1e-9, 6)
                        THEN day END) IS NOT NULL AS drifted
        FROM ph GROUP BY event_type
    """,
    description="Page-Hinkley change detection per event type — the "
    "sequential mean-shift monitor next to psi_drift (distributional) "
    "and rolling_anomaly (pointwise): over the calendar-bounded "
    "pre-rounded daily-mean series, PH_t = cumsum(x - mu - delta) "
    "minus its running minimum, alarming when the excursion exceeds "
    "lambda = 2 sd of the series (explicit-moment sd, never "
    "engine-internal stddev). Cumulative sum and running min are "
    "windows over the ~30-day series, so everything after the daily "
    "rollup is bounded at any corpus volume; delta = 0.01 damps "
    "drift-free wander. Alarm day and verdict compare ROUNDED "
    "values on both engines (house parity rule)",
)
def q_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.round(F.avg("value") + F.lit(1e-9), 6).alias("x"))
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("x") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            (
                F.sum(F.col("x") * F.col("x"))
                - F.sum("x") * F.sum("x") / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("sd"),
    )
    wc = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        d.join(F.broadcast(m), "event_type")
        .withColumn("c", F.sum(F.col("x") - F.col("mu") - 0.01).over(wc))
        .withColumn("ph", F.col("c") - F.min("c").over(wc))
    )
    lam = F.round(2 * F.col("sd") + F.lit(1e-9), 6)
    rph = F.round(F.col("ph") + F.lit(1e-9), 6)
    alarm = F.min(F.when(rph > lam, F.col("day")))
    return cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.round(F.max("ph") + F.lit(1e-9), 6).alias("max_ph"),
        F.max(lam).alias("lambda"),
        alarm.alias("alarm_day"),
        alarm.isNotNull().alias("drifted"),
    )
