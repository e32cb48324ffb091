"""The reference pipeline under Structured Streaming.

Same logical plan as queries.q_price_alerts, but over a streaming
DataFrame: stream ⋈ broadcast static dimension (stream-static join ≡
GlobalKTable lookup), tumbling window sum, threshold, alert projection.

Emission semantics are selected by ``mode``:
- "update": every trigger emits changed (key, window) aggregates — the
  DSL variant's emit-on-update (no watermark required; state is kept
  indefinitely unless a watermark is also set).
- "append": a window is emitted exactly once, when the event-time
  watermark passes its end; Spark then drops its state — the Processor
  variant's emit-once + state-GC (range scan + delete,
  PurchaseQuantityAlertTrasformer.java:56-90), with *documented*
  late-data handling instead of the reference's silent drop-and-leak
  (SURVEY.md §2.5).

Scale notes: the stream side never shuffles for the dimension join
(broadcast); the windowed agg shuffles on (key, window) with partial
aggregation per micro-batch; state store backend should be RocksDB
(`spark.sql.streaming.stateStore.providerClass`) for large key spaces.
Checkpoint and state files go through the FileSystem-based checkpoint
manager (session.RUNTIME_CONFS), because the default FileContext one
forks a `readlink` per file on the local file system and that set the
per-micro-batch floor. State layout: every stateful stream runs on
`queries._stream_session` (4 shuffle partitions = 4 state-store
instances per stateful operator per micro-batch, each committing a
delta and three checksum files); a checkpoint keeps the count it was
started with, and a stream whose state outgrows a few instances needs
a larger count from its first start.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def price_alerts_stream(
    events_stream: DataFrame,
    dim: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    dim_key_col: str = "c_custkey",
    window: str = "1 minute",
    threshold: float = 150.0,
    mode: str = "update",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Build the streaming alert DataFrame (unstarted: caller attaches
    a sink via run_to_memory / writeStream)."""
    enriched = events_stream.join(
        F.broadcast(dim), events_stream[key_col] == dim[dim_key_col], "inner"
    )
    if mode == "append":
        enriched = enriched.withWatermark(ts_col, watermark_delay)
    agg = enriched.groupBy(
        F.col(key_col), F.window(F.col(ts_col), window)
    ).agg(F.round(F.sum(value_col), 2).alias("total_sum_per_minute"))
    alerts = agg.filter(F.col("total_sum_per_minute") > threshold)
    return alerts.select(
        F.col(key_col).cast("string").alias("alert_key"),
        F.col("window.start").alias("window_start"),
        F.col("total_sum_per_minute"),
    )


def latest_by_key_stream(
    changelog_stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_cols: list[str],
) -> DataFrame:
    """GlobalKTable semantics under streaming: maintain the latest value
    per key from a changelog-shaped stream, emitting updates as they
    supersede (outputMode("update")).

    Reference: ``builder.globalTable`` ("stores the last record from
    the topic per key", dsl/PriceAlertsApp.java:91-95) and the upsert
    processor (StateUpdateSupplier.java:35-37). Spark: ``max_by`` over
    the event time per key — state is one row per key, updated in
    place; partial aggregation makes each micro-batch shuffle one row
    per touched key.
    """
    aggs = [
        F.max_by(F.col(c), F.col(ts_col)).alias(f"last_{c}") for c in value_cols
    ] + [F.max(F.col(ts_col)).alias(f"last_{ts_col}")]
    return changelog_stream.groupBy(*key_cols).agg(*aggs)


def dedup_stream(
    events_stream: DataFrame,
    subset: list[str],
    ts_col: str = "ts",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Streaming exact dedup with bounded state.

    ``dropDuplicatesWithinWatermark``: a key's dedup state is kept only
    until the watermark passes it, so state is O(keys per watermark
    window) instead of O(all keys ever) — the only viable exact-dedup
    contract on an unbounded stream. Batch twin: operators.relational
    .dedup_exact. Duplicates arriving after state eviction are NOT
    caught (documented trade; tighten the delay only as far as the
    source's real out-of-orderness).
    """
    return events_stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        subset
    )


def run_to_memory(
    spark: SparkSession,
    alerts: DataFrame,
    query_name: str,
    mode: str = "update",
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink
    (availableNow trigger — processes all available input as one or
    more micro-batches, then stops) and return the sink contents."""
    q = (
        alerts.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_upsert(
    spark: SparkSession,
    alerts: DataFrame,
    key_cols: list[str],
    mode: str = "update",
) -> DataFrame:
    """Run an update-mode streaming DataFrame to completion, keeping the
    LATEST emission per key — batch-count-independent, unlike a raw
    memory sink.

    An update-mode memory sink accumulates every per-batch emission, so
    a source that happens to split into >1 micro-batch (multi-file
    input, maxFilesPerTrigger) yields stale intermediate rows alongside
    final ones. ``foreachBatch`` is the canonical upsert sink shape:
    micro-batches arrive in order, so last-writer-wins per key is
    exactly "current aggregate value". At scale the dict becomes a
    keyed upsert to Kafka/Delta (the reference's alerts topic,
    dsl/PriceAlertsApp.java:134); alert rows are threshold-filtered so
    the driver-side footprint here is the alert table itself.
    """
    state: dict[tuple, dict] = {}

    def upsert(batch_df: DataFrame, _batch_id: int) -> None:
        for r in batch_df.collect():
            d = r.asDict()
            state[tuple(d[k] for k in key_cols)] = d

    q = (
        alerts.writeStream.foreachBatch(upsert)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(list(state.values()), schema=alerts.schema)


def run_append(
    spark: SparkSession,
    result: DataFrame,
) -> DataFrame:
    """Run an append-mode streaming DataFrame to completion, collecting
    every emission.

    Append emissions are final by contract (emit-once when the
    watermark closes the group), so a plain accumulating collector is
    batch-count-independent — no upsert or replace needed. At scale the
    foreachBatch body becomes an append to Kafka/Delta; rows here are
    threshold-filtered alerts.

    Batches move as ARROW tables, not Row lists: toArrow() is one
    vectorized transfer per micro-batch and the rebuild skips the
    per-row verify/toInternal walk (measured ~2.3 s of pure driver
    CPU for a 95k-row session result)."""
    import pyarrow as pa

    tables: list[pa.Table] = []

    def append(batch_df: DataFrame, _batch_id: int) -> None:
        t = batch_df.toArrow()
        if t.num_rows:
            tables.append(t)

    q = (
        result.writeStream.foreachBatch(append)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not tables:
        return spark.createDataFrame([], schema=result.schema)
    return spark.createDataFrame(pa.concat_tables(tables))


def run_replace(
    spark: SparkSession,
    result: DataFrame,
    mode: str = "complete",
) -> DataFrame:
    """Run a complete-mode streaming DataFrame to completion, keeping
    the LAST trigger's full emission — batch-count-independent by
    construction (complete mode re-emits the entire result every
    trigger, so the final batch IS the final answer).

    The complete-mode companion to ``run_upsert``: needed for
    aggregations Spark refuses to run in update mode — session-window
    aggregation rejects update (a session MERGE would have to retract
    rows already emitted for the pre-merge sessions; complete
    re-emission sidesteps retraction). At scale the foreachBatch body
    becomes an overwrite of the downstream table; complete mode holds
    full aggregate state, so it's viable when the (key × session)
    space is bounded — the append+watermark path is the unbounded
    alternative, with the documented availableNow holdback (sessions
    still open when input ends are withheld until a later watermark
    advance).
    """
    import pyarrow as pa

    state: list[pa.Table] = []

    def replace(batch_df: DataFrame, _batch_id: int) -> None:
        state.clear()
        state.append(batch_df.toArrow())

    q = (
        result.writeStream.foreachBatch(replace)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not state or state[0].num_rows == 0:
        return spark.createDataFrame([], schema=result.schema)
    return spark.createDataFrame(state[0])


def windowed_distinct_stream(
    events_stream: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "user_id",
    window: str = "1 hour",
    watermark_delay: str | None = None,
) -> DataFrame:
    """Exact distinct-count per (key, window) under streaming.

    COUNT(DISTINCT) is not incrementally maintainable, so Spark
    rejects it in streaming aggs; the exact streaming formulation is
    ``size(collect_set(id))`` — state per group is the id SET, updated
    in place each micro-batch. That state grows with true cardinality:
    fine for bounded id spaces (users per hour), and the documented
    handoff point to the sketch path (approx_count_distinct IS
    incrementally maintainable — swap it in for unbounded ids; batch
    twin operators.sketches.distinct_rollup_hll).

    With a watermark + append the state is GC'd per window (emit-once);
    update mode emits the running distinct count as it grows —
    batch-count-independent through run_upsert per (key, window).
    """
    src = events_stream
    if watermark_delay is not None:
        src = src.withWatermark(ts_col, watermark_delay)
    return (
        src.groupBy(
            F.col(key_col), F.window(F.col(ts_col), window)
        )
        .agg(F.size(F.collect_set(F.col(id_col))).cast("bigint").alias("n_distinct"))
        .select(
            F.col(key_col),
            F.col("window.start").alias("window_start"),
            "n_distinct",
        )
    )


def run_batch_transform(spark, stream, transform, sink=None):
    """Apply an arbitrary BATCH transformation to each micro-batch via
    foreachBatch and collect every emission — the canonical escape for
    stream-static operations Structured Streaming cannot express
    declaratively (as-of/nearest joins, band joins, per-batch model
    scoring). Spark's stream-static join supports only equi-keys; the
    documented production pattern for anything richer is exactly this:
    foreachBatch hands each micro-batch over as a plain DataFrame, the
    batch operator runs against the static side, and results append
    downstream (here: a collector; at scale: Kafka/Delta append).

    CONTRACT: ``transform`` must be per-row stateless with respect to
    batch boundaries (each output row a function of one input row plus
    static data) — then the emission is batch-count-independent, same
    as ``run_append``. Output schema is pinned by probing ``transform``
    on an empty batch, so a zero-batch stream still returns a typed
    empty DataFrame.

    DRIVER-SIDE LIMIT: with the default ``sink=None`` this helper
    accumulates every micro-batch's transformed rows on the driver
    (``collect()`` into a Python list) so the registry twin can hand
    one comparable DataFrame back — fine at fixture scale, NOT for
    production volumes. At scale, pass ``sink`` (a callable taking the
    transformed batch DataFrame) and each batch appends to storage
    (Kafka/Delta/parquet) instead of the driver list; the return value
    is then an empty typed DataFrame and the sink owns the output.
    """
    schema = transform(spark.createDataFrame([], stream.schema)).schema
    # Batches move as ARROW tables (r12, guide §6 "Arrow for driver
    # transfers"): collect() walked every transformed row through the
    # Row/verify path on the driver (~1-2 s of pure driver CPU for a
    # 100k-row batch); toArrow() is one vectorized transfer per
    # micro-batch — the same fix run_append got in r9.
    import pyarrow as pa

    tables: list[pa.Table] = []

    def body(batch_df: DataFrame, _batch_id: int) -> None:
        out = transform(batch_df)
        if sink is not None:
            sink(out)
        else:
            t = out.toArrow()
            if t.num_rows:
                tables.append(t)

    q = (
        stream.writeStream.foreachBatch(body)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not tables:
        return spark.createDataFrame([], schema=schema)
    return spark.createDataFrame(pa.concat_tables(tables), schema=schema)
