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

from collections.abc import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType


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


# --- collectors: run a stream to completion and hand its result back ----
#
# Structured Streaming has three output modes, and each has one keep
# rule that makes the collected result independent of how the source
# splits into micro-batches:
# - append: emissions are final (emit-once), so keep every row;
# - update: a later emission supersedes an earlier one for its key, so
#   keep the last row per key;
# - complete: every trigger re-emits the whole result, so keep the last
#   batch.
# All three run on one foreachBatch body (``_collect``) over one
# availableNow drain (``_run_available``). At scale the body becomes an
# append, keyed upsert or overwrite of a Kafka topic or Delta table;
# here it gathers the (threshold-filtered) result on the driver.


def _run_available(writer: DataStreamWriter, output_mode: str) -> None:
    """Process all input available at start as one or more micro-batches,
    then stop — the package's one availableNow drain."""
    writer.outputMode(output_mode).trigger(availableNow=True).start().awaitTermination()


def run_to_memory(
    spark: SparkSession,
    alerts: DataFrame,
    query_name: str,
    mode: str = "update",
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and
    return the sink contents: every emission of every micro-batch, so
    an update-mode stream shows its superseded rows too."""
    _run_available(alerts.writeStream.format("memory").queryName(query_name), mode)
    return spark.sql(f"SELECT * FROM {query_name}")


def _collect(
    spark: SparkSession,
    result: DataFrame,
    output_mode: str,
    keep: Callable[[list[pa.Table], pa.Table], None],
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[pa.Table | None, StructType]:
    """Drain ``result`` through foreachBatch; ``keep(kept, batch)``
    updates the kept tables with each micro-batch in batch order.
    Returns the kept rows as one Arrow table (None when no row was kept)
    and the schema of the collected rows.

    Batches move as Arrow tables, not Row lists: ``toArrow()`` is one
    vectorized transfer per micro-batch, and the rebuild skips the
    per-row verify/toInternal walk (measured ~2.3 s of pure driver CPU
    for a 95k-row session result). Empty record batches are dropped:
    ``createDataFrame`` of a table loses the rows that follow an empty
    batch (Spark 4.1)."""
    schema = result.schema
    if transform is not None:
        schema = transform(spark.createDataFrame([], schema)).schema
    kept: list[pa.Table] = []

    def body(batch_df: DataFrame, _batch_id: int) -> None:
        keep(kept, (batch_df if transform is None else transform(batch_df)).toArrow())

    _run_available(result.writeStream.foreachBatch(body), output_mode)
    rows = [b for t in kept for b in t.to_batches() if b.num_rows]
    return (pa.Table.from_batches(rows) if rows else None), schema


def _keep_last(kept: list[pa.Table], batch: pa.Table) -> None:
    kept[:] = [batch]


def _frame(spark: SparkSession, table: pa.Table | None, schema: StructType) -> DataFrame:
    """The collected rows as a DataFrame with exactly ``schema``."""
    return spark.createDataFrame([] if table is None else table, schema=schema)


def run_append(
    spark: SparkSession,
    result: DataFrame,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Run an append-mode streaming DataFrame to completion, keeping
    every emission.

    ``transform`` runs a BATCH operation on each micro-batch first —
    the escape for stream-static operations Structured Streaming cannot
    express declaratively (as-of/nearest joins, band joins, per-batch
    scoring; its stream-static join is equi-key only). It must be
    per-row stateless with respect to batch boundaries (each output row
    a function of one input row plus static data); then the result is
    batch-count-independent. Its output schema is probed on an empty
    batch, so a stream with no rows still returns it."""
    table, schema = _collect(spark, result, "append", list.append, transform)
    return _frame(spark, table, schema)


def run_upsert(
    spark: SparkSession,
    result: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Run an update-mode streaming DataFrame to completion, keeping the
    LAST emission per key: a later batch wins, and within a batch the
    later row wins. Rows with a null key column share that key.

    An update-mode memory sink accumulates every per-batch emission, so
    a source that splits into >1 micro-batch (multi-file input,
    maxFilesPerTrigger) would yield stale intermediate rows alongside
    the final ones; micro-batches arrive in order, so the last row per
    key is exactly the current aggregate value. Rows keep the order in
    which their key first appeared."""
    table, schema = _collect(spark, result, "update", list.append)
    if table is not None:
        at = table.append_column("__row", pa.array(np.arange(table.num_rows)))
        last = (
            at.select([*key_cols, "__row"])
            .group_by(key_cols, use_threads=False)
            .aggregate([("__row", "min"), ("__row", "max")])
            .sort_by("__row_min")
        )
        table = table.take(last["__row_max"])
    return _frame(spark, table, schema)


def run_replace(spark: SparkSession, result: DataFrame) -> DataFrame:
    """Run a complete-mode streaming DataFrame to completion, keeping
    the LAST trigger's full emission: complete mode re-emits the entire
    result every trigger, so the final batch IS the final answer.

    Needed for aggregations Spark refuses to run in update mode:
    session-window aggregation rejects update (a session MERGE would
    have to retract rows already emitted for the pre-merge sessions;
    complete re-emission sidesteps retraction). Complete mode holds
    full aggregate state, so it is viable when the (key × session)
    space is bounded; the append+watermark path is the unbounded
    alternative, with the documented availableNow holdback (sessions
    still open when input ends are withheld until a later watermark
    advance)."""
    table, schema = _collect(spark, result, "complete", _keep_last)
    return _frame(spark, table, schema)
