"""Streaming parity tests (SURVEY.md §2.5 semantics fork).

File-source streams over deterministic parquet fixtures stand in for
Kafka topics (no broker in CI); the logical plans are identical.

- update mode ≡ DSL emit-on-update (dsl/PriceAlertsApp.java:110-116)
- append mode + watermark ≡ Processor emit-once + state GC
  (PurchaseQuantityAlertTrasformer.java:56-90)
- stateful op ≡ the hand-built transformer with timers (U4)
"""

from __future__ import annotations

import datetime as dt
import uuid

import pytest

from kafka_streams_homework_spark.streaming import (
    dedup_stream,
    latest_by_key_stream,
    price_alerts_stream,
    run_append,
    run_replace,
    run_to_memory,
    run_upsert,
    windowed_sum_stateful,
)
from tests.conftest import ts

EVENTS_SCHEMA = "user_id long, ts timestamp, value double"
DIM_SCHEMA = "c_custkey long, c_name string"


def _write_events(spark, tmp_path, batches, schema=EVENTS_SCHEMA):
    """Write each batch as its own parquet file so maxFilesPerTrigger=1
    replays them as separate micro-batches (deterministic watermark
    advancement — the TopologyTestDriver.advanceWallClockTime twin).

    The file source orders files by modification time; rapid writes tie,
    so stamp strictly increasing mtimes to pin the replay order."""
    import glob
    import os

    path = str(tmp_path / f"events-{uuid.uuid4().hex[:8]}")
    seen: set[str] = set()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        current = set(glob.glob(f"{path}/*.parquet"))
        for f in current - seen:
            os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
        seen = current
    return path


def _stream(spark, path, schema=EVENTS_SCHEMA):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


@pytest.fixture()
def dim(spark):
    return spark.createDataFrame([(1, "u1"), (2, "u2")], DIM_SCHEMA)


def test_update_mode_emits_on_update(spark, tmp_path, dim):
    """DSL semantics: every triggering batch re-emits the changed
    aggregate — 2 batches touching the same window → 2 emissions with
    the running sums."""
    path = _write_events(
        spark,
        tmp_path,
        [
            [(1, ts(5, 10), 100.0), (1, ts(5, 20), 60.0)],  # sum 160 > 150
            [(1, ts(5, 30), 40.0)],  # running sum 200
        ],
    )
    out = run_to_memory(
        spark,
        price_alerts_stream(_stream(spark, path), dim, mode="update"),
        f"upd_{uuid.uuid4().hex[:8]}",
        mode="update",
    ).collect()
    sums = sorted(r.total_sum_per_minute for r in out)
    assert sums == [160.0, 200.0]
    assert all(r.alert_key == "1" for r in out)
    assert all(r.window_start == dt.datetime(2024, 1, 1, 0, 5) for r in out)


def test_upsert_sink_is_batch_count_independent(spark, tmp_path, dim):
    """run_upsert keeps only the LATEST emission per (key, window): the
    same multi-batch input that produces 2 update-mode emissions (160,
    then 200) must yield one final row — so the registry's streaming
    query result no longer depends on how the source splits into
    micro-batches."""
    path = _write_events(
        spark,
        tmp_path,
        [
            [(1, ts(5, 10), 100.0), (1, ts(5, 20), 60.0)],  # sum 160 > 150
            [(1, ts(5, 30), 40.0)],  # running sum 200
        ],
    )
    out = run_upsert(
        spark,
        price_alerts_stream(_stream(spark, path), dim, mode="update"),
        ["alert_key", "window_start"],
    ).collect()
    assert len(out) == 1
    assert out[0].total_sum_per_minute == 200.0
    assert out[0].alert_key == "1"
    assert out[0].window_start == dt.datetime(2024, 1, 1, 0, 5)


def test_append_mode_emits_once_after_watermark(spark, tmp_path, dim):
    """Processor semantics: the window is emitted exactly once, when the
    watermark passes its end; late batches for it never re-emit."""
    path = _write_events(
        spark,
        tmp_path,
        [
            [(1, ts(5, 10), 100.0), (1, ts(5, 20), 60.0)],
            # watermark pusher: ts(20) - 2min delay >> window [5,6) end
            [(2, ts(20, 0), 1.0)],
        ],
    )
    out = run_to_memory(
        spark,
        price_alerts_stream(
            _stream(spark, path), dim, mode="append", watermark_delay="2 minutes"
        ),
        f"app_{uuid.uuid4().hex[:8]}",
        mode="append",
    ).collect()
    assert len(out) == 1  # emit-once: final result only
    assert out[0].alert_key == "1" and out[0].total_sum_per_minute == 160.0


def test_append_mode_drops_data_later_than_watermark(spark, tmp_path, dim):
    """Documented late-data contract (vs the reference's silent
    drop-and-leak): once the watermark has closed a window and its
    state is evicted, later records for it are dropped.

    Semantics note (pinned by this test): Spark's watermark is a
    *bound*, not a guillotine — a late record landing in the SAME
    micro-batch where the window is first evicted still merges
    (merge-then-evict order). Only records arriving after eviction are
    dropped, which is why an intermediate batch sits between the
    watermark-advancing record and the late one."""
    path = _write_events(
        spark,
        tmp_path,
        [
            [(1, ts(5, 10), 200.0)],
            [(2, ts(30, 0), 1.0)],  # watermark → 28:00 (effective next batch)
            [(2, ts(35, 0), 1.0)],  # eviction batch: emits [5,6) = 200
            [(1, ts(5, 50), 500.0)],  # late: state for [5,6) already gone
            [(2, ts(40, 0), 1.0)],  # closes the 30:00/35:00 windows
        ],
    )
    out = run_to_memory(
        spark,
        price_alerts_stream(
            _stream(spark, path), dim, mode="append", watermark_delay="2 minutes"
        ),
        f"late_{uuid.uuid4().hex[:8]}",
        mode="append",
    ).collect()
    # the late 500 is dropped: only the original 200 for window [5,6),
    # and it is never re-emitted (threshold filters out the 1.0 windows)
    assert [r.total_sum_per_minute for r in out] == [200.0]


def test_checkpoint_recovery_exactly_once(spark, tmp_path, dim):
    """The reference's app-id + state-dir lifecycle (STATE_DIR_CONFIG,
    dsl/PriceAlertsApp.java:77): a restarted query resumes from the
    checkpoint — window state survives, offsets don't replay, and the
    closed window is emitted exactly once across the two runs."""
    # natural mtimes here: backdated ones (as _write_events stamps)
    # get purged from the restarted source's seen-files map by
    # maxFileAge and would replay
    src = str(tmp_path / f"events-{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(
        [(1, ts(5, 10), 100.0), (1, ts(5, 20), 60.0)], EVENTS_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_once():
        alerts = price_alerts_stream(
            _stream(spark, src), dim, mode="append", watermark_delay="2 minutes"
        )
        q = (
            alerts.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # run 1: watermark hasn't passed [5,6) → nothing emitted
    # "restart": new file arrives while the app is down
    spark.createDataFrame(
        [(2, ts(20, 0), 1.0)], EVENTS_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()  # run 2: resumes from checkpoint, closes [5,6)

    out = spark.read.parquet(out_dir).collect()
    assert [(r.alert_key, r.total_sum_per_minute) for r in out] == [("1", 160.0)]


def test_dedup_stream_drops_duplicates_within_watermark(spark, tmp_path):
    """Streaming exact dedup: a duplicate key arriving in a later batch
    (while its state is still within the watermark) is dropped; distinct
    keys all pass."""
    path = _write_events(
        spark,
        tmp_path,
        [
            [(1, ts(5, 10), 100.0), (2, ts(5, 20), 60.0)],
            [(1, ts(5, 40), 999.0), (3, ts(6, 0), 7.0)],  # user 1 is a dup
        ],
    )
    out = run_to_memory(
        spark,
        dedup_stream(_stream(spark, path), ["user_id"], watermark_delay="10 minutes"),
        f"dd_{uuid.uuid4().hex[:8]}",
        mode="append",
    ).collect()
    got = {r.user_id: r.value for r in out}
    assert got == {1: 100.0, 2: 60.0, 3: 7.0}


def test_latest_by_key_stream_tracks_changelog(spark, tmp_path):
    """GlobalKTable twin under streaming: the per-key latest value is
    maintained across micro-batches; later batches supersede (update
    mode re-emits the changed key with its new latest)."""
    path = _write_events(
        spark,
        tmp_path,
        [
            [(1, ts(1, 0), 10.0), (2, ts(1, 30), 20.0)],
            [(1, ts(5, 0), 99.0)],  # supersedes user 1
            [(2, ts(0, 0), 7.0)],  # OLDER than the current latest → no change
        ],
    )
    out = run_to_memory(
        spark,
        latest_by_key_stream(_stream(spark, path), ["user_id"], "ts", ["value"]),
        f"lk_{uuid.uuid4().hex[:8]}",
        mode="update",
    )
    # the memory table holds every update-emission; the LAST row per key
    # (by insertion order within the sink) is the final table state —
    # assert final state via max event time per key
    final = {
        r.user_id: (r.last_value, r.last_ts)
        for r in out.orderBy("last_ts").collect()
    }
    assert final[1] == (99.0, ts(5, 0))
    assert final[2] == (20.0, ts(1, 30))


def test_rocksdb_state_store_backend(spark, tmp_path, dim):
    """Large-state contract: the RocksDB state store provider (bundled
    with Spark 4) yields identical results to the default HDFS-backed
    provider — at 100 TB key spaces, state must spill to disk instead
    of living on the JVM heap."""
    path = _write_events(
        spark,
        tmp_path,
        [
            [(1, ts(5, 10), 100.0), (1, ts(5, 20), 60.0)],
            [(2, ts(20, 0), 1.0)],
        ],
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        out = run_to_memory(
            spark,
            price_alerts_stream(
                _stream(spark, path), dim, mode="append", watermark_delay="2 minutes"
            ),
            f"rdb_{uuid.uuid4().hex[:8]}",
            mode="append",
        ).collect()
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
    assert [(r.alert_key, r.total_sum_per_minute) for r in out] == [("1", 160.0)]


def test_streaming_session_window(spark, tmp_path):
    """F.session_window under readStream: sessions merge as events
    arrive; append mode emits a session once its gap has passed the
    watermark."""
    from pyspark.sql import functions as F

    path = _write_events(
        spark,
        tmp_path,
        [
            # two bursts 40 min apart → two sessions for user 1
            [(1, ts(0, 0), 1.0), (1, ts(5, 0), 2.0)],
            [(1, ts(45, 0), 4.0)],
            [(2, ts(0, 0) + dt.timedelta(hours=2), 8.0)],  # watermark pusher closes both
        ],
    )
    sess = (
        _stream(spark, path)
        .withWatermark("ts", "2 minutes")
        .groupBy("user_id", F.session_window(F.col("ts"), "30 minutes"))
        .agg(F.sum("value").alias("total"))
        .select(
            "user_id", F.col("session_window.start").alias("start"), "total"
        )
    )
    out = run_to_memory(
        spark, sess, f"sess_{uuid.uuid4().hex[:8]}", mode="append"
    ).collect()
    got = {(r.user_id, r.start.minute): r.total for r in out}
    # user 1: session {0,5} (merged, total 3.0) and session {45}
    assert got == {(1, 0): 3.0, (1, 45): 4.0}


def test_run_replace_session_agg_is_batch_count_independent(spark, tmp_path):
    """Session-window aggregation rejects update mode (merges would
    retract emitted rows), so the registry's streaming_sessionize runs
    complete mode through run_replace. The final trigger's re-emission
    must equal the batch answer even when the source splits into
    multiple micro-batches AND a session merges across the batch
    boundary (events 25 min apart, gap 30 → one merged session)."""
    from pyspark.sql import functions as F

    path = _write_events(
        spark,
        tmp_path,
        [
            [(1, ts(0, 0), 1.0), (2, ts(0, 0), 8.0)],
            [(1, ts(25, 0), 2.0)],   # merges into user 1's open session
            # 65 min after the merged session's last event → new session
            [(1, ts(0, 0) + dt.timedelta(minutes=90), 4.0)],
        ],
    )
    sess = (
        _stream(spark, path)
        .groupBy("user_id", F.session_window(F.col("ts"), "30 minutes"))
        .agg(F.sum("value").alias("total"))
        .select(
            "user_id", F.col("session_window.start").alias("start"), "total"
        )
    )
    out = run_replace(spark, sess).collect()
    got = {(r.user_id, r.start.minute): r.total for r in out}
    assert got == {(1, 0): 3.0, (1, 30): 4.0, (2, 0): 8.0}


def test_session_append_holdback_resolves_across_restarts(spark, tmp_path):
    """The availableNow holdback documented in run_replace: in
    append+watermark mode a session still open when input ends is
    WITHHELD, and a later restart from the same checkpoint emits it
    once new traffic pushes the watermark past its gap — the unbounded-
    state-safe alternative to complete-mode streaming_sessionize."""
    import glob
    import os

    from pyspark.sql import functions as F

    path = _write_events(
        spark, tmp_path, [[(1, ts(0, 0), 1.0), (1, ts(5, 0), 2.0)]]
    )
    ckpt = str(tmp_path / f"ckpt-{uuid.uuid4().hex[:8]}")

    def run_once():
        sess = (
            _stream(spark, path)
            .withWatermark("ts", "2 minutes")
            .groupBy("user_id", F.session_window(F.col("ts"), "30 minutes"))
            .agg(F.round(F.sum("value"), 2).alias("total"))
            .select(
                "user_id", F.col("session_window.start").alias("start"), "total"
            )
        )
        # foreachBatch, not a memory sink: the memory sink refuses
        # checkpoint recovery, and recovery is the point of this test
        emitted: list = []
        q = (
            sess.writeStream.foreachBatch(
                lambda batch_df, _id: emitted.extend(batch_df.collect())
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return emitted

    # run 1: watermark ends at 00:03 < session end 00:35 → held back
    first = run_once()
    assert first == []

    # late traffic arrives after the first run stopped
    seen = set(glob.glob(f"{path}/*.parquet"))
    spark.createDataFrame(
        [(2, ts(0, 0) + dt.timedelta(hours=2), 8.0)], EVENTS_SCHEMA
    ).coalesce(1).write.mode("append").parquet(path)
    for f in set(glob.glob(f"{path}/*.parquet")) - seen:
        os.utime(f, (1_000_000_100, 1_000_000_100))

    # run 2 (same checkpoint): watermark → 01:58, past the session gap;
    # the held-back session emits exactly once. User 2's session is
    # still open → still held.
    second = run_once()
    got = {(r.user_id, r.start.minute): r.total for r in second}
    assert got == {(1, 0): 3.0}


def test_stateful_windowed_sum_emits_closed_windows_once(spark, tmp_path):
    """U4 twin: applyInPandasWithState accumulates per-window sums,
    emits each window once when the watermark closes it, deletes state
    (transformer:37-50 + 56-90)."""
    path = _write_events(
        spark,
        tmp_path,
        [
            [(1, ts(5, 10), 100.0), (1, ts(5, 20), 60.0), (1, ts(6, 10), 10.0)],
            [(1, ts(20, 0), 1.0)],  # watermark → closes [5,6) and [6,7)
        ],
    )
    alerts = windowed_sum_stateful(
        _stream(spark, path), threshold=150.0, watermark_delay="2 minutes"
    )
    out = run_to_memory(
        spark, alerts, f"st_{uuid.uuid4().hex[:8]}", mode="append"
    ).collect()
    # [5,6) sums to 160 > 150 → alert; [6,7) sums to 10 → filtered
    assert len(out) == 1
    assert out[0].alert_key == "1"
    assert out[0].window_start_ms == int(ts(5).timestamp() * 1000)
    assert out[0].total_sum_per_minute == 160.0


def test_punctuated_emits_on_wall_clock_timer_without_new_data(spark, tmp_path):
    """W4 exact parity (VERDICT r1 #5): ProcessingTimeTimeout punctuator.

    One batch feeds key 1 past the threshold; no further data ever
    arrives and the op sets NO watermark — so the only possible emitter
    is the processing-time timer (the reference's WALL_CLOCK_TIME
    punctuator; the event-time variant could never emit here). The
    query runs on a short trigger; we poll the sink until the timer
    fires, then assert the single final alert."""
    import time

    from kafka_streams_homework_spark.streaming import windowed_sum_punctuated

    path = _write_events(
        spark,
        tmp_path,
        [[(1, ts(5, 10), 100.0), (1, ts(5, 20), 60.0)]],  # sum 160 > 150
    )
    name = f"punct_{uuid.uuid4().hex[:8]}"
    alerts = windowed_sum_punctuated(
        _stream(spark, path), threshold=150.0, interval_ms=500
    )
    q = (
        alerts.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        rows = []
        deadline = time.time() + 60
        while time.time() < deadline:
            rows = spark.sql(f"SELECT * FROM {name}").collect()
            if rows:
                break
            time.sleep(0.2)
    finally:
        q.stop()
    assert len(rows) == 1
    assert rows[0].alert_key == "1"
    assert rows[0].window_start_ms == int(ts(5).timestamp() * 1000)
    assert rows[0].total_sum_per_minute == 160.0


def test_stream_stream_interval_join_attribution(spark, tmp_path):
    """KStream-KStream windowed-join parity: clicks join impressions
    within a 10-minute attribution window; a click outside the window
    never matches. Both sides are real streams (file sources)."""
    from kafka_streams_homework_spark.streaming import interval_join_streams

    imps_path = str(tmp_path / f"imps_{uuid.uuid4().hex[:8]}")
    clicks_path = str(tmp_path / f"clicks_{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(
        [(100, 1, ts(5)), (101, 2, ts(10))],
        "imp_id long, user_id long, its timestamp",
    ).coalesce(1).write.parquet(imps_path)
    spark.createDataFrame(
        [
            (900, 1, ts(9)),   # 4 min after imp 100 → attributed
            (901, 2, ts(25)),  # 15 min after imp 101 → outside window
            (902, 3, ts(9)),   # no impression for user 3
        ],
        "click_id long, user_id long, cts timestamp",
    ).coalesce(1).write.parquet(clicks_path)

    imps = spark.readStream.schema("imp_id long, user_id long, its timestamp").parquet(
        imps_path
    )
    clicks = spark.readStream.schema(
        "click_id long, user_id long, cts timestamp"
    ).parquet(clicks_path)
    joined = interval_join_streams(
        imps.withColumnRenamed("user_id", "iuid"),
        clicks.withColumnRenamed("user_id", "cuid"),
        "iuid",
        "cuid",
        "its",
        "cts",
        upper="10 minutes",
    ).select("imp_id", "click_id")
    out = run_to_memory(
        spark, joined, f"ssj_{uuid.uuid4().hex[:8]}", mode="append"
    ).collect()
    assert [(r.imp_id, r.click_id) for r in out] == [(100, 900)]


def test_stream_stream_interval_join_left_outer_emits_unmatched(spark, tmp_path):
    """leftOuter interval join: an impression with no click in its
    window emits null-extended — but only after BOTH watermarks pass
    the impression's band, which happens in a LATER micro-batch (the
    watermark advances at end-of-batch, emission follows). Two files
    per side with pinned mtimes force that second batch."""
    import glob
    import os

    from kafka_streams_homework_spark.streaming import interval_join_streams

    def _write_batches(prefix, schema, batches):
        path = str(tmp_path / f"{prefix}_{uuid.uuid4().hex[:8]}")
        seen: set[str] = set()
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(path)
            for f in set(glob.glob(f"{path}/*.parquet")) - seen:
                os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
            seen = set(glob.glob(f"{path}/*.parquet"))
        return path

    pusher = ts(0, 0) + dt.timedelta(hours=3)
    imps_path = _write_batches(
        "imps",
        "imp_id long, iuid long, its timestamp",
        [
            [(100, 1, ts(5)), (101, 2, ts(10))],  # user 2 never clicks
            [(199, 9, pusher)],                   # watermark pusher
        ],
    )
    clicks_path = _write_batches(
        "clicks",
        "click_id long, cuid long, cts timestamp",
        [
            [(900, 1, ts(9))],                    # 4 min after imp 100
            [(999, 9, pusher)],                   # watermark pusher
        ],
    )
    imps = (
        spark.readStream.schema("imp_id long, iuid long, its timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(imps_path)
    )
    clicks = (
        spark.readStream.schema("click_id long, cuid long, cts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(clicks_path)
    )
    joined = interval_join_streams(
        imps, clicks, "iuid", "cuid", "its", "cts",
        upper="10 minutes", how="leftOuter",
    ).select("imp_id", "click_id")
    out = run_to_memory(
        spark, joined, f"ssjo_{uuid.uuid4().hex[:8]}", mode="append"
    ).collect()
    got = {(r.imp_id, r.click_id) for r in out}
    assert (100, 900) in got          # matched pair
    assert (101, None) in got         # unmatched imp, null-extended
    assert (101, 900) not in got      # no cross-user attribution


def test_streaming_windowed_distinct_counts_across_batches(spark, tmp_path):
    """Exact streaming distinct via collect_set state: ids seen in
    EARLIER micro-batches must not be double-counted, and new ids must
    grow the count — state is the id set, not a counter. run_upsert
    keeps the final count per window regardless of batch split."""
    from kafka_streams_homework_spark.streaming import (
        run_upsert,
        windowed_distinct_stream,
    )

    path = _write_events(
        spark,
        tmp_path,
        [
            [(1, ts(5, 10), 1.0), (2, ts(5, 20), 1.0)],  # users {1,2}
            [(1, ts(5, 30), 1.0), (3, ts(5, 40), 1.0)],  # +3; 1 is a repeat
        ],
    )
    out = run_upsert(
        spark,
        windowed_distinct_stream(
            _stream(spark, path).withColumn("event_type", F_lit_purchase()),
            key_col="event_type",
            ts_col="ts",
            id_col="user_id",
            window="1 minute",
        ),
        ["event_type", "window_start"],
    ).collect()
    by_window = {r.window_start: r.n_distinct for r in out}
    assert by_window[dt.datetime(2024, 1, 1, 0, 5)] == 3


def F_lit_purchase():
    from pyspark.sql import functions as F

    return F.lit("purchase")


def test_streaming_windowed_hll_within_error_of_exact(spark, sf_dir):
    """The streaming HLL estimate per (event_type, hour) must sit
    within sketch error of the exact distinct. approx_count_distinct
    defaults to rsd=5%; at these per-window cardinalities the sparse
    representation is near-exact, so 15% is a conservative bound while
    still catching a broken state merge (which would over/under-count
    by whole batches)."""
    from pyspark.sql import functions as F

    from kafka_streams_homework_spark import queries as Q
    from kafka_streams_homework_spark.sources.batch import load_table

    est = {
        (r.event_type, r.window_start): r.n_distinct_approx
        for r in Q.q_streaming_windowed_hll(spark, sf_dir).collect()
    }
    exact = {
        (r.event_type, r.window_start): r.n_exact
        for r in (
            load_table(spark, sf_dir, "events")
            .groupBy("event_type", F.date_trunc("hour", "ts").alias("window_start"))
            .agg(F.countDistinct("user_id").alias("n_exact"))
            .collect()
        )
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(1, 0.15 * n), (k, est[k], n)


def test_run_batch_transform_is_batch_count_independent(spark, tmp_path):
    """run_append with a per-batch transform (the foreachBatch escape
    for stream-static ops beyond equi-joins) must emit exactly the batch
    result however the source splits into micro-batches: a per-row-stateless asof
    lookup over three micro-batches equals the single-batch answer."""
    from pyspark.sql import functions as F

    from kafka_streams_homework_spark.operators import relational as R
    from kafka_streams_homework_spark.streaming.price_alerts import run_append

    path = _write_events(
        spark,
        tmp_path,
        [
            [(1, ts(0, 0), 1.0), (2, ts(1, 0), 2.0)],
            [(1, ts(30, 0), 3.0)],
            [(2, ts(59, 0), 4.0)],
        ],
    )
    static = spark.createDataFrame(
        [(1, ts(0, 0), 100), (1, ts(20, 0), 101), (2, ts(50, 0), 200)],
        "k long, rts timestamp, ref long",
    )

    def lookup(batch_df):
        return R.asof_join(
            batch_df.select("user_id", "ts", "value"),
            static,
            ["user_id"],
            ["k"],
            "ts",
            "rts",
            ["ref"],
        ).select("user_id", "ts", "value", "ref")

    got = {
        (r.user_id, r.ts.minute, r.value): r.ref
        for r in run_append(
            spark, _stream(spark, path), transform=lookup
        ).collect()
    }
    # batch answer: event@0 -> ref 100; event@30 -> 101 (asof 20);
    # user2@1 -> no match (NULL); user2@59 -> 200
    assert got == {
        (1, 0, 1.0): 100,
        (1, 30, 3.0): 101,
        (2, 1, 2.0): None,
        (2, 59, 4.0): 200,
    }


def test_kmv_stateful_state_merges_across_batches(spark, tmp_path):
    """The streaming KMV sketch's state is MERGEABLE (the k smallest
    of a union are among the union of each side's k smallest): the
    same 70-distinct-id input must yield an identical sketch readout
    whether it arrives as one micro-batch or three — and a group with
    fewer than k distinct ids reports exactly."""
    import uuid as _uuid

    from kafka_streams_homework_spark.streaming.price_alerts import run_upsert
    from kafka_streams_homework_spark.streaming.stateful import (
        kmv_distinct_stateful,
    )

    rows = [(1, ts(5, i % 50), float(i)) for i in range(1, 71)]
    rows += [(2, ts(6, i), float(100 + i)) for i in range(5)]
    # three batches vs one batch of the same rows
    multi = _write_events(
        spark, tmp_path, [rows[:30], rows[30:55], rows[55:]]
    )
    single = _write_events(spark, tmp_path, [rows])

    def run(path):
        sketch = kmv_distinct_stateful(
            _stream(spark, path), group_col="user_id", id_col="value", k=64
        )
        out = run_upsert(spark, sketch, ["g"])
        return {r.g: (r.n_sketch, r.kmax) for r in out.collect()}

    got_multi = run(multi)
    got_single = run(single)
    assert got_multi == got_single
    # group 2 has 5 distinct ids < k: the sketch IS the distinct set
    assert got_multi["2"][0] == 5
    # group 1 overflowed k: sketch holds exactly k minima
    assert got_multi["1"][0] == 64


def test_ohlc_stream_state_is_merge_order_safe(spark, tmp_path):
    """streaming_ohlc_bars keeps open/close via min_by/max_by over the
    deterministic (ts, event_id) order — so the OPEN tick arriving in
    the LAST micro-batch must still win, and the result must be
    identical whether ticks arrive as one batch or three (an unordered
    first()/last() would depend on arrival order)."""
    import glob
    import os
    import uuid as _uuid

    from kafka_streams_homework_spark.queries.streaming import (
        _ohlc_stream_agg,
    )
    from kafka_streams_homework_spark.streaming.price_alerts import run_upsert

    schema = "event_type string, event_id long, ts timestamp, value double"
    # one hour bucket; the chronologically FIRST tick (ts :01, id 1,
    # value 500 = the open) is placed in the LAST arriving batch
    rows = [
        ("a", 2, ts(10), 100.0),
        ("a", 3, ts(20), 900.0),   # high
        ("a", 4, ts(30), 50.0),    # low
        ("a", 5, ts(40), 200.0),   # close (latest ts, id 5)
        ("a", 1, ts(1), 500.0),    # open — arrives LAST
    ]
    path = str(tmp_path / f"ohlc-{_uuid.uuid4().hex[:8]}")
    seen: set[str] = set()
    for i, batch in enumerate([rows[:2], rows[2:4], rows[4:]]):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        for f in set(glob.glob(f"{path}/*.parquet")) - seen:
            os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
        seen = set(glob.glob(f"{path}/*.parquet"))

    def run(opts):
        reader = spark.readStream.schema(schema)
        for k, v in opts.items():
            reader = reader.option(k, v)
        agg = _ohlc_stream_agg(reader.parquet(path))
        out = run_upsert(spark, agg, ["event_type", "bucket"])
        r = out.collect()
        assert len(r) == 1
        return (r[0].open, r[0].high, r[0].low, r[0].close, r[0].n_ticks)

    multi = run({"maxFilesPerTrigger": 1})
    single = run({})
    assert multi == single == (500.0, 900.0, 50.0, 200.0, 5)


CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def test_checkpoint_manager_restart_matches_one_run(spark, tmp_path, dim):
    """Checkpoints are written through the FileSystem-based checkpoint
    manager that session.RUNTIME_CONFS selects. A stream stopped after
    its first micro-batch and restarted from the same checkpoint must
    upsert to the table of one availableNow run, and the checkpoint must
    keep every checksum file. If a Spark release moves the class, the
    stream start fails here with ClassNotFound instead of quietly falling
    back to the default manager."""
    import glob
    import os
    import time

    from kafka_streams_homework_spark.session import (
        RUNTIME_CONFS,
        apply_runtime_confs,
        get_spark,
    )

    manager = RUNTIME_CONFS[CKPT_MANAGER_KEY]
    assert manager.endswith(".FileSystemBasedCheckpointFileManager")
    assert get_spark().conf.get(CKPT_MANAGER_KEY) == manager
    # a clone inherits the launch confs, so drop the key to stand in for
    # a session built outside get_spark
    vanilla = spark.newSession()
    vanilla.conf.unset(CKPT_MANAGER_KEY)
    assert vanilla.conf.get(CKPT_MANAGER_KEY, None) is None
    assert apply_runtime_confs(vanilla).conf.get(CKPT_MANAGER_KEY) == manager

    path = _write_events(
        spark,
        tmp_path,
        [
            [(1, ts(5, 10), 100.0), (2, ts(5, 20), 60.0)],
            [(1, ts(5, 30), 40.0), (2, ts(6, 0), 30.0)],
            [(1, ts(6, 10), 70.0), (2, ts(5, 50), 5.0)],
        ],
    )
    ckpt = str(tmp_path / "ckpt")
    table: dict[tuple, float] = {}
    batch_ids: list[int] = []

    def alerts():
        return price_alerts_stream(
            _stream(spark, path), dim, mode="update", threshold=0.0
        )

    def upsert(batch_df, batch_id):
        batch_ids.append(batch_id)
        for r in batch_df.collect():
            table[(r.alert_key, r.window_start)] = r.total_sum_per_minute

    def start(**trigger):
        return (
            alerts()
            .writeStream.foreachBatch(upsert)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(**trigger)
            .start()
        )

    # run 1: batch 0 runs at start and the next trigger is an hour away;
    # progress is posted only after the batch's commit-log entry
    q = start(processingTime="1 hour")
    deadline = time.monotonic() + 120
    while q.lastProgress is None:
        if not q.isActive:
            q.awaitTermination()  # raises the query's error
        assert time.monotonic() < deadline, "first micro-batch never committed"
        time.sleep(0.1)
    q.stop()
    assert batch_ids == [0]
    # run 2 resumes from the checkpoint: no batch replays
    assert start(availableNow=True).awaitTermination(300), "restart never ended"
    assert batch_ids == [0, 1, 2]

    once = run_upsert(spark, alerts(), ["alert_key", "window_start"]).collect()
    assert table == {
        (r.alert_key, r.window_start): r.total_sum_per_minute for r in once
    }
    assert table == {
        ("1", ts(5)): 140.0,
        ("1", ts(6)): 70.0,
        ("2", ts(5)): 65.0,
        ("2", ts(6)): 30.0,
    }

    # Hadoop's .N.crc beside every offset and commit file
    for log in ("offsets", "commits"):
        names = set(os.listdir(os.path.join(ckpt, log)))
        for n in batch_ids:
            assert {str(n), f".{n}.crc"} <= names, (log, n, sorted(names))
    # state deltas (version = batch id + 1) keep Hadoop's .N.delta.crc and
    # Spark's own N.delta.crc
    parts = glob.glob(os.path.join(ckpt, "state", "0", "[0-9]*"))
    assert parts
    for part in parts:
        names = set(os.listdir(part))
        for v in range(1, len(batch_ids) + 1):
            want = {f"{v}.delta", f".{v}.delta.crc", f"{v}.delta.crc"}
            assert want <= names, (part, v, sorted(names))


def test_apply_runtime_confs_warns_on_rejected_conf():
    """A conf the session refuses is a warning that names the key, not a
    silent skip."""
    import types

    from kafka_streams_homework_spark.session import (
        RUNTIME_CONFS,
        apply_runtime_confs,
    )

    class _RejectingConf:
        def set(self, key, value):
            raise RuntimeError(f"cannot modify {key}")

        def get(self, key, default=None):
            return "200"

    session = types.SimpleNamespace(
        conf=_RejectingConf(),
        sparkContext=types.SimpleNamespace(defaultParallelism=4),
    )
    with pytest.warns(RuntimeWarning) as caught:
        apply_runtime_confs(session)
    messages = [str(w.message) for w in caught]
    for key in [*RUNTIME_CONFS, "spark.sql.shuffle.partitions"]:
        assert any(key in m for m in messages), key


# Three one-file micro-batches touching two users and two windows. The
# last file's user 3 event moves the watermark ("2 minutes") past both
# windows; user 3 is not in the dimension, and its own window stays
# open. Every row is on time, so update and append forms agree.
_THREE_BATCHES = [
    [(1, ts(5, 10), 100.0), (2, ts(5, 20), 60.0)],
    [(1, ts(5, 30), 40.0), (2, ts(6, 0), 30.0), (2, ts(5, 40), 5.0)],
    [(1, ts(6, 10), 70.0), (3, ts(20, 0), 1.0)],
]
_THREE_BATCH_SUMS = {
    ("1", ts(5)): 140.0,
    ("1", ts(6)): 70.0,
    ("2", ts(5)): 65.0,
    ("2", ts(6)): 30.0,
}


def test_results_do_not_depend_on_state_partition_count(spark, tmp_path):
    """The state partition count only decides which state-store instance
    holds a key group: an update-mode upsert and an append-mode stateful
    stream, each split into several micro-batches, give the same table
    on 1, 4 and 8 partitions."""
    from kafka_streams_homework_spark.queries import _stream_session
    from kafka_streams_homework_spark.streaming import run_append

    path = _write_events(spark, tmp_path, _THREE_BATCHES)
    upserted, appended = {}, {}
    for p in (1, 4, 8):
        qs = _stream_session(spark, p)
        assert qs.conf.get("spark.sql.shuffle.partitions") == str(p)
        dim = qs.createDataFrame([(1, "u1"), (2, "u2")], DIM_SCHEMA)
        alerts = price_alerts_stream(_stream(qs, path), dim, mode="update", threshold=0.0)
        upserted[p] = {
            (r.alert_key, r.window_start): r.total_sum_per_minute
            for r in run_upsert(spark, alerts, ["alert_key", "window_start"]).collect()
        }
        closed = windowed_sum_stateful(
            _stream(qs, path), threshold=0.0, watermark_delay="2 minutes"
        )
        appended[p] = sorted(
            (r.alert_key, r.window_start_ms, r.total_sum_per_minute)
            for r in run_append(spark, closed).collect()
        )
    assert upserted[1] == upserted[4] == upserted[8] == _THREE_BATCH_SUMS
    want = sorted(
        (k, int(w.timestamp() * 1000), v) for (k, w), v in _THREE_BATCH_SUMS.items()
    )
    assert appended[1] == appended[4] == appended[8] == want


def test_eight_partition_checkpoint_restarts_under_the_default(spark, tmp_path):
    """A checkpoint begun on 8 state partitions keeps them when the
    stream restarts on the default (4-partition) session: the count in
    the offset log wins, no batch replays, and the upserted table equals
    one availableNow run."""
    import os
    import time

    from kafka_streams_homework_spark.queries import _stream_session

    path = _write_events(spark, tmp_path, _THREE_BATCHES)
    ckpt = str(tmp_path / "ckpt")
    table: dict[tuple, float] = {}
    batch_ids: list[int] = []

    def alerts(qs):
        dim = qs.createDataFrame([(1, "u1"), (2, "u2")], DIM_SCHEMA)
        return price_alerts_stream(_stream(qs, path), dim, mode="update", threshold=0.0)

    def upsert(batch_df, batch_id):
        batch_ids.append(batch_id)
        for r in batch_df.collect():
            table[(r.alert_key, r.window_start)] = r.total_sum_per_minute

    def start(qs, **trigger):
        return (
            alerts(qs)
            .writeStream.foreachBatch(upsert)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(**trigger)
            .start()
        )

    # run 1 on 8 partitions: batch 0 runs at start, the next trigger is
    # an hour away
    q = start(_stream_session(spark, 8), processingTime="1 hour")
    deadline = time.monotonic() + 120
    while q.lastProgress is None:
        if not q.isActive:
            q.awaitTermination()  # raises the query's error
        assert time.monotonic() < deadline, "first micro-batch never committed"
        time.sleep(0.1)
    q.stop()
    assert batch_ids == [0]
    # run 2 resumes on the default session
    default = _stream_session(spark)
    assert default.conf.get("spark.sql.shuffle.partitions") == "4"
    assert start(default, availableNow=True).awaitTermination(300), "restart never ended"
    assert batch_ids == [0, 1, 2]

    once = run_upsert(
        spark, alerts(_stream_session(spark)), ["alert_key", "window_start"]
    ).collect()
    assert table == {(r.alert_key, r.window_start): r.total_sum_per_minute for r in once}
    assert table == _THREE_BATCH_SUMS
    # one directory per state partition, beside the operator's _metadata,
    # and each of the 8 committed every batch, the restarted ones included
    state = os.path.join(ckpt, "state", "0")
    parts = [n for n in os.listdir(state) if n.isdigit()]
    assert sorted(parts, key=int) == [str(i) for i in range(8)]
    for part in parts:
        names = set(os.listdir(os.path.join(state, part)))
        assert {"1.delta", "2.delta", "3.delta"} <= names, (part, sorted(names))


_TYPED_SCHEMA = "k string, t timestamp, a array<double>, n long"
_TYPED_BATCHES = [
    [("a", ts(1), [1.0, 2.0], None), ("b", ts(2), [], 7)],
    [("a", ts(3), [3.0], 8)],
]


@pytest.mark.parametrize("emit", [True, False], ids=["rows", "no-rows"])
def test_collectors_return_the_stream_schema(spark, tmp_path, emit):
    """Every collector hands back exactly the schema of what it drains
    (the transformed schema when a transform is given) — a timestamp, an
    array and a nullable column included — whether the stream emitted
    rows or none."""
    from pyspark.sql import functions as F

    path = _write_events(spark, tmp_path, _TYPED_BATCHES, _TYPED_SCHEMA)

    def stream():
        df = _stream(spark, path, _TYPED_SCHEMA)
        return df if emit else df.filter(F.col("k") == "none")

    def widen(df):
        return df.withColumn("m", F.size("a"))

    per_key = stream().groupBy("k").agg(
        F.max("t").alias("t"), F.collect_list("a").alias("as"), F.max("n").alias("n")
    )
    checks = [
        ("append", run_append(spark, stream()), stream().schema, 3),
        ("transform", run_append(spark, stream(), transform=widen), widen(stream()).schema, 3),
        ("upsert", run_upsert(spark, stream(), ["k"]), stream().schema, 2),
        ("replace", run_replace(spark, per_key), per_key.schema, 2),
    ]
    for name, out, schema, rows in checks:
        assert out.schema == schema, name
        assert out.count() == (rows if emit else 0), name


def test_upsert_keeps_the_last_row_per_key_across_batches(spark, tmp_path):
    """run_upsert over three one-file micro-batches keeps the last value
    per key: a later batch wins, within a batch the later row wins, and
    rows with a null key share one key. Rows keep the order in which
    their key first appeared."""
    schema = "k string, v long"
    path = _write_events(
        spark,
        tmp_path,
        [
            [("a", 1), (None, 10), ("c", 5), ("c", 6)],
            [("b", 3), (None, 11), ("a", 2)],
            [("a", 4)],
        ],
        schema,
    )
    out = run_upsert(spark, _stream(spark, path, schema), ["k"]).collect()
    assert [(r.k, r.v) for r in out] == [("a", 4), (None, 11), ("c", 6), ("b", 3)]
