"""alerts-live: open loop. A generator thread drops a small seeded
parquet file of purchase events into a watched directory on a fixed
schedule; the reference DSL pipeline (``price_alerts_stream`` in update
mode, stream-static join on the customer dimension) runs on the default
trigger into a ``foreachBatch`` upsert sink. Every file carries one
probe event that alone crosses the threshold in a fresh (key, window),
so its alert latency is one observation of the micro-batch floor."""

from __future__ import annotations

import calendar
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import harness as H
import inputs
import layers

FILE_PERIOD_S = 0.05  # 20 files/s: well below the sustainable rate
EVENTS_PER_FILE = 15
CUSTOMERS = 1_500  # keys of the ordinary events
PROBE_KEYS = 4_000  # probe keys follow the ordinary ones in the dimension
PROBE_VALUE = 1_000.0
# Alert latency falls for 30-40 s after the first alert while the JIT
# warms; 20 s of warm-up skips its steep part and fits the run budget
# (STEADINESS.md).
WARMUP_S = 20.0
REWARM_S = 3.0
SLICE_S = 2.0
GRACE_S = 10.0


class Generator(threading.Thread):
    """Writes one file per period, on schedule whatever the pipeline
    does; each file's event time is its due time."""

    def __init__(self, rng, watch: str, staging: str):
        super().__init__(daemon=True)
        self.rng, self.watch, self.staging = rng, watch, staging
        self.stop_flag = threading.Event()
        self.t0 = time.time()
        self.tables: list[pa.Table] = []
        self.probes: list[tuple[str, int, float]] = []  # (key, window_us, due)
        self.late_ms: list[tuple[float, float]] = []  # (due, lateness)
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            k = 0
            while not self.stop_flag.is_set():
                due = self.t0 + k * FILE_PERIOD_S
                delay = due - time.time()
                if delay > 0 and self.stop_flag.wait(delay):
                    break
                self.late_ms.append((due, 1000 * max(0.0, time.time() - due)))
                self._write(k, due)
                k += 1
        except BaseException as ex:  # surfaced by check()
            self.error = ex

    def _write(self, k: int, due: float) -> None:
        due_us = int(due * 1e6)
        n = EVENTS_PER_FILE
        probe_key = CUSTOMERS + k % PROBE_KEYS
        users = np.append(inputs.skewed_keys(self.rng, n, 0, CUSTOMERS), probe_key)
        values = np.append(inputs.event_values(self.rng, n), PROBE_VALUE)
        table = pa.table(
            {
                "event_id": np.arange(k * (n + 1), (k + 1) * (n + 1), dtype="int64"),
                "ts": pa.array(np.full(n + 1, due_us), pa.timestamp("us")),
                "user_id": users.astype("int64"),
                "event_type": pa.array(["purchase"] * (n + 1)),
                "value": values,
                "props": pa.array(['{"k": 0}'] * (n + 1)),
            },
            schema=inputs.EVENT_SCHEMA,
        )
        name = f"part-{k:06d}.parquet"
        pq.write_table(table, os.path.join(self.staging, name))
        os.rename(os.path.join(self.staging, name), os.path.join(self.watch, name))
        self.tables.append(table)
        self.probes.append((str(probe_key), due_us // 60_000_000 * 60_000_000, due))


class AlertsLive:
    unit = "1000 events"

    def __init__(self, root: str, rng):
        from kafka_streams_homework_spark import queries as Q

        self.root, self.rng, self.Q = root, rng, Q
        self.query = None
        self.gen: Generator | None = None
        self.seen: dict[tuple[str, int], float] = {}
        self.table: dict[tuple[str, int], float] = {}
        self.sink_ms: list[tuple[float, float]] = []
        self.attempted = 0
        self.problems: list[str] = []

    # -- sink ------------------------------------------------------------
    def _upsert(self, batch_df, _batch_id: int) -> None:
        t0 = time.time()
        rows = batch_df.collect()
        now = time.time()
        for r in rows:
            key = (r["alert_key"], calendar.timegm(r["window_start"].timetuple()) * 1_000_000)
            self.table[key] = r["total_sum_per_minute"]
            self.seen.setdefault(key, now)
        self.sink_ms.append((t0, 1000 * (now - t0)))

    # -- set-up ----------------------------------------------------------
    def close(self) -> None:
        """Stop the generator and the stream (before the SparkContext)."""
        if self.gen is not None:
            self.gen.stop_flag.set()
            self.gen.join()
        if self.query is not None:
            self.query.stop()
        self.gen = self.query = None

    def set_up(self, spark, rep: int, seed: int) -> None:
        from kafka_streams_homework_spark.sources.batch import load_table
        from kafka_streams_homework_spark.streaming import price_alerts_stream

        self.seen, self.table, self.sink_ms = {}, {}, []
        base = os.path.join(self.root, f"live-{rep}")
        dirs = {d: os.path.join(base, d) for d in ("dim", "watch", "staging", "ckpt")}
        for d in dirs.values():
            os.makedirs(d)
        rng = np.random.default_rng([seed, 3])
        inputs.write_table(dirs["dim"], "customer", inputs.customer_table(rng, CUSTOMERS + PROBE_KEYS))
        qs = self.Q._stream_session(spark)
        dim = load_table(qs, dirs["dim"], "customer")
        stream = (
            qs.readStream.schema(inputs.EVENT_SCHEMA_DDL)
            .option("cleanSource", "delete")
            .parquet(dirs["watch"])
        )
        alerts = price_alerts_stream(stream, dim, threshold=self.Q.ALERT_THRESHOLD, mode="update")
        self.query = (
            alerts.writeStream.foreachBatch(self._upsert)
            .outputMode("update")
            .option("checkpointLocation", dirs["ckpt"])
            .start()
        )
        self.gen = Generator(rng, dirs["watch"], dirs["staging"])
        self.gen.start()
        self.watch = dirs["watch"]
        while not self.seen:  # the first alert: the pipeline is live
            self._raise_if_failed()
            time.sleep(0.01)

    def _raise_if_failed(self) -> None:
        if self.gen.error is not None:
            raise self.gen.error
        if self.query.exception() is not None:
            raise RuntimeError(str(self.query.exception()))

    # -- latency ---------------------------------------------------------
    def _latencies(self, t_from: float, t_to: float) -> tuple[list, list]:
        """(probe, latency ms) for probes due in [t_from, t_to); probes
        not yet alerted are returned separately."""
        done, missing = [], []
        for key, win, due in list(self.gen.probes):
            if t_from <= due < t_to:
                seen = self.seen.get((key, win))
                if seen is None:
                    missing.append((key, win, due))
                else:
                    done.append(1000 * (seen - due))
        return done, missing

    def _wait_alerted(self, t_from: float, t_to: float) -> None:
        deadline = time.time() + GRACE_S
        while self._latencies(t_from, t_to)[1] and time.time() < deadline:
            self._raise_if_failed()
            time.sleep(0.01)

    def warm_up(self, spark, seconds: float = WARMUP_S) -> list[float]:
        """p50 alert latency per slice of the warm-up."""
        t0 = time.time()
        time.sleep(seconds)
        self._wait_alerted(t0, t0 + seconds)
        curve = []
        for i in range(int(seconds / SLICE_S)):
            lat, _ = self._latencies(t0 + i * SLICE_S, t0 + (i + 1) * SLICE_S)
            curve.append(H.median(lat) if lat else float("nan"))
        return curve

    def rewarm(self, spark) -> None:
        self.warm_up(spark, REWARM_S)

    def measure(self, spark, seconds: float, tracer: H.Tracer) -> dict:
        cpu0 = H.cpu_snapshot()
        start = time.time()
        time.sleep(seconds)
        end = time.time()
        cpu = H.cpu_delta(cpu0, H.cpu_snapshot())
        backlog = len(os.listdir(self.watch))
        self._raise_if_failed()
        self._wait_alerted(start, end)
        kept = self.query.recentProgress or []
        if not kept or _epoch(kept[0]["timestamp"]) > start:
            # the engine dropped the oldest progress entries: the window's
            # event count would come out short
            raise RuntimeError("recentProgress does not reach back to the window start")
        progress = [p for p in kept if start <= _epoch(p["timestamp"]) < end]
        lat, missing = self._latencies(start, end)
        self.attempted += len(lat) + len(missing)
        self.problems += [f"probe {k} window {w} never alerted" for k, w, _ in missing]
        events = sum(p["numInputRows"] for p in progress)
        if tracer.enabled:
            for p in progress:
                t = _epoch(p["timestamp"])
                tracer.add("trigger", t, t + p["durationMs"].get("triggerExecution", 0) / 1000,
                           batch=p["batchId"], phases=p["durationMs"])
        return {
            "window": (start, end),
            "cpu": cpu,
            "latency_ms": lat,
            "events": events,
            "units": max(events, 1) / 1000,
            "spark_units": max(len(progress), 1),
            "progress": progress,
            "backlog_files_end": backlog,
            "sink_ms": [ms for t, ms in self.sink_ms if start <= t < end],
            "late_ms": [ms for due, ms in self.gen.late_ms if start <= due < end],
        }

    def drift_ratio(self, curve: list[float], win: dict) -> float:
        return curve[-1] / H.median(win["latency_ms"])

    def check(self, spark) -> tuple[int, int, list[str]]:
        """Every measured probe alerted, and the final upserted alert
        table equals a recomputation over the generator's own log."""
        self.gen.stop_flag.set()
        self.gen.join()
        self.query.processAllAvailable()
        self._raise_if_failed()
        log = pa.concat_tables(self.gen.tables)
        users = log["user_id"].to_numpy()
        minute = log["ts"].cast(pa.int64()).to_numpy() // 60_000_000 * 60_000_000
        sums: dict[tuple[str, int], float] = {}
        for u, m, v in zip(users, minute, log["value"].to_numpy()):
            sums[(str(u), int(m))] = sums.get((str(u), int(m)), 0.0) + float(v)
        want = {k: round(v, 2) for k, v in sums.items() if round(v, 2) > self.Q.ALERT_THRESHOLD}
        diff = set(want.items()) ^ set(self.table.items())
        problems = self.problems + [f"alert table differs at {k}" for k in sorted({k for k, _ in diff})]
        self.close()
        return self.attempted, min(len(problems), self.attempted), problems

    # -- metrics ---------------------------------------------------------
    def end_to_end(self, win: dict, cpu_s: float) -> dict:
        lat = win["latency_ms"]
        seconds = win["window"][1] - win["window"][0]
        return {
            "latency_p50_ms": H.median(lat),
            "latency_p95_ms": H.pct(lat, 95),
            "throughput_per_s": win["events"] / seconds,
            "cpu_ms_per_unit": 1000 * cpu_s / win["units"],
            # the same figures under workload-specific names (printed table only)
            "alert_latency_p50_ms": H.median(lat),
            "alert_latency_p95_ms": H.pct(lat, 95),
            "sustained_events_per_s": win["events"] / seconds,
            "cpu_ms_per_kevent": 1000 * cpu_s / win["units"],
            "probes": len(lat),
        }

    def layers(self, win: dict) -> dict:
        out = layers.progress_phases(win["progress"])
        out.update({
            "sink.materialize_ms_p50": H.median(win["sink_ms"]) if win["sink_ms"] else 0.0,
            "gen.late_ms_p50": H.median(win["late_ms"]),
            "gen.late_ms_max": max(win["late_ms"]),
            "stream.backlog_files_end": win["backlog_files_end"],
        })
        return out


def _epoch(iso: str) -> float:
    """recentProgress timestamps: '2026-01-01T00:00:00.123Z' (UTC)."""
    from datetime import datetime, timezone

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
