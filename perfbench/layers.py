"""Per-layer metrics of a traced run.

Every workload reports every name in ``UNITS``; a layer that is not on
a workload's path reads 0 there (for example ``query_ms.token_count``
on alerts-live). Sources, by layer:

- session, queries, caching: timers around the public calls, in the
  workload modules;
- sources, streaming: ``StreamingQuery.recentProgress`` and a
  ``StreamingQueryListener``, plus timers wrapped around the public
  streaming functions while the traced window runs;
- the Spark engine under the operators: the Spark event log;
- CPU by process kind: /proc, over the process tree.
"""

from __future__ import annotations

import functools
import os
import time

import harness as H
from drain import DRAIN_QUERIES
from mix import MIX

SPARK_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.sql_planning_ms": "ms",
    "spark.driver_gap_ms": "ms",
    "spark.task_run_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew_ratio": "ratio",
}
STREAM_UNITS = {
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "rows",
    "stream.trigger_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_offsets_ms_p50": "ms",
    "stream.state_rows": "rows",
    "stream.state_memory_bytes": "bytes",
    "stream.state_commit_ms_p50": "ms",
    "sink.materialize_ms_p50": "ms",
    "gen.late_ms_p50": "ms",
    "gen.late_ms_max": "ms",
    "stream.backlog_files_end": "count",
    "sources.latest_offset_ms_p50": "ms",
    "sources.get_batch_ms_p50": "ms",
}
UNITS = {
    "session.get_spark_s": "s",
    "warmup.drift_ratio": "ratio",
    "sources.events_stream_build_ms": "ms",
    "queries.build_ms": "ms",
    **{f"query_ms.{n}": "ms" for n in MIX + DRAIN_QUERIES},
    **{f"build_ms.{n}": "ms" for n in MIX},
    **SPARK_UNITS,
    "python.worker_cpu_ms": "ms",
    "jvm.cpu_ms": "ms",
    "driver.py_cpu_ms": "ms",
    **STREAM_UNITS,
    "streaming.run_upsert_ms": "ms",
    "streaming.run_append_ms": "ms",
    "streaming.drain_batches": "count",
    "streaming.state_commit_ms": "ms",
    "caching.release_ms": "ms",
    "caching.released": "count",
    "drain.events_per_s": "1/s",
    "drain.speedup_vs_1core": "ratio",
    "trace.overhead_pct": "%",
}

# Public streaming functions timed in traced runs: (module, attribute).
TIMED = [
    ("kafka_streams_homework_spark.queries.streaming", "run_upsert"),
    ("kafka_streams_homework_spark.streaming", "run_append"),
    ("kafka_streams_homework_spark.queries.streaming", "price_alerts_stream"),
    ("kafka_streams_homework_spark.streaming.stateful", "windowed_sum_stateful"),
    ("kafka_streams_homework_spark.queries.streaming", "_events_stream"),
]


def progress_phases(progress: list[dict]) -> dict:
    """Medians of the micro-batch phases in ``recentProgress`` entries."""

    def p50(key):
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return H.median(vals) if vals else 0.0

    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    return {
        "stream.batches": len(progress),
        "stream.rows_per_batch_p50": H.median([p["numInputRows"] for p in progress]) if progress else 0,
        "stream.trigger_ms_p50": p50("triggerExecution"),
        "stream.add_batch_ms_p50": p50("addBatch"),
        "stream.query_planning_ms_p50": p50("queryPlanning"),
        "stream.wal_commit_ms_p50": p50("walCommit"),
        "stream.commit_offsets_ms_p50": p50("commitOffsets"),
        "sources.latest_offset_ms_p50": p50("latestOffset"),
        "sources.get_batch_ms_p50": p50("getBatch"),
        "stream.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
        "stream.state_memory_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        "stream.state_commit_ms_p50": H.median([o["commitTimeMs"] for o in ops]) if ops else 0,
    }


class _Probe:
    """Listener plus function timers for a traced window."""

    def __init__(self, tracer: H.Tracer):
        self.tracer = tracer
        self.progress: list[dict] = []
        self.saved: list[tuple] = []


def attach(spark, tracer: H.Tracer) -> _Probe:
    import importlib
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    probe = _Probe(tracer)

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            probe.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    probe.listener = Listener()
    probe.sessions = [spark]
    spark.streams.addListener(probe.listener)
    for mod_name, attr in TIMED:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, attr)
        probe.saved.append((mod, attr, fn))
        setattr(mod, attr, _timed(tracer, attr, fn))
    # Streaming queries run on per-query session clones, each with its
    # own query manager: listen on every clone the registry makes.
    mod = importlib.import_module("kafka_streams_homework_spark.queries.streaming")
    clone = mod._stream_session

    def listened_clone(*a, **kw):
        qs = clone(*a, **kw)
        qs.streams.addListener(probe.listener)
        probe.sessions.append(qs)
        return qs

    probe.saved.append((mod, "_stream_session", clone))
    mod._stream_session = listened_clone
    return probe


def _timed(tracer: H.Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with tracer.span(f"streaming.{name}"):
            return fn(*a, **kw)

    return wrapper


def detach(probe: _Probe) -> None:
    # listener events arrive asynchronously; let the bus drain
    time.sleep(0.5)
    for mod, attr, fn in probe.saved:
        setattr(mod, attr, fn)
    for qs in probe.sessions:
        qs.streams.removeListener(probe.listener)


def collect(wl, traced: dict, tracer: H.Tracer, root: str, record: dict, bare: dict) -> dict:
    out = {k: 0.0 for k in UNITS}
    units = traced["units"]
    cpu = traced["cpu"]
    out["python.worker_cpu_ms"] = 1000 * cpu["python_worker"] / units
    out["jvm.cpu_ms"] = 1000 * cpu["jvm"] / units
    out["driver.py_cpu_ms"] = 1000 * cpu["driver"] / units
    out["session.get_spark_s"] = record["session.get_spark_s"]
    out["warmup.drift_ratio"] = record["warmup.drift_ratio"]
    out.update(H.event_log_layers(os.path.join(root, "eventlog"), [traced["window"]], traced["spark_units"]))
    out.update(wl.layers(traced))
    traced_p50 = wl.end_to_end(traced, sum(cpu.values()))["latency_p50_ms"]
    bare_p50 = wl.end_to_end(bare, sum(bare["cpu"].values()))["latency_p50_ms"]
    out["trace.overhead_pct"] = 100 * (traced_p50 / bare_p50 - 1)
    return out
