"""The alert drain, measured layer by layer inside traced registry-mix
runs: a seeded backlog drained through the same alert logic in three
forms — the update-mode stream into the ``run_upsert`` collector, the
``applyInPandasWithState`` stream into ``run_append``, and the batch
twin. The fixed per-stream cost is paid once per drain, so per-event
executor, state, Python-worker and collector costs weigh far more than
on alerts-live.

It is not an end-to-end workload of its own: on a 4-core box its drain
time moves by more than any usable bound from one process to the next
(see STEADINESS.md)."""

from __future__ import annotations

import os
import time

import harness as H
import inputs
from loop import QueryLoop

DRAIN_QUERIES = ["price_alerts", "streaming_price_alerts", "streaming_stateful_alerts"]
BACKLOG_EVENTS = 3_000
BACKLOG_FILES = 8
CUSTOMERS = 1_500


class AlertsDrain(QueryLoop):
    queries = DRAIN_QUERIES
    input_prefix = "backlog"

    def make_inputs(self, sf_dir: str, seed: int) -> None:
        inputs.drain_backlog(sf_dir, seed, BACKLOG_EVENTS, CUSTOMERS, BACKLOG_FILES)

    def probe(self, spark, seed: int, tracer: H.Tracer, progress: list, restart) -> dict:
        """One warm-up drain pass, one measured pass (listener and timers
        attached by the caller), then a warm-up and a measured pass on a
        single-core SparkContext. Every measured pass's results are
        checked."""
        self.set_up(spark, 0, seed)
        self._pass(spark)
        t0, seen = time.time(), len(progress)
        wall, out = self._pass(spark, tracer)
        self._keep(out)
        time.sleep(0.5)  # listener events arrive asynchronously
        batches = progress[seen:]
        layers = {f"query_ms.{e['name']}": e["ms"] for e in out}
        layers.update({
            "streaming.drain_batches": len(batches),
            "streaming.state_commit_ms": sum(
                op["commitTimeMs"] for p in batches for op in p.get("stateOperators", [])
            ),
            "drain.events_per_s": len(out) * BACKLOG_EVENTS / wall,
        })
        for name in ("run_upsert", "run_append"):
            layers[f"streaming.{name}_ms"] = sum(tracer.durations_ms(f"streaming.{name}", t0))
        layers["sources.events_stream_build_ms"] = sum(
            tracer.durations_ms("streaming._events_stream", t0)
        )
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        try:
            spark = restart()
            self._pass(spark)  # warm the new context as the 4-core side was
            one_core, out = self._pass(spark)
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
        self._keep(out)
        layers["drain.speedup_vs_1core"] = one_core / wall
        return layers
