"""registry-mix: closed loop, one client, over non-streaming registry
queries on a fixture with the sf0.1 row counts. The cost measured is
each query's fixed floor: plan building, Catalyst analysis, job
submission and the driver gaps between jobs."""

from __future__ import annotations

import harness as H
import inputs
from drain import AlertsDrain
from loop import QueryLoop

# Eight floor-bound queries (under 0.6 s warm at sf0.1), the bounded
# driver loop dedup_cluster_sizes (about 2.4 s, almost all inside the
# registry call) and the Arrow-Python UDF query wav_pipeline; six
# registry families.
MIX = [
    "latest_by_key",
    "interval_join",
    "rollup_agg",
    "semi_join",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "token_count",
    "knn_bruteforce",
    "dedup_cluster_sizes",
    "wav_pipeline",
]


class RegistryMix(QueryLoop):
    queries = MIX
    warmup_passes = 2
    input_prefix = "fixture"
    drain: AlertsDrain | None = None

    def make_inputs(self, sf_dir: str, seed: int) -> None:
        inputs.registry_fixture(sf_dir)  # the seed only permutes the pass order

    def end_to_end(self, win: dict, cpu_s: float) -> dict:
        p50, p95 = self.latency(win)
        wall = win["window"][1] - win["window"][0]
        return {
            "latency_p50_ms": p50,
            "latency_p95_ms": p95,
            "throughput_per_s": len(win["execs"]) / wall,
            "cpu_ms_per_unit": 1000 * cpu_s / win["units"],
            # the same figures under workload-specific names (printed table only)
            "pass_s": H.median(win["passes"]),
            "query_geomean_ms": p50,
            "cpu_s_per_pass": cpu_s / win["n_passes"],
        }

    def layers(self, win: dict) -> dict:
        execs, n = win["execs"], win["n_passes"]
        out = {
            "queries.build_ms": sum(e["build_ms"] for e in execs) / n,
            "caching.release_ms": sum(e["release_ms"] for e in execs) / n,
            "caching.released": sum(e["released"] for e in execs) / n,
        }
        for name, v in sorted(self.per_query(execs).items()):
            out[f"query_ms.{name}"] = H.median(v)
        for name, v in sorted(self.per_query(execs, "build_ms").items()):
            out[f"build_ms.{name}"] = H.median(v)
        return out

    def after_trace(self, spark, seed: int, tracer: H.Tracer, progress: list, restart) -> dict:
        """Traced runs also drain the alert backlog, layer by layer."""
        self.drain = AlertsDrain(self.root, self.rng)
        return self.drain.probe(spark, seed, tracer, progress, restart)

    def check(self, spark) -> tuple[int, int, list[str]]:
        attempted, failed, problems = super().check(spark)
        if self.drain is not None:
            a, f, p = self.drain.check(spark)
            attempted, failed, problems = attempted + a, failed + f, problems + p
        return attempted, failed, problems
