"""Closed loop over registry queries: the shared driver of registry-mix
and of the alert drain in its traced runs. One client runs the workload's queries in a seeded
permuted order, pass after pass; every execution is timed, hashed
outside the timed region and checked against its DuckDB oracle."""

from __future__ import annotations

import os
import time

import harness as H


class QueryLoop:
    queries: list[str] = []
    warmup_passes = 1
    input_prefix = "inputs"

    def __init__(self, root: str, rng):
        from kafka_streams_homework_spark import queries as Q

        self.root, self.rng, self.Q = root, rng, Q
        self.sf_dir = ""
        self.execs: list[dict] = []  # every checked execution

    def make_inputs(self, sf_dir: str, seed: int) -> None:
        raise NotImplementedError

    # -- set-up ----------------------------------------------------------
    def set_up(self, spark, rep: int, seed: int) -> None:
        """Inputs once per run (a set-up on a fresh context reuses
        them), then the first op."""
        if not self.sf_dir:
            self.sf_dir = os.path.join(self.root, self.input_prefix)
            self.make_inputs(self.sf_dir, seed)
        self._run_one(spark, self.queries[0])

    def close(self) -> None:
        pass

    # -- one op ----------------------------------------------------------
    def _run_one(self, spark, name: str, tracer: H.Tracer | None = None, parent=None, trace=""):
        """Registry call (plan build; a streaming query runs here), then
        collect, then release of the tracked caches."""
        from kafka_streams_homework_spark.caching import release_caches

        w0, t0 = time.time(), time.perf_counter()
        df = self.Q.REGISTRY[name].fn(spark, self.sf_dir)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        released = release_caches()
        t3 = time.perf_counter()
        if tracer is not None and tracer.enabled:
            w1, w2, w3 = (w0 + t - t0 for t in (t1, t2, t3))
            q = tracer.add("query", w0, w2, parent, trace, query=name)
            tracer.add("build", w0, w1, q, trace)
            tracer.add("collect", w1, w2, q, trace)
            tracer.add("release", w2, w3, q, trace, released=released)
        return {"name": name, "build_ms": 1000 * (t1 - t0), "ms": 1000 * (t2 - t0),
                "release_ms": 1000 * (t3 - t2), "released": released,
                "rows": rows, "cols": df.columns}

    def _pass(self, spark, tracer=None, index=0):
        """One pass in a fresh seeded order."""
        order = [self.queries[i] for i in self.rng.permutation(len(self.queries))]
        t0 = time.perf_counter()
        with (tracer or H.Tracer(False)).span("pass", index=index) as pid:
            out = [self._run_one(spark, name, tracer, pid, f"{name}#{index}") for name in order]
        return time.perf_counter() - t0, out

    def _keep(self, execs: list[dict]) -> None:
        for e in execs:  # hashing stays outside the timed region
            e["digest"] = (len(e["rows"]), sorted(e["cols"]), H.table_digest(e["rows"], e["cols"]))
            del e["rows"]
        self.execs.extend(execs)

    # -- phases ----------------------------------------------------------
    def warm_up(self, spark) -> list[float]:
        return [self._pass(spark)[0] for _ in range(self.warmup_passes)]

    def rewarm(self, spark) -> None:
        self._pass(spark)

    def measure(self, spark, seconds: float, tracer: H.Tracer) -> dict:
        """Whole passes until ``seconds`` have elapsed (the pass running
        at the deadline completes). Every query runs equally often, so
        per-execution throughput and CPU do not depend on where the
        deadline falls, and per-pass counts (jobs, stages, tasks) repeat
        exactly."""
        passes, execs = [], []
        cpu0 = H.cpu_snapshot()
        start, t0 = time.time(), time.perf_counter()
        while time.perf_counter() < t0 + seconds:
            wall, out = self._pass(spark, tracer, len(passes))
            execs.extend(out)
            passes.append(wall)
        end, cpu = time.time(), H.cpu_delta(cpu0, H.cpu_snapshot())
        self._keep(execs)
        return {"passes": passes, "execs": execs, "n_passes": len(passes),
                "units": len(execs), "spark_units": len(passes),
                "window": (start, end), "cpu": cpu}

    def drift_ratio(self, curve: list[float], win: dict) -> float:
        return curve[-1] / H.median(win["passes"])

    def check(self, spark) -> tuple[int, int, list[str]]:
        oracle = H.Oracle(self.sf_dir)
        try:
            want = {n: oracle.digest(self.Q.REGISTRY[n].oracle) for n in self.queries}
        finally:
            oracle.close()
        bad = [f"{e['name']}: {e['digest'][:2]} vs {want[e['name']][:2]}"
               for e in self.execs if e["digest"] != want[e["name"]]]
        return len(self.execs), len(bad), bad

    # -- metrics ---------------------------------------------------------
    @staticmethod
    def per_query(execs, key="ms") -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for e in execs:
            out.setdefault(e["name"], []).append(e[key])
        return out

    def latency(self, win: dict) -> tuple[float, float]:
        """Geomean over the queries of each query's median and p95."""
        per = self.per_query(win["execs"]).values()
        return H.geomean(H.median(v) for v in per), H.geomean(H.pct(v, 95) for v in per)
