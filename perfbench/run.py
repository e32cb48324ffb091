"""Benchmark entry point: one workload, one process.

    python3 perfbench/run.py --workload registry-mix --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it is the
full run record (``record: {...}``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

# Fail fast, before any set-up, when the engine is not in the checkout.
import kafka_streams_homework_spark  # noqa: E402,F401

import harness as H  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("alerts-live", "registry-mix")
# A window during which the hypervisor took more than this share of the
# VM's CPU time (steal: host time no program change can cause) is
# measured once more, and the window with less steal is reported.
STEAL_LIMIT = 0.05
MAX_WINDOWS = 2
E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "throughput_per_s": "1/s",
    "cpu_ms_per_unit": "ms",
}


def make_workload(name: str, root: str, rng):
    if name == "registry-mix":
        from mix import RegistryMix

        return RegistryMix(root, rng)
    from live import AlertsLive

    return AlertsLive(root, rng)


def restart(wl, rep: int, seed: int):
    """Set the workload up again on a fresh SparkContext."""
    wl.close()
    spark = H.start_session()
    wl.set_up(spark, rep, seed)
    return spark


def measure_quiet(wl, spark, seconds: float, record: dict) -> dict:
    """The untraced window: a second one if the first saw more than
    STEAL_LIMIT steal. Every window's results are checked."""
    wins = []
    for _ in range(MAX_WINDOWS):
        t0 = H.host_ticks()
        win = wl.measure(spark, seconds, H.Tracer(False))
        t1 = H.host_ticks()
        win["steal_share"] = (t1[1] - t0[1]) / max(t1[0] - t0[0], 1)
        wins.append(win)
        if win["steal_share"] <= STEAL_LIMIT:
            break
    record["window_steal"] = [w["steal_share"] for w in wins]
    return min(wins, key=lambda w: w["steal_share"])


def run(args) -> dict:
    import numpy as np

    cpus = os.cpu_count() or 1
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": cpus, "loadavg_start": os.getloadavg()}
    root = H.make_root()
    wl = None
    try:
        H.prepare_env(root, cpus)
        wl = make_workload(args.workload, root, np.random.default_rng([args.seed, 0]))
        # Set-up, from process start: imports, JVM launch, inputs, the
        # first op and the warm-up. setup_s is all of it.
        spark = H.start_session()
        record["session.get_spark_s"] = time.perf_counter() - T_START
        wl.set_up(spark, 0, args.seed)
        record["setup.first_op_s"] = time.perf_counter() - T_START
        record["warmup_curve"] = wl.warm_up(spark)
        setup_s = time.perf_counter() - T_START
        ticks0 = H.host_ticks()

        traced, extra = None, {}
        if not args.trace:
            bare = measure_quiet(wl, spark, args.seconds, record)
        else:
            # Two half windows: untraced on the warmed context, then
            # traced with the event log on, on a fresh SparkContext after
            # one more warm-up. Their latency ratio is the tracing overhead.
            bare = wl.measure(spark, args.seconds / 2, H.Tracer(False))
            tracer = H.Tracer(True)
            H.enable_event_log(spark, os.path.join(root, "eventlog"))
            spark = restart(wl, 1, args.seed)
            wl.rewarm(spark)
            probe = layers.attach(spark, tracer)
            traced = wl.measure(spark, args.seconds / 2, tracer)
            if hasattr(wl, "after_trace"):
                extra = wl.after_trace(spark, args.seed, tracer, probe.progress, H.start_session)
                spark = H.active_session()
            layers.detach(probe)
        ticks1 = H.host_ticks()
        # share of host CPU time taken by the hypervisor from this VM
        record["steal_share"] = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
        attempted, failed, problems = wl.check(spark)
        record.update(attempted=attempted, failed=failed, problems=problems[:20])

        e2e = wl.end_to_end(bare, sum(bare["cpu"].values()))
        e2e["setup_s"] = setup_s
        e2e["failed_op_share"] = failed / max(attempted, 1)
        record["end_to_end"] = e2e
        record["window_detail"] = wl.layers(bare)
        record["window_passes"] = bare.get("passes")
        record["warmup.drift_ratio"] = wl.drift_ratio(record["warmup_curve"], bare)
        if traced is not None:
            spark.stop()  # flushes the event log
            record["layers"] = layers.collect(wl, traced, tracer, root, record, bare)
            record["layers"].update(extra)
            record["spans"] = tracer.summary()
            if args.record:
                tracer.dump(args.record + ".spans.json")
    finally:
        if wl is not None:
            wl.close()
        H.shutdown_jvm()
        H.remove_root(root)
    return record


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the run record (and spans) to this path")
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the scratch root and the JVM
    # are still cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    record = run(args)
    if args.trace:
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in record["layers"].items()}
    else:
        metrics = {k: {"value": record["end_to_end"][k], "unit": u} for k, u in E2E_UNITS.items()}
    for name, val in sorted(record["end_to_end"].items()):
        print(f"{args.workload:13s} {name:28s} {val:14.4f}")
    if args.record:
        with open(args.record, "w") as fh:
            json.dump(record, fh, indent=1)
    print("record: " + json.dumps(record))
    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
