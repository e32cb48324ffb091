"""The one query timer: session set-up and the timing loop that
bench.py, tools/scale_probe.py and tools/stall_probe.py share.

Each leg runs a registry query to completion on the noop sink and
releases the caches it built; from the second leg on, a stall watchdog
(tools/stall_probe.watch) is armed. As a CLI it times the named
queries without paying for the full bench sweep, optionally dumps
.explain("formatted") per query, and with ``--layers`` adds a per-query
Spark layer breakdown from the event log (perfbench/harness.py's
``event_log_layers``: jobs, stages, tasks, planning, driver gap, task
run and CPU time, GC, shuffle, spill and skew, per leg).

Usage:
  python tools/qtime.py [--runs N] [--explain-dir DIR] [--tag TAG] \
      [--layers] [sf_dir] query [query ...]
  python tools/qtime.py [--runs N] [sf_dir] --stateful-streams

``--stateful-streams`` times every registry query that builds its
stream on ``queries._stream_session`` (the stateful streams), so a
state-layout change gets a one-command A/B: run it in both checkouts
and compare ``sum_min_s``.

Prints one line per query (name, legs sorted, median, min), then the
sum of mins, then one JSON record as the last line:
``{sf_dir, runs, queries: {name: {legs, median_s, min_s[, layers]}},
sum_min_s, stall_dumps}``. Streaming rows/s is the ``events`` row count
over ``min_s`` of ``streaming_price_alerts`` or
``streaming_stateful_alerts``.
"""

from __future__ import annotations

import importlib.util
import inspect
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
from typing import NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kafka_streams_homework_spark import queries as Q  # noqa: E402
from kafka_streams_homework_spark.caching import release_caches  # noqa: E402
from kafka_streams_homework_spark.session import get_spark  # noqa: E402
from tools.stall_probe import jvm_pid, watch  # noqa: E402


class Leg(NamedTuple):
    seconds: float
    window: tuple[float, float]  # epoch seconds, for the event log
    dumps: list[str]  # stall watchdog dumps taken during the leg


def start(app_name: str, sf_dir: str, layers: bool = False):
    """The engine's session, quiet, warmed up on ``source_scan`` (JVM
    and parquet footers). ``layers=True`` writes the Spark event log to
    a fresh temporary directory, named by the ``spark.eventLog.dir``
    conf; event logging is a launch-time conf, so this must run before
    anything else in the process starts the JVM."""
    if layers:
        confs = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": tempfile.mkdtemp(prefix="qtime-events-"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    spark = get_spark(app_name)
    spark.sparkContext.setLogLevel("ERROR")
    Q.queries()["source_scan"](spark, sf_dir).count()
    return spark


def legs(spark, fn, sf_dir: str, runs: int) -> list[Leg]:
    """Time ``runs`` legs of ``fn(spark, sf_dir)``. From the second leg
    on, a leg that runs past max(3 x the fastest leg so far, 6 s) gets
    mid-stall JVM and Python stack dumps."""
    pid = jvm_pid(spark)
    out: list[Leg] = []
    for _ in range(runs):
        fastest = min((leg.seconds for leg in out), default=0.0)
        spark.sparkContext.setJobDescription(f"qtime:{fn.__name__}")
        tag = f"qtime-{int(time.time())}-{fn.__name__}"
        with watch(pid if out else None, max(3 * fastest, 6.0), tag) as dumps:
            t0, w0 = time.perf_counter(), time.time()
            # noop write, not count(): count() lets Catalyst prune every
            # column and answer map-only plans from parquet metadata; the
            # noop sink evaluates every output column and drops the rows
            # executor-side (no driver collect)
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            seconds, window = time.perf_counter() - t0, (w0, time.time())
        spark.sparkContext.setJobDescription(None)
        # each leg re-pays its own cache build, and a heavy query's
        # cached tables never squat on executor storage while the next
        # leg or query is timed
        release_caches()
        out.append(Leg(seconds, window, list(dumps)))
    return out


def _event_log_layers():
    """perfbench/harness.py's event-log parser, loaded by path."""
    spec = importlib.util.spec_from_file_location(
        "qtime_perfbench_harness", os.path.join(ROOT, "perfbench", "harness.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.event_log_layers


def main() -> int:
    argv = sys.argv[1:]
    runs = 3
    explain_dir = None
    tag = ""
    stateful = False
    layers = False
    positional: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--runs":
            runs = int(argv[i + 1])
            i += 2
        elif a == "--explain-dir":
            explain_dir = argv[i + 1]
            i += 2
        elif a == "--tag":
            tag = argv[i + 1]
            i += 2
        elif a == "--stateful-streams":
            stateful = True
            i += 1
        elif a == "--layers":
            layers = True
            i += 1
        elif a.startswith("--"):
            raise SystemExit(f"unknown flag {a}")
        else:
            positional.append(a)
            i += 1
    if positional and os.path.isdir(positional[0]):
        sf_dir = positional[0]
        names = positional[1:]
    else:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        names = positional
    registry = Q.queries()
    if stateful:
        names += [
            n for n, fn in registry.items() if "_stream_session(" in inspect.getsource(fn)
        ]
    if not names:
        raise SystemExit("no queries given")
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = start("qtime", sf_dir, layers=layers)
    log_dir = spark.sparkContext.getConf().get("spark.eventLog.dir") if layers else None
    timed: dict[str, list[Leg]] = {}
    record: dict[str, dict] = {}
    try:
        for name in names:
            if explain_dir:
                os.makedirs(explain_dir, exist_ok=True)
                df = registry[name](spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                    df._jdf.queryExecution(), "formatted"
                )
                suffix = f"_{tag}" if tag else ""
                with open(os.path.join(explain_dir, f"{name}{suffix}.txt"), "w") as fh:
                    fh.write(plan)
                release_caches()
            run = legs(spark, registry[name], sf_dir, runs)
            if not run:
                print(f"{name}: plan captured (no timing legs)", flush=True)
                continue
            timed[name] = run
            secs = sorted(leg.seconds for leg in run)
            q = record[name] = {
                "legs": [round(x, 3) for x in secs],
                "median_s": round(secs[len(secs) // 2], 3),
                "min_s": round(secs[0], 3),
            }
            print(
                f"{name}: legs={q['legs']} median={q['median_s']:.3f} min={q['min_s']:.3f}",
                flush=True,
            )
        spark.stop()  # flushes the event log
        if log_dir:
            parse = _event_log_layers()
            for name, run in timed.items():
                breakdown = parse(log_dir, [leg.window for leg in run], units=len(run))
                record[name]["layers"] = {k: round(v, 3) for k, v in breakdown.items()}
    finally:
        if log_dir:
            shutil.rmtree(log_dir, ignore_errors=True)
    sum_min = round(sum(q["min_s"] for q in record.values()), 3)
    if len(record) > 1:
        print(f"{len(record)} queries: sum of mins={sum_min:.3f}", flush=True)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "runs": runs,
                "queries": record,
                "sum_min_s": sum_min,
                "stall_dumps": [d for run in timed.values() for leg in run for d in leg.dumps],
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
