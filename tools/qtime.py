"""Single-query timing loop for the optimization rounds.

Times individual registry queries with the same methodology as
bench.py (noop sink, caches released between legs) without paying for
the full 170-query sweep. Optionally dumps .explain("formatted") per
query, for the plans/rNN before/after evidence.

Usage:
  python tools/qtime.py [--runs N] [--explain-dir DIR] [--tag TAG] \
      [sf_dir] query [query ...]
  python tools/qtime.py [--runs N] [sf_dir] --stateful-streams

``--stateful-streams`` times every registry query that builds its
stream on ``queries._stream_session`` (the stateful streams), so a
state-layout change gets a one-command A/B: run it in both checkouts
and compare the sum of mins it prints last.

Prints one line per query: name, legs (sorted), median, min.
"""

from __future__ import annotations

import inspect
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_homework_spark import queries as Q  # noqa: E402
from kafka_streams_homework_spark.caching import release_caches  # noqa: E402
from kafka_streams_homework_spark.session import get_spark  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    runs = 3
    explain_dir = None
    tag = ""
    stateful = False
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

    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    # warmup: JVM + parquet footers
    registry["source_scan"](spark, sf_dir).count()

    mins = []
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
        legs = []
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            t0 = time.perf_counter()
            registry[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            legs.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
            release_caches()
        legs.sort()
        if not legs:
            print(f"{name}: plan captured (no timing legs)", flush=True)
            continue
        med = legs[len(legs) // 2]
        mins.append(legs[0])
        print(
            f"{name}: legs={[round(x, 3) for x in legs]} "
            f"median={med:.3f} min={legs[0]:.3f}",
            flush=True,
        )
    if len(mins) > 1:
        print(f"{len(mins)} queries: sum of mins={sum(mins):.3f}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
