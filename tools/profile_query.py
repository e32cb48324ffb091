"""Profile a registry query: job/stage/task breakdown via event logs.

Creates the engine session with eventLog enabled, runs each named query
once (noop sink, warm JVM), then parses the event log to report per-job
wall time, stage task counts, and cumulative task time — the local
substitute for the Spark UI (disabled in this sandbox).

Usage: python tools/profile_query.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import json
import os
import shlex
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LOGDIR = "/tmp/spark-events"


def main() -> int:
    argv = sys.argv[1:]
    if argv and os.path.isdir(argv[0]):
        sf_dir, names = argv[0], argv[1:]
    else:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        names = argv
    import shutil

    shutil.rmtree(LOGDIR, ignore_errors=True)
    os.makedirs(LOGDIR, exist_ok=True)

    # Event logging is a static conf: pass it at launch, so the session
    # comes from the engine's own factory.
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": LOGDIR,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"

    from kafka_streams_homework_spark.session import get_spark

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")

    from kafka_streams_homework_spark import queries as Q
    from kafka_streams_homework_spark.caching import release_caches

    registry = Q.queries()
    registry["source_scan"](spark, sf_dir).count()

    nruns = int(os.environ.get("PROFILE_RUNS", "2"))
    marks = {}
    for name in names:
        # run twice: the first run pays codegen/JIT compile; the second
        # is the warm shape the bench medians actually measure. Each run
        # gets its own description so the report can show both.
        for r in range(nruns):
            spark.sparkContext.setJobDescription(f"profile:{name}#{r}")
            t0 = time.time()
            registry[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            marks[f"{name}#{r}"] = (t0, time.time())
            spark.sparkContext.setJobDescription(None)
            release_caches()
    app_start = spark.sparkContext.startTime  # ms epoch
    spark.stop()

    # parse the event log (Spark 4 may write a rolling-log directory)
    logs = []
    for root, _dirs, files in os.walk(LOGDIR):
        for f in files:
            if "appstatus" not in f:
                logs.append(os.path.join(root, f))
    assert len(logs) == 1, logs
    jobs = {}  # jobId -> dict
    stages = {}  # stageId -> dict
    with open(logs[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description", ""),
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                d = stages.setdefault(si["Stage ID"], {})
                d["name"] = si["Stage Name"].split("\n")[0][:60]
                d["tasks"] = si["Number of Tasks"]
                d["ms"] = (si.get("Completion Time", 0) or 0) - (
                    si.get("Submission Time", 0) or 0
                )
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                ti = ev.get("Task Info", {})
                d = stages.setdefault(sid, {})
                d["task_ms"] = d.get("task_ms", 0) + (
                    ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                )

    for name, (t0, t1) in marks.items():
        # attribute by submission time: streaming queries run jobs from
        # their own threads with their own descriptions
        js = [
            j
            for j in jobs.values()
            if "t1" in j and t0 <= j["t0"] / 1000.0 <= t1
        ]
        print(f"\n=== {name}: wall={t1 - t0:.3f}s  jobs={len(js)}")
        js.sort(key=lambda j: j["t0"])
        prev_end = None
        for j in js:
            gap = (j["t0"] - prev_end) / 1000.0 if prev_end else 0.0
            prev_end = j["t1"]
            sts = [s for s in j["stages"] if s in stages and stages[s].get("ms")]
            stage_str = "; ".join(
                f"{stages[s].get('tasks', '?')}t/{stages[s].get('ms', 0)}ms"
                f"/{stages[s].get('task_ms', 0)}tms {stages[s].get('name','')[:38]}"
                for s in sorted(sts)
            )
            print(
                f"  job {(j['t1'] - j['t0']) / 1000.0:7.3f}s gap={gap:6.3f}s"
                f"  [{stage_str}]"
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
