"""Shared machinery of the benchmark: the per-run scratch root, the
Spark session, process-tree CPU, statistics, oracle hashing, spans and
the Spark event log.

Nothing here imports pyspark at module level: ``prepare_env`` must set
the launch-time environment before the JVM starts.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib.util
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(CHECKOUT, ".perfbench_tmp")


# ---------------------------------------------------------------------------
# Scratch root and launch-time environment
# ---------------------------------------------------------------------------


def make_root() -> str:
    """A fresh per-run directory inside the checkout."""
    root = os.path.join(SCRATCH, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(root)
    return root


def remove_root(root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(SCRATCH)  # only when no other run is using it


def prepare_env(root: str, cpus: int) -> None:
    """Point every scratch write (JVM tmp, Spark local dirs, warehouse,
    Python tempfiles, streaming temp checkpoints) into ``root``. Must
    run before the JVM starts: these are launch-time settings."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        TZ="UTC",
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_WAREHOUSE_DIR=os.path.join(root, "warehouse"),
    )
    time.tzset()
    confs = {
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        "spark.ui.showConsoleProgress": "false",
        # keep every micro-batch's progress of a run, not just the last 100
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def enable_event_log(spark, log_dir: str) -> None:
    """Turn the Spark event log on for every SparkContext created after
    this call, through JVM system properties (a new SparkConf loads
    them), so the engine's session factory stays untouched."""
    os.makedirs(log_dir, exist_ok=True)
    props = spark.sparkContext._jvm.java.lang.System
    props.setProperty("spark.eventLog.enabled", "true")
    props.setProperty("spark.eventLog.dir", log_dir)
    props.setProperty("spark.eventLog.compress", "false")
    props.setProperty("spark.eventLog.rolling.enabled", "false")


def active_session():
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession()


def shutdown_jvm(timeout: float = 60) -> None:
    """Stop the SparkContext, then close the JVM's stdin (it exits on
    EOF) and wait for it, so the run leaves no process behind."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=timeout)


def start_session():
    """A new SparkContext through the engine's own session factory."""
    from pyspark.sql import SparkSession

    from kafka_streams_homework_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# Process-tree CPU from /proc
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, cpu seconds incl. reaped children, kind)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            kind = "python_worker"
        elif "java" in cmd.split(" ")[0]:
            kind = "jvm"
        else:
            kind = "driver"
        out[int(name)] = (int(fields[1]), ticks / _TICK, kind)
    return out


def cpu_snapshot() -> dict[str, float]:
    """CPU seconds so far of this process and all its descendants (the
    driver's Python, the JVM, Spark's Python workers), split by kind."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    me = os.getpid()
    split = {"driver": 0.0, "jvm": 0.0, "python_worker": 0.0}
    stack = [me]
    while stack:
        pid = stack.pop()
        if pid in table:
            _, cpu, kind = table[pid]
            split["driver" if pid == me else kind] += cpu
        stack.extend(children.get(pid, ()))
    return split


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def host_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7]


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def pct(values, q: float) -> float:
    """Linear-interpolated q-th percentile (0..100)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(values) -> float:
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median(values) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------------------
# Oracle hashing: the engine's own oracle-gate normalisation
# ---------------------------------------------------------------------------


@functools.cache
def _oracle_gate():
    """tools/check_oracle.py, loaded by path (it edits sys.path on
    import, which is undone here)."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(CHECKOUT, "tools", "check_oracle.py")
    )
    module = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved
    return module


def table_digest(rows, cols) -> str:
    return _oracle_gate().table_digest(rows, cols)


class Oracle:
    """DuckDB over the generated tables, one view per table."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            self.con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")

    def digest(self, sql: str) -> tuple[int, list[str], str]:
        rel = self.con.sql(sql)
        rows = rel.fetchall()
        cols = [d[0] for d in rel.description]
        return len(rows), sorted(cols), table_digest(rows, cols)

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------
# Spans (traced runs only)
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent id and
    the trace id shared by one op's spans. Written out at the end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, trace: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "parent": parent, "trace": trace,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        try:
            yield rec["id"]
        finally:
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent=None, trace="", **attrs) -> int:
        rec = {"id": len(self.spans), "name": name, "parent": parent, "trace": trace,
               "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec["id"]

    def durations_ms(self, name: str, since: float = 0.0) -> list[float]:
        return [1000 * (s["end"] - s["start"]) for s in self.spans
                if s["name"] == name and s["start"] >= since]

    def summary(self) -> dict:
        """Per span name: count, total and self time (ms). Self time is
        a span's duration minus the part its child spans cover."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = 1000 * (s["end"] - s["start"])
            own = dur - _intervals_ms(
                [(max(a, s["start"]) * 1000, min(b, s["end"]) * 1000) for a, b in kids.get(s["id"], [])]
            )
            agg = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            agg["count"] += 1
            agg["total_ms"] += dur
            agg["self_ms"] += own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# Spark event log (traced runs only)
# ---------------------------------------------------------------------------


def _intervals_ms(intervals) -> float:
    """Total length of a union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_layers(log_dir: str, windows: list[tuple[float, float]], units: float) -> dict:
    """Spark-engine layer metrics from the event log, over jobs that
    started inside the measured ``windows`` (epoch seconds), per unit
    of work (a pass or a micro-batch).

    Planning is the gap from a SQL execution's start to its first job;
    driver gap is measured window time not covered by any running job.
    """
    wins = [(a * 1000, b * 1000) for a, b in windows]

    def inside(t):
        return any(a <= t <= b for a, b in wins)

    jobs: dict[int, list] = {}
    stage_ids, ran_stages = set(), set()
    tasks, sql_start, sql_first_job = [], {}, {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"]
                    if inside(t):
                        jobs[ev["Job ID"]] = [t, t]
                        stage_ids.update(s["Stage ID"] for s in ev["Stage Infos"])
                        exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                        if exec_id is not None:
                            sql_first_job.setdefault(int(exec_id), t)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    ran_stages.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    if ev["Stage ID"] in stage_ids and ev.get("Task Metrics"):
                        tasks.append(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    sql_start[ev["executionId"]] = ev["time"]
    run_ms, cpu_ms, gc_ms, sr, sw, spill = [], 0.0, 0.0, 0, 0, 0
    per_stage: dict[int, list[float]] = {}
    for ev in tasks:
        m = ev["Task Metrics"]
        run_ms.append(m["Executor Run Time"])
        per_stage.setdefault(ev["Stage ID"], []).append(m["Executor Run Time"])
        cpu_ms += m["Executor CPU Time"] / 1e6
        gc_ms += m["JVM GC Time"]
        r = m.get("Shuffle Read Metrics") or {}
        sr += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
        sw += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    skews = [max(v) / statistics.mean(v) for v in per_stage.values() if len(v) > 1 and statistics.mean(v) > 0]
    planning = [sql_first_job[e] - sql_start[e] for e in sql_first_job if e in sql_start]
    covered = _intervals_ms([tuple(j) for j in jobs.values()])
    window_ms = sum(b - a for a, b in wins)
    u = max(units, 1)
    return {
        "spark.jobs": len(jobs) / u,
        "spark.stages": len(stage_ids & ran_stages) / u,
        "spark.tasks": len(tasks) / u,
        "spark.sql_planning_ms": sum(planning) / u,
        "spark.driver_gap_ms": (window_ms - covered) / u,
        "spark.task_run_ms": sum(run_ms) / u,
        "spark.task_cpu_ms": cpu_ms / u,
        "spark.gc_ms": gc_ms / u,
        "spark.shuffle_read_bytes": sr / u,
        "spark.shuffle_write_bytes": sw / u,
        "spark.spill_bytes": spill / u,
        "spark.task_skew_ratio": median(skews) if skews else 1.0,
    }
