"""In-session stall watchdog for streaming_stateful_alerts (r10 verdict #1).

BASELINE.md's round-10 closing leg recorded 20.9-25.6 s in-session
runs of streaming_stateful_alerts vs 3.45 s on a quiet leg — same
code, same box, unexplained. This harness reproduces the bench
session shape (many streaming queries in one long-lived session,
then the suspect query repeatedly) and captures evidence DURING any
stall instead of adjudicating after the fact.

``watch`` is the one watchdog: tools/qtime.py arms it on every timing
leg after the first, and this probe arms it per rep at
max(3x running median, 10 s). Once armed it dumps, at most 3 times,
3 s apart, until the block finishes:
  * JVM thread dump (jcmd Thread.print) — state-store maintenance,
    Arrow channel, lock owners are all visible here
  * JVM GC heap info (jcmd GC.heap_info)
  * Python driver stacks (faulthandler.dump_traceback)
into /tmp/stall_probe/<tag>-d<k>.txt. Per-rep wall times print as they
land; one JSON line at the end.

Usage: python tools/stall_probe.py [reps] [sf_dir] [--pollute N]
  reps      suspect-query repetitions (default 12)
  sf_dir    fixture dir (default /root/testdata/sf0.1)
  --pollute N  run N registry streaming queries first, round-robin,
               to accumulate in-session state-store providers, temp
               checkpoints and python workers like a bench leg does
               (default 0 = quiet session)
"""

from __future__ import annotations

import contextlib
import faulthandler
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import warnings
from collections.abc import Iterator

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_homework_spark import queries as Q  # noqa: E402

DUMP_DIR = "/tmp/stall_probe"

# streaming polluters in bench order — the kinds of queries that ran
# before the r10 closing-leg stall (stateful, watermark, foreachBatch)
POLLUTERS = [
    "streaming_latest_by_key",
    "streaming_price_alerts",
    "streaming_sessionize_append",
    "streaming_kmv_distinct",
    "streaming_page_hinkley",
    "streaming_rate_gate",
    "streaming_dedup",
    "streaming_quality_score",
]

SUSPECT = "streaming_stateful_alerts"


def jvm_pid(spark) -> int | None:
    """The driver JVM's pid, or None (with a RuntimeWarning: no stall
    evidence can be taken) when it cannot be read."""
    try:
        return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    except Exception as e:
        warnings.warn(
            f"stall watchdog off: cannot read the JVM pid: {e!r}", RuntimeWarning, stacklevel=2
        )
        return None


def jcmd(pid: int, cmd: str) -> str:
    try:
        out = subprocess.run(
            ["jcmd", str(pid), cmd],
            capture_output=True,
            text=True,
            timeout=30,
        )
        return out.stdout + out.stderr
    except Exception as e:  # jcmd missing or timed out — still record
        return f"<jcmd {cmd} failed: {e}>"


def dump_all(pid: int, tag: str) -> str:
    os.makedirs(DUMP_DIR, exist_ok=True)
    path = os.path.join(DUMP_DIR, f"{tag}.txt")
    with open(path, "w") as f:
        f.write(f"=== {time.strftime('%H:%M:%S')} {tag} ===\n")
        f.write("\n--- jcmd Thread.print ---\n")
        f.write(jcmd(pid, "Thread.print"))
        f.write("\n--- jcmd GC.heap_info ---\n")
        f.write(jcmd(pid, "GC.heap_info"))
        f.write("\n--- python driver stacks ---\n")
        faulthandler.dump_traceback(file=f, all_threads=True)
    return path


@contextlib.contextmanager
def watch(pid: int | None, arm_s: float, tag: str) -> Iterator[list[str]]:
    """Watch the block: once it has run ``arm_s`` seconds, dump the
    JVM's and the driver's stacks, at most 3 times, 3 s apart. Yields
    the list the dump paths are appended to. ``pid=None`` watches
    nothing."""
    dumps: list[str] = []
    if pid is None:
        yield dumps
        return
    done = threading.Event()
    started = time.monotonic()

    def watchdog() -> None:
        if done.wait(timeout=arm_s):
            return
        for k in range(3):
            path = dump_all(pid, f"{tag}-d{k}")
            dumps.append(path)
            print(
                f"  [watchdog] {time.monotonic() - started:.1f}s elapsed "
                f"(arm {arm_s:.1f}s) -> {path}",
                file=sys.stderr,
                flush=True,
            )
            if done.wait(timeout=3.0):
                return

    thread = threading.Thread(target=watchdog, daemon=True)
    thread.start()
    try:
        yield dumps
    finally:
        done.set()
        thread.join(timeout=5)


def main() -> None:
    from tools import qtime  # not at module level: qtime imports watch from here

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = int(args[0]) if len(args) > 0 else 12
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    pollute = 0
    if "--pollute" in sys.argv:
        pollute = int(sys.argv[sys.argv.index("--pollute") + 1])
    arm_floor = 10.0  # never arm below this many seconds

    spark = qtime.start("stall-probe", sf_dir)
    pid = jvm_pid(spark)
    qs = Q.queries()
    print(f"jvm pid {pid}; pollute {pollute}; reps {reps} of {SUSPECT}")

    t0 = time.monotonic()
    for i in range(pollute):
        name = POLLUTERS[i % len(POLLUTERS)]
        s = time.monotonic()
        qs[name](spark, sf_dir).collect()
        print(f"pollute {i + 1}/{pollute} {name}: "
              f"{time.monotonic() - s:.2f}s", flush=True)
    pollute_s = time.monotonic() - t0

    times: list[float] = []
    dumps: list[str] = []
    for i in range(reps):
        arm = max(3 * statistics.median(times), arm_floor) if times else arm_floor
        rep_start = time.monotonic()
        with watch(pid, arm, f"{int(time.time())}-rep{i}") as found:
            qs[SUSPECT](spark, sf_dir).collect()
        dt = time.monotonic() - rep_start
        dumps += found
        times.append(dt)
        print(f"rep {i + 1}/{reps}: {dt:.2f}s", flush=True)

    med = statistics.median(times)
    print(json.dumps({
        "suspect": SUSPECT,
        "sf_dir": sf_dir,
        "pollute": pollute,
        "pollute_s": round(pollute_s, 2),
        "times_s": [round(t, 2) for t in times],
        "median_s": round(med, 2),
        "max_s": round(max(times), 2),
        "max_over_median": round(max(times) / med, 2),
        "dumps": dumps,
    }))


if __name__ == "__main__":
    main()
