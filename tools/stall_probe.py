"""In-session stall watchdog for streaming_stateful_alerts (r10 verdict #1).

BASELINE.md's round-10 closing leg recorded 20.9-25.6 s in-session
runs of streaming_stateful_alerts vs 3.45 s on a quiet leg — same
code, same box, unexplained. This harness reproduces the bench
session shape (many streaming queries in one long-lived session,
then the suspect query repeatedly) and captures evidence DURING any
stall instead of adjudicating after the fact:

- a watchdog thread arms per rep; when elapsed > max(3x running
  median, --arm-floor), it dumps, every 2 s until the rep finishes:
  * JVM thread dump (jcmd Thread.print) — state-store maintenance,
    Arrow channel, lock owners are all visible here
  * JVM GC heap info (jcmd GC.heap_info)
  * Python driver stacks (faulthandler.dump_traceback)
  into /tmp/stall_probe/<ts>-rep<i>-dump<k>.txt
- per-rep wall times print as they land; one JSON line at the end.

Usage: python tools/stall_probe.py [reps] [sf_dir] [--pollute N]
  reps      suspect-query repetitions (default 12)
  sf_dir    fixture dir (default /root/testdata/sf0.1)
  --pollute N  run N registry streaming queries first, round-robin,
               to accumulate in-session state-store providers, temp
               checkpoints and python workers like a bench leg does
               (default 0 = quiet session)
"""

from __future__ import annotations

import faulthandler
import json
import os
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_homework_spark import queries as Q  # noqa: E402
from kafka_streams_homework_spark.session import get_spark  # noqa: E402

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


def jvm_pid(spark) -> int:
    return int(
        spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    )


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


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = int(args[0]) if len(args) > 0 else 12
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    pollute = 0
    if "--pollute" in sys.argv:
        pollute = int(sys.argv[sys.argv.index("--pollute") + 1])
    arm_floor = 10.0  # never arm below this many seconds

    spark = get_spark()
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
        done = threading.Event()
        rep_start = time.monotonic()

        def watchdog(idx: int = i, started: float = rep_start,
                     flag: threading.Event = done) -> None:
            med = statistics.median(times) if times else None
            arm = max(3 * med, arm_floor) if med else arm_floor
            k = 0
            while not flag.wait(timeout=0.5):
                if time.monotonic() - started >= arm:
                    tag = (f"{int(time.time())}-rep{idx}-dump{k}")
                    p = dump_all(pid, tag)
                    dumps.append(p)
                    print(f"  [watchdog] {time.monotonic() - started:.1f}s "
                          f"elapsed (arm {arm:.1f}s) -> {p}", flush=True)
                    k += 1
                    if flag.wait(timeout=2.0):
                        break

        w = threading.Thread(target=watchdog, daemon=True)
        w.start()
        qs[SUSPECT](spark, sf_dir).collect()
        done.set()
        w.join(timeout=5)
        dt = time.monotonic() - rep_start
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
