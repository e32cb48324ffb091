"""Steadiness check: run one workload under several seeds and report,
per end-to-end metric, the median, quartiles and the spread (distance
between the first and third quartile over the median).

    python3 perfbench/steady.py --workload alerts-live --seeds 1-10 [--seconds 10] [--out FILE]

Each run is a separate process, exactly as the benchmark is invoked.
``--out`` writes every run's result line and the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RECORD_KEYS = ("seed", "loadavg_start", "nproc", "session.get_spark_s", "setup.first_op_s",
               "warmup_curve", "warmup.drift_ratio", "window_passes", "steal_share", "window_steal",
               "end_to_end", "window_detail")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(results: list[dict]) -> dict:
    out = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2,
                     "unit": results[0]["metrics"][name]["unit"]}
    return out


def markdown(workload: str, summary: dict, records: list[dict], walls: list[float]) -> str:
    """The summary as markdown: one row per end-to-end metric, then the
    warm-up curve and drift of every run."""
    rows = [f"| {workload} | `{n}` | {s['unit']} | {s['median']:.4g} | {s['q1']:.4g} | "
            f"{s['q3']:.4g} | {s['spread']:.3f} |" for n, s in summary.items()]
    curves = [f"- seed {r['seed']}: warm-up {[round(x, 2) for x in r['warmup_curve']]}, "
              f"window passes {[round(x, 2) for x in r['window_passes'] or []]}, "
              f"drift {r['warmup.drift_ratio']:.2f}, steal {r['steal_share']:.4f} "
              f"(windows {[round(x, 4) for x in r['window_steal'] or []]}), "
              f"loadavg {r['loadavg_start'][0]:.2f}" for r in records]
    return "\n".join(rows + [f"\nwall per run: median {statistics.median(walls):.1f} s, "
                             f"max {max(walls):.1f} s\n"] + curves)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None)
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            args.seconds = str(json.load(fh)["run_seconds"])
    results, records, walls = [], [], []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=180)
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        results.append(res)
        rec = next((json.loads(x[len("record: "):]) for x in lines if x.startswith("record: ")), {})
        records.append({k: rec.get(k) for k in RECORD_KEYS})
        brief = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed} wall {walls[-1]:.1f}s correct={res['correct']} {brief}", flush=True)
    summary = summarize(results) if len(results) > 1 else {}
    for name, s in summary.items():
        print(f"{args.workload:13s} {name:26s} median {s['median']:12.4f} "
              f"q1 {s['q1']:12.4f} q3 {s['q3']:12.4f} spread {s['spread']:.4f}")
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    if summary:
        print(markdown(args.workload, summary, records, walls))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "results": results, "records": records,
                       "walls": walls, "summary": summary}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
