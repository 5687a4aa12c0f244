"""Record a set of benchmark runs and summarize each metric.

    python3 perfbench/record.py --seeds 1-10 --out perfbench/results/set1.json
    python3 perfbench/record.py --seeds 21 --trace 1 --out perfbench/results/trace.json
    python3 perfbench/record.py --summarize perfbench/results/set1.json

Runs ``perfbench/run.py`` once per (seed, workload), workloads alternating
within each seed, with the ``run_seconds`` of BENCHMARK.json, and writes
every run's result plus, per workload and metric, the median and the
quartile spread (Q3 - Q1 over the median, from
``statistics.quantiles(values, n=4)``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(runs: list[dict], bench: dict) -> dict:
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    out = {}
    for wl in dict.fromkeys(r["workload"] for r in runs):
        res = [r["result"] for r in runs if r["workload"] == wl and r["result"]]
        summary = {
            "runs": len([r for r in runs if r["workload"] == wl]),
            "failed_ops": sum(r["failed"] for r in res),
            "all_correct": all(r["correct"] for r in res),
        }
        for name in res[0]["metrics"] if res else []:
            vals = [r["metrics"][name]["value"] for r in res]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            summary[name] = {"median": med, "spread": (q3 - q1) / med if med else None,
                             "bound": bounds.get(name)}
        out[wl] = summary
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    ap.add_argument("--summarize", help="recompute the summary of a record file in place")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.summarize:
        with open(args.summarize) as f:
            rec = json.load(f)
        rec["summary"] = summarize(rec["runs"], bench)
        with open(args.summarize, "w") as f:
            f.write(json.dumps(rec, indent=1) + "\n")
        print(json.dumps(rec["summary"], indent=1))
        return 0
    names = [w["name"] for w in bench["workloads"]]
    runs = []
    for seed in _seeds(args.seeds):
        for wl in names:
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.time()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            # run.py's stderr line with session, prepare, warm-up and per-pass times
            timings = [ln for ln in proc.stderr.splitlines() if ln.startswith(f"perfbench: {wl} seed")]
            runs.append({"workload": wl, "seed": seed, "exit": proc.returncode,
                         "wall_s": round(time.time() - t0, 1), "timings": timings, "result": result})
            print(f"{wl} seed {seed}: exit {proc.returncode} in {runs[-1]['wall_s']}s", file=sys.stderr, flush=True)
    record = {"command": bench["command"], "run_seconds": bench["run_seconds"], "trace": args.trace,
              "summary": summarize(runs, bench), "runs": runs}
    text = json.dumps(record, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(json.dumps(record["summary"], indent=1))
    return 0 if all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
