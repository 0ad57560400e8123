#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload ingest --seeds 1-10 [--out runs.jsonl]

Runs `perfbench/run.py` once per seed (untraced, `run_seconds` from
BENCHMARK.json) and prints, per end-to-end metric, the median and the
interquartile range as a share of the median (Python's
`statistics.quantiles(values, n=4)`), next to the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    rows = []
    for s in seeds(a.seeds):
        t = time.time()
        r = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                               "--seconds", str(bench["run_seconds"]),
                                               "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            print(f"seed {s}: exit {r.returncode}\n{r.stdout}{r.stderr}", file=sys.stderr)
            sys.exit(1)
        res = json.loads(last)
        res.update(seed=s, wall_s=round(wall, 1))
        rows.append(res)
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {s}: wall {wall:.1f} s correct={res['correct']} {vals}", flush=True)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(res) + "\n")
    if len(rows) < 2:
        return
    for m in bench["end_to_end"]:
        v = [r["metrics"][m["name"]]["value"] for r in rows]
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{m['name']:>12}: median {statistics.median(v):.4f} {m['unit']}, "
              f"IQR/median {(q3 - q1) / statistics.median(v):.4f} (bound {m['bound']})")
    print(f"run wall: mean {statistics.mean(r['wall_s'] for r in rows):.1f} s")


if __name__ == "__main__":
    main()
