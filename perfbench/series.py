#!/usr/bin/env python3
"""Run the benchmark once per seed and summarize each metric across runs:
median, quartiles (statistics.quantiles, n=4) and the spread, the distance
between the quartiles as a share of the median.

    python3 perfbench/series.py --workload stream_drain --seeds 1-10 [--trace 1] [--out F]

Runs are sequential, each a fresh `run.py` process. With --out, the runs and
the summary are written as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(runs):
    names = runs[0]["metrics"].keys()
    out = {}
    for n in names:
        vals = [r["metrics"][n]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[n] = {"unit": runs[0]["metrics"][n]["unit"], "median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else None, "values": vals}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = a.seconds or json.load(f)["run_seconds"]
    runs = []
    for seed in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", str(a.trace)], capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed} failed ({p.returncode}):\n{p.stderr[-2000:]}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        r["seed"], r["run_s"] = seed, round(time.time() - t0, 1)
        runs.append(r)
        print(f"seed {seed}: {r['run_s']} s, correct {r['correct']}, failed "
              f"{r['failed']}/{r['attempted']}", file=sys.stderr, flush=True)
    summary = summarize(runs)
    for n, s in summary.items():
        spread = f"{s['spread']:.3f}" if s["spread"] is not None else "-"
        print(f"{n:24s} {s['median']:14.4f} {s['unit']:6s} spread {spread}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": seconds, "trace": a.trace,
                       "summary": summary, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
