#!/usr/bin/env python3
"""Print the micro-batch census of every drain in a trace file: for each
drain entry, each batch's input rows and its `durationMs` split, then the
entry's construct+drain and readback times. This is the census the r20
drain profile (plans/r20/profdrain_post.txt) printed, read off the trace.

Usage: python3 perfbench/census.py .bench_build/traces/stream_drain-seed1.json
"""
import json
import sys


def census(trace):
    lines = []
    for i, p in enumerate(trace["passes"]):
        for s in p["entries"]:
            batches = s.get("layers", {}).get("batches", [])
            if not batches:
                continue
            lines.append(f"## pass {i} {s['name']} start")
            for b in sorted(batches, key=lambda b: (b["start_ms"], b["batch_id"])):
                parts = sorted(b["duration_ms"].items(), key=lambda kv: -kv[1])
                lines.append(f"##   batch {int(b['batch_id'])} rows={int(b['rows'])} "
                             + " ".join(f"{k}={int(v)}" for k, v in parts))
            lines.append(f"## {s['name']} construct+drain {s['build_s']:6.2f} s  "
                         f"readback-noop {s['run_s']:6.2f} s")
    return lines


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        print("\n".join(census(json.load(f))))
