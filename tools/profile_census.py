#!/usr/bin/env python3
"""Print a bench profile sidecar as a readable census.

One line per timed entry (wall, driver-only, stage time, jobs/stages/tasks,
executor run and CPU time, scheduler delay, shuffle, spill, GC, final-plan
counts), then one line per micro-batch of each drain with its durationMs
split, largest first.

    python3 tools/profile_census.py <bench-out>.profile.json [entry ...]
"""
import json
import sys


def main(path, names):
    with open(path) as f:
        side = json.load(f)
    for name, r in side["entries"].items():
        if names and name not in names:
            continue
        plan = " ".join(f"{k}={v}" for k, v in r["plan"].items() if v)
        print(f"## {name} wall={r['wall_s']:.2f}s driver_only={r['driver_only_s']:.2f}s "
              f"stage={r['stage_s']:.2f}s jobs={r['jobs']} stages={r['stages']} "
              f"tasks={r['tasks']} task_run={r['task_run_s']:.2f}s "
              f"task_cpu={r['task_cpu_s']:.2f}s sched_delay={r['sched_delay_s']:.2f}s "
              f"shuffle_r={r['shuffle_read_bytes']} shuffle_w={r['shuffle_write_bytes']} "
              f"spill={r['spill_bytes']} gc={r['gc_s']:.2f}s {plan}")
        for b in r["batches"]:
            split = " ".join(f"{k}={v}" for k, v in b["duration_ms"].items())
            print(f"##   batch {b['batch_id']} rows={b['input_rows']} {split} "
                  f"state_rows={b['state_rows']} state_mem={b['state_memory_bytes']} "
                  f"dropped={b['dropped_by_watermark']} watermark={b['watermark']}"
                  + (" SLOW" if b["slow"] else ""))
    print(f"## failed {json.dumps(side['failed'])}")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1], set(sys.argv[2:]))
