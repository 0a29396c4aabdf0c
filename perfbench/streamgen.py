"""Open-loop job generator for stream_mixed, run as its own process.

Writes each tick's jobs as one JSON-lines file on a fixed schedule,
whether or not the engine keeps up: the file is written in a staging
directory and moved into the input directory in one rename, so the
engine never lists a half-written file. Every job is due at its tick's
scheduled time; the log records, per tick, when it was due and when its
file landed, so the benchmark can time jobs from their due time and
report how late the generator ran.

    python3 streamgen.py PLAN.json IN_DIR STAGE_DIR LOG.json
"""

import json
import os
import sys
import time

LEAD_S = 0.2  # first tick is due this long after start-up


def main(plan_path, in_dir, stage_dir, log_path):
    with open(plan_path) as f:
        ticks = json.load(f)
    os.makedirs(stage_dir, exist_ok=True)
    name = os.path.splitext(os.path.basename(plan_path))[0]
    start = time.time() + LEAD_S
    log = []
    for i, (offset, jobs) in enumerate(ticks):
        due = start + offset
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        if jobs:
            staged = os.path.join(stage_dir, f"{name}-{i:05d}.jsonl")
            with open(staged, "w") as f:
                f.write("\n".join(line for _, line in jobs) + "\n")
            os.rename(staged, os.path.join(in_dir, f"{name}-{i:05d}.jsonl"))
        log.append([due * 1000.0, time.time() * 1000.0, [job_id for job_id, _ in jobs]])
    with open(log_path, "w") as f:
        json.dump(log, f)


if __name__ == "__main__":
    main(*sys.argv[1:5])
