"""Seeded input generation for the benchmark workloads.

Everything the engine sees is made here from `--seed`: file sizes, source
and destination directory fan-out, fault positions and stream arrivals.
The same seed gives the same inputs, byte for byte.
"""

import hashlib
import json
import math
import os
import random

PASS_TOKEN = "{pass}"

# workload parameters; the README explains each choice
TRANSFER = {
    "transfer_small": {"files": 5000, "size": (200, 2000), "dirs": 100, "warmup": 500},
}
STREAM = {
    "rate": 100,  # jobs per second, open loop
    "tick_s": 0.1,
    "size": (200, 2000),
    "dirs": 20,
    "warmup": 20,  # jobs in each set-up's first micro-batch
    "settle": 40,  # jobs in each untimed file before timing
    # seeded fault mix: share of jobs per expected DLQ error_type
    "faults": {"not_found": 0.04, "parse": 0.02, "config": 0.02},
}


def job_line(job_id, src, dst, dst_host="dst"):
    return json.dumps({
        "job_id": job_id,
        "source": {"hostname": "src", "path": src},
        "destination": {"hostname": dst_host, "path": dst},
    })


def corrupt_line(job_id, src):
    """A message cut off mid-object: the engine must DLQ it as `parse`."""
    return job_line(job_id, src, "/x")[:-30]


class Content:
    """Seeded file contents: slices of one random pool, each prefixed with
    its file id so that no two files are equal."""

    def __init__(self, rng, max_size):
        self.pool = rng.randbytes(max_size + 4096)
        self.rng = rng

    def make(self, file_id, size):
        head = (file_id + ":").encode()
        off = self.rng.randrange(0, 4096)
        return (head + self.pool[off:off + size])[:size]


def _write(root, rel, data):
    path = os.path.join(root, rel.lstrip("/"))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)
    return hashlib.sha256(data).hexdigest()


def stage_probe(src_root):
    """The 1 KB file the FTP round-trip probes read, and an empty
    destination endpoint next to the source one."""
    _write(src_root, "/probe/k1.bin", bytes(range(256)) * 4)
    os.makedirs(os.path.join(os.path.dirname(src_root), "ftp_dst"), exist_ok=True)


def transfer(work, workload, seed):
    """Source files plus `jobs.jsonl`; returns {job_id: expectation}."""
    p = TRANSFER[workload]
    rng = random.Random(f"{workload}:{seed}")
    src_root = os.path.join(work, "ftp_src")
    content = Content(rng, p["size"][1])
    expected, lines = {}, []
    for i in range(p["files"]):
        job_id = f"t{i:06d}"
        size = rng.randint(*p["size"])
        src = f"/in/d{rng.randrange(p['dirs']):03d}/{job_id}.bin"
        dst = f"/{PASS_TOKEN}/d{rng.randrange(p['dirs']):03d}/{job_id}.bin"
        sha = _write(src_root, src, content.make(job_id, size))
        expected[job_id] = {"kind": "ok", "sha": sha, "size": size}
        lines.append(job_line(job_id, src, dst))
    with open(os.path.join(work, "jobs.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    stage_probe(src_root)
    return expected, p["warmup"]


def poisson(rng, lam):
    # Knuth's method; lam is small (jobs per tick)
    k, p, limit = 0, 1.0, math.exp(-lam)
    while True:
        p *= rng.random()
        if p <= limit:
            return k
        k += 1


def stream(work, seed, seconds, windows):
    """Source files, `warm.jsonl`, `settle.jsonl` and one plan per
    measurement window.

    A plan is a list of ticks, each `[offset_s, [[job_id, line], ...]]`;
    arrivals per tick are Poisson with mean rate × tick. Returns
    (expected, plans, templates): templates are the warm-up and settle
    jobs' expectations, keyed by ids that still hold the {pass} token."""
    p = STREAM
    rng = random.Random(f"stream_mixed:{seed}")
    src_root = os.path.join(work, "ftp_src")
    content = Content(rng, p["size"][1])
    expected = {}

    def ok_job(job_id, dst_prefix):
        size = rng.randint(*p["size"])
        src = f"/in/{job_id}.bin"
        dst = f"/{dst_prefix}/d{rng.randrange(p['dirs']):03d}/{job_id}.bin"
        sha = _write(src_root, src, content.make(job_id, size))
        return src, dst, {"kind": "ok", "sha": sha, "size": size}

    templates = {}
    for name, n in (("warm", p["warmup"]), ("settle", p["settle"])):
        lines, exp = [], {}
        for i in range(n):
            job_id = f"{PASS_TOKEN}-{i:03d}"
            src, dst, exp[job_id] = ok_job(f"{name[0]}{i:03d}", PASS_TOKEN)
            lines.append(job_line(job_id, src, dst))
        with open(os.path.join(work, f"{name}.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
        templates[name] = exp

    cum = []
    acc = 0.0
    for kind, share in p["faults"].items():
        acc += share
        cum.append((acc, kind))

    plans = []
    per_tick = p["rate"] * p["tick_s"]
    for n in range(1, windows + 1):
        ticks, seq = [], 0
        for t in range(int(round(seconds / p["tick_s"]))):
            batch = []
            for _ in range(poisson(rng, per_tick)):
                job_id = f"s{n}-{seq:05d}"
                seq += 1
                r = rng.random()
                kind = next((k for c, k in cum if r < c), "ok")
                if kind == "ok":
                    src, dst, exp = ok_job(job_id, "s")
                    expected[job_id] = exp
                    line = job_line(job_id, src, dst)
                else:
                    expected[job_id] = {"kind": kind}
                    src = f"/in/{job_id}.bin"
                    if kind == "config":
                        _write(src_root, src, content.make(job_id, 512))
                        line = job_line(job_id, src, f"/s/{job_id}.bin", "nohost")
                    elif kind == "parse":
                        line = corrupt_line(job_id, src)
                    else:  # not_found: the source is never staged
                        line = job_line(job_id, src, f"/s/{job_id}.bin")
                batch.append([job_id, line])
            ticks.append([round(t * p["tick_s"], 6), batch])
        plans.append(ticks)
    stage_probe(src_root)
    return expected, plans, templates
