#!/usr/bin/env python3
"""The repository benchmark: seeded workloads against the engine on local[4].

    python3 perfbench/run.py --workload transfer_small --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness (`perfbench/build.sbt`) with sbt and caches the classpath; later
runs start the JVM directly. Each run generates its inputs from `--seed`,
starts a fresh engine JVM (its cold set-up is `setup_s`), measures for
`--seconds`, checks every output, deletes what it staged, and prints one
JSON object as its last line. `--trace 1` adds a traced measurement after
the untraced one and reports per-layer metrics instead. See
perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import analysis
import inputs

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
CACHE = os.path.join(BENCH, ".cache")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("transfer_small", "stream_mixed")
# untimed passes (transfer) or single-batch files (stream) before timing,
# while the JIT compiles the hot paths
SETTLE = {"transfer_small": 1, "stream_mixed": 5}
RUN_LIMIT_S = 170  # every run ends well inside 180 s
# the engine JVM must be done this long before the run's limit, which
# leaves time for the checks that follow it
CHECK_RESERVE_S = 15
BUILD_LIMIT_S = 700  # with the run itself, the first run ends inside 900 s
RECONCILE_TOLERANCE = 0.20  # |residual| as a share of pass wall time

END_TO_END = [("setup_s", "s"), ("files_per_s", "files/s"), ("mb_per_s", "MB/s"),
              ("latency_p50_ms", "ms"), ("latency_p90_ms", "ms"), ("cpu_s", "s"),
              ("peak_rss_mb", "MB")]
OVERHEAD = ["files_per_s", "mb_per_s", "latency_p50_ms", "latency_p90_ms", "cpu_s"]
UNITS = dict(END_TO_END)
PER_LAYER = [
    ("pipeline.parse_s", "s"), ("pipeline.dlq_project_s", "s"),
    ("transfer.job_ms_p50", "ms"), ("transfer.job_ms_p99", "ms"), ("transfer.busy_share", "ratio"),
    ("pool.saturated_share", "ratio"), ("pool.sessions_opened", "count"), ("pool.reuse_ratio", "ratio"),
    ("ftp.cmds_per_job", "count"), ("ftp.noop_per_job", "count"), ("ftp.pasv_per_job", "count"),
    ("ftp.cwd_per_job", "count"), ("ftp.mkd_per_job", "count"),
    ("ftp.noop_rtt_ms", "ms"), ("ftp.retr_1k_ms", "ms"), ("ftp.stor_1k_ms", "ms"),
    ("io.write_mb", "MB"), ("io.wchar_mb", "MB"),
    ("stream.batches", "count"), ("stream.jobs_per_batch", "count"),
    ("stream.batch_ms_p50", "ms"), ("stream.batch_ms_p90", "ms"),
    ("stream.add_batch_ms_p50", "ms"), ("stream.latest_offset_ms_p50", "ms"),
    ("stream.wal_commit_ms_p50", "ms"), ("stream.transfer_ms_p50", "ms"),
    ("stream.sink_results_ms_p50", "ms"), ("stream.sink_dlq_ms_p50", "ms"),
    ("stream.first_batch_ms", "ms"), ("stream.generator_late_ms", "ms"),
    ("spark.tasks", "count"), ("spark.stages", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
    ("reconcile.residual_share", "ratio"),
] + [(f"overhead.{m}", UNITS[m]) for m in OVERHEAD]
# the analytics layers (traced transfer_small runs; AnalyticsBench.scala)
ANALYTICS_QUERIES = ["q316", "q88", "q255", "q107", "q47", "s14"]
BUILD_TAGS = ["grams", "corpus-shingles", "corpus-bands"]
PER_LAYER += [(f"query.{q}_s", "s") for q in ANALYTICS_QUERIES] + [("analytics.total_s", "s")]
PER_LAYER += [(f"builds.{t}_s", "s") for t in BUILD_TAGS]
PER_LAYER += [(f"analytics.{n}", u) for n, u in (
    ("spark_tasks", "count"), ("spark_stages", "count"), ("spark_executor_run_s", "s"),
    ("spark_executor_cpu_s", "s"), ("spark_gc_s", "s"), ("spark_shuffle_write_mb", "MB"),
    ("spark_shuffle_read_mb", "MB"), ("spark_spill_mb", "MB"))]

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Failure(Exception):
    """The benchmark could not produce a result."""


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project"),
             os.path.join(REPO, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(root)
            for f in files if "target" not in os.path.relpath(d, root).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")) or "resources" in p:
                h.update(p[len(REPO):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(REPO, need)):
            raise Failure(f"no {need} next to perfbench/: run from a full checkout")
    os.makedirs(CACHE, exist_ok=True)
    meta = os.path.join(CACHE, "build.json")
    digest = source_hash()
    if os.path.exists(meta):
        with open(meta) as f:
            m = json.load(f)
        if m["hash"] == digest and all(os.path.exists(p) for p in m["classpath"].split(os.pathsep)):
            return m["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt (first run only)")
    t0 = time.time()
    with open(os.path.join(CACHE, "build.log"), "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            raise Failure("build timed out")
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if os.pathsep in l and "classes" in l]
    if proc.returncode != 0 or not lines:
        raise Failure(f"build failed (exit {proc.returncode}); see perfbench/.cache/build.log")
    classpath = lines[-1].strip()
    with open(meta, "w") as f:
        json.dump({"hash": digest, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


# ---------------------------------------------------------------- disk

def usage_bytes():
    """Bytes under perfbench/, build outputs and the build cache excluded:
    everything a run stages lives in perfbench/.work and must be gone
    again when the run ends."""
    skip = {"target", ".cache", "__pycache__"}
    total = 0
    for d, dirs, files in os.walk(BENCH):
        dirs[:] = [x for x in dirs if x not in skip]
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except FileNotFoundError:
                pass
    return total


def disk_check(before):
    """Fails when this run left bytes behind, or when usage grew since the
    previous run (ledger in perfbench/.cache)."""
    after = usage_bytes()
    ledger = os.path.join(CACHE, "disk.json")
    prev = None
    if os.path.exists(ledger):
        with open(ledger) as f:
            prev = json.load(f).get("after")
    with open(ledger, "w") as f:
        json.dump({"after": after}, f)
    problems = []
    if after > before:
        problems.append(f"run left {after - before} bytes behind")
    if prev is not None and after > prev:
        problems.append(f"usage grew {after - prev} bytes since the previous run")
    return problems


# ---------------------------------------------------------------- engine

def start_engine(classpath, work, args, deadline, extra):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms1g", "-Xmx1g"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={os.path.join(work, 'spark')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            f"workload={args.workload}", f"work={work}", f"seconds={args.seconds}",
            f"trace={args.trace}", f"settle={SETTLE[args.workload]}",
            f"out={os.path.join(work, 'obs.json')}",
            f"deadline_ms={int((deadline - CHECK_RESERVE_S) * 1000)}"]
    cmd += [f"{k}={v}" for k, v in extra.items()]
    with open(os.path.join(work, "engine.log"), "w") as out:
        return subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)


def run_engine(classpath, work, args, deadline, extra, on_poll=None):
    """Start the engine JVM, wait for it and return its observations."""
    proc = start_engine(classpath, work, args, deadline, extra)
    try:
        while proc.poll() is None:
            if time.time() > deadline:
                raise Failure("engine did not finish in time")
            if on_poll:
                on_poll()
            time.sleep(0.02)
    finally:
        stop(proc)
    if proc.returncode != 0:
        with open(os.path.join(work, "engine.log")) as f:
            tail = f.read()[-3000:]
        raise Failure(f"engine exited {proc.returncode}:\n{tail}")
    with open(os.path.join(work, "obs.json")) as f:
        return json.load(f)


def pool_check(obs):
    if obs["pool_max_created"] > obs["pool_size"]:
        return [f"pool created {obs['pool_max_created']} > size {obs['pool_size']}"]
    return []


def write_atomic(path, text):
    with open(path + ".tmp", "w") as f:
        f.write(text)
    os.rename(path + ".tmp", path)


# ---------------------------------------------------------------- workloads

def run_transfer(args, classpath, work, deadline):
    expected, warmup = inputs.transfer(work, args.workload, args.seed)
    obs = run_engine(classpath, work, args, deadline, {"warmup_jobs": warmup})
    warm_expected = dict(list(expected.items())[:warmup])
    e2e, samples = analysis.transfer_e2e(obs["untraced"]["passes"])
    e2e["setup_s"] = obs["setup"]["setup_s"]
    e2e["peak_rss_mb"] = obs["peak_rss_mb"]

    warm = obs["setup"]["warmup"]
    checks = [(warm["tag"], analysis.check_outcomes(warm_expected, warm["results"], warm["dlq"]))]
    sections = [obs["untraced"]] + ([obs["traced"]] if "traced" in obs else [])
    passes = obs["settle"] + [p for s in sections for p in s["passes"]]
    for p in passes:
        checks.append((p["tag"], analysis.check_outcomes(expected, p["results"], p["dlq"])))
    extra_failures = [f"{p['tag']}: {p['tmp_left']} temp files left" for p in [warm] + passes
                      if p["tmp_left"]]
    extra_failures += pool_check(obs)

    notes = [f"{args.workload} pass walls (s): " + " ".join(
        f"{p['wall_s']:.3f}" for p in obs["untraced"]["passes"]),
        "host: other processes used " + " ".join(
            f"{analysis.others_share(p['host'], p['cpu_s']):.0%}" for p in obs["untraced"]["passes"])
        + " of the machine's CPU during those passes"]
    if obs["cut_short"]:
        notes.append("measurement cut short to end in time: "
                     f"{len(obs['untraced']['passes'])} untraced"
                     + (f" and {len(obs['traced']['passes'])} traced" if "traced" in obs else "")
                     + " passes")
    layers = None
    if "traced" in obs:
        tr = obs["traced"]
        passes = tr["passes"]
        traced_e2e, _ = analysis.transfer_e2e(passes)
        n = len(passes)
        jobs = len(expected)
        durations = [r[4] for p in passes for r in p["results"]]
        layers = {
            "pipeline.parse_s": tr["layers"]["parse_s"],
            "pipeline.dlq_project_s": tr["layers"]["dlq_project_s"],
            "transfer.job_ms_p50": analysis.percentile(durations, 50),
            "transfer.job_ms_p99": analysis.percentile(durations, 99),
            "transfer.busy_share": sum(durations) / 1000.0 /
                (sum(p["wall_s"] for p in passes) * obs["slots"]),
            "pool.saturated_share": tr["pool_samples"]["saturated"] / max(1, tr["pool_samples"]["samples"]),
            "ftp.noop_rtt_ms": tr["layers"]["noop_rtt_ms"],
            "ftp.retr_1k_ms": tr["layers"]["retr_1k_ms"],
            "ftp.stor_1k_ms": tr["layers"]["stor_1k_ms"],
            "io.write_mb": analysis.median([p["io"]["write_bytes"] / analysis.MB for p in passes]),
            "io.wchar_mb": analysis.median([p["io"]["wchar"] / analysis.MB for p in passes]),
        }
        ftp = analysis.sum_maps(p["ftp"] for p in passes)
        layers.update(analysis.ftp_layers(ftp, jobs * n, analysis.borrows_of(expected) * n))
        layers["pool.sessions_opened"] = ftp["SESSIONS"] / n
        layers.update(analysis.spark_layers([p["spark"] for p in passes], n))
        layers.update({k: 0.0 for k, _ in PER_LAYER if k.startswith("stream.")})
        rec = analysis.reconcile(passes, obs["slots"])
        layers["reconcile.residual_share"] = rec["residual_share"]
        ok = abs(rec["residual_share"]) <= RECONCILE_TOLERANCE
        notes.append(
            f"reconcile {args.workload}: pass wall {rec['wall_s']:.3f} s = transfer "
            f"{rec['transfer_s']:.3f} s + spark {rec['spark_s']:.3f} s + residual "
            f"{rec['residual_share']:+.1%} (tolerance ±{RECONCILE_TOLERANCE:.0%}: "
            f"{'within' if ok else 'OUTSIDE'}; medians over {n} passes)")
        for m in OVERHEAD:
            layers[f"overhead.{m}"] = traced_e2e[m] - e2e[m]
        an = tr["analytics"]
        layers.update(analysis.analytics_layers(an, ANALYTICS_QUERIES, BUILD_TAGS))
        checks.append(("analytics", analysis.oracle_check(an["tables"], an["outputs"], an["oracle"])))
        notes.append("analytics warm query s: " + " ".join(
            f"{q}={s:.3f}" for q, s in sorted(an["warm_s"].items())))
        notes.append("analytics builds s: " + (" ".join(
            f"{tag}={s:.3f}" for tag, s in an["builds"]) or "none"))
    notes.append(phases_note(obs))
    return e2e, samples, checks, extra_failures, layers, notes


def phases_note(obs):
    return "engine steps (s): " + " ".join(f"{n}={s:.1f}" for n, s in obs["phases"])


def run_stream(args, classpath, work, deadline):
    windows = 2 if args.trace else 1
    expected, plans, templates = inputs.stream(work, args.seed, args.seconds, windows)
    copies = {"warm": ["w"],
              "settle": [f"x{k}" for k in range(1, SETTLE[args.workload] + 1)]}
    for name, tags in copies.items():
        for tag in tags:
            for j, e in templates[name].items():
                expected[j.replace(inputs.PASS_TOKEN, tag)] = e
    for n, plan in enumerate(plans, 1):
        with open(os.path.join(work, f"plan-{n}.json"), "w") as f:
            json.dump(plan, f)

    sync = os.path.join(work, "sync")
    gen = {"n": 0, "proc": None}
    gen_logs = {}

    def pump():
        """Start the generator for the next window once the engine is ready
        for it; report its job count when it has finished."""
        n = gen["n"]
        p = gen["proc"]
        if p is None and n < windows and os.path.exists(os.path.join(sync, f"ready-{n + 1}")):
            with open(os.path.join(sync, f"ready-{n + 1}")) as f:
                in_dir = f.read().strip()
            gen["proc"] = subprocess.Popen(
                [sys.executable, os.path.join(BENCH, "streamgen.py"),
                 os.path.join(work, f"plan-{n + 1}.json"), in_dir,
                 os.path.join(work, "gen-stage"), os.path.join(work, f"gen-{n + 1}.json")],
                stdin=subprocess.DEVNULL)
        elif p is not None and p.poll() is not None:
            if p.returncode != 0:
                raise Failure(f"generator exited {p.returncode}")
            with open(os.path.join(work, f"gen-{n + 1}.json")) as f:
                gen_logs[n + 1] = json.load(f)
            jobs = sum(len(ids) for _, _, ids in gen_logs[n + 1])
            write_atomic(os.path.join(sync, f"done-{n + 1}"), str(jobs))
            gen["n"], gen["proc"] = n + 1, None

    try:
        obs = run_engine(classpath, work, args, deadline, {}, pump)
    finally:
        stop(gen["proc"])

    commit = analysis.commit_times(obs["batches"])
    batch_of = analysis.job_batches(obs["results"], obs["dlq"])

    def window_e2e(n, sec):
        due = analysis.generator_due(gen_logs[n])
        lat, missing = analysis.latencies(due, batch_of, commit)
        if missing:
            raise Failure(f"{len(missing)} window-{n} jobs have no committed batch")
        ok = [r for r in obs["results"] if r[1] == "success" and r[0] in due]
        span_s = (max(commit[batch_of[j]] for j in due) - min(due.values())) / 1000.0
        return {
            "files_per_s": len(ok) / span_s,
            "mb_per_s": sum(r[3] for r in ok) / analysis.MB / span_s,
            "latency_p50_ms": analysis.percentile(lat, 50),
            "latency_p90_ms": analysis.percentile(lat, 90),
            "cpu_s": sec["cpu_s"],
        }, lat

    e2e, lat = window_e2e(1, obs["untraced"])
    e2e["setup_s"] = obs["setup"]["setup_s"]
    e2e["peak_rss_mb"] = obs["peak_rss_mb"]
    samples = {"latency": {"unit": "jobs", **analysis.pct(lat, 90)}}

    checks = [("stream", analysis.check_outcomes(expected, obs["results"], obs["dlq"]))]
    extra_failures = pool_check(obs)
    if obs["tmp_left"]:
        extra_failures.append(f"{obs['tmp_left']} temp files left")

    layers, notes = None, []
    if args.trace:
        tr = obs["traced"]
        traced_e2e, _ = window_e2e(2, tr)
        due2 = analysis.generator_due(gen_logs[2])
        exp2 = {j: expected[j] for j in due2}
        batches2 = {batch_of[j] for j in due2}
        rows2 = [r for r in obs["results"] if r[0] in due2]
        durations = [r[4] for r in rows2]
        wall = (tr["end_ms"] - tr["start_ms"]) / 1000.0
        data = [b for b in tr["progress"] if b["rows"] > 0]
        dur = lambda key: [b["durations_ms"].get(key, 0) for b in data]
        sql = {}
        for kind, ms in tr["sql"]:
            sql.setdefault(kind, []).append(ms)
        layers = {
            "pipeline.parse_s": obs["layers"]["parse_s"],
            "pipeline.dlq_project_s": obs["layers"]["dlq_project_s"],
            "transfer.job_ms_p50": analysis.percentile(durations, 50),
            "transfer.job_ms_p99": analysis.percentile(durations, 99),
            "transfer.busy_share": sum(durations) / 1000.0 / (wall * obs["slots"]),
            "pool.saturated_share": tr["pool_samples"]["saturated"] / max(1, tr["pool_samples"]["samples"]),
            "ftp.noop_rtt_ms": obs["layers"]["noop_rtt_ms"],
            "ftp.retr_1k_ms": obs["layers"]["retr_1k_ms"],
            "ftp.stor_1k_ms": obs["layers"]["stor_1k_ms"],
            "io.write_mb": tr["io"]["write_bytes"] / analysis.MB,
            "io.wchar_mb": tr["io"]["wchar"] / analysis.MB,
            "stream.batches": len(batches2),
            "stream.jobs_per_batch": len(due2) / len(batches2),
            "stream.batch_ms_p50": analysis.percentile(dur("triggerExecution"), 50),
            "stream.batch_ms_p90": analysis.percentile(dur("triggerExecution"), 90),
            "stream.add_batch_ms_p50": analysis.percentile(dur("addBatch"), 50),
            "stream.latest_offset_ms_p50": analysis.percentile(dur("latestOffset"), 50),
            "stream.wal_commit_ms_p50": analysis.percentile(dur("walCommit"), 50),
            "stream.transfer_ms_p50": analysis.percentile(sql.get("transfer", [0]), 50),
            "stream.sink_results_ms_p50": analysis.percentile(sql.get("sink_results", [0]), 50),
            "stream.sink_dlq_ms_p50": analysis.percentile(sql.get("sink_dlq", [0]), 50),
            "stream.first_batch_ms": obs["setup"]["first_batch_ms"],
            "stream.generator_late_ms": analysis.percentile(
                [x for n in gen_logs for x in analysis.lateness(gen_logs[n])], 99),
            "reconcile.residual_share": 0.0,
        }
        layers.update(analysis.ftp_layers(tr["ftp"], len(due2), analysis.borrows_of(exp2)))
        layers.update(analysis.spark_layers([tr["spark"]], 1))
        layers.update({k: 0.0 for k, _ in PER_LAYER if k.startswith(("query.", "builds.", "analytics."))})
        for m in OVERHEAD:
            layers[f"overhead.{m}"] = traced_e2e[m] - e2e[m]
    win1 = sorted({batch_of[j] for j in analysis.generator_due(gen_logs[1])})
    notes.append("stream_mixed window batch durations (ms): " + " ".join(
        str(b["durations_ms"]["triggerExecution"]) for b in obs["batches"] if b["batch_id"] in win1))
    notes.append(f"host: other processes used "
                 f"{analysis.others_share(obs['untraced']['host'], obs['untraced']['cpu_s']):.0%}"
                 " of the machine's CPU during the window")
    late = [x for n in gen_logs for x in analysis.lateness(gen_logs[n])]
    notes.append(f"generator: {len(late)} ticks, lateness p99 {analysis.percentile(late, 99):.1f} ms, "
                 f"max {max(late):.1f} ms")
    notes.append(phases_note(obs))
    return e2e, samples, checks, extra_failures, layers, notes


def stop(proc):
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.wait()


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its engine and deletes its staging
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        classpath = build()
    except Failure as e:
        log(str(e))
        return 2
    deadline = time.time() + RUN_LIMIT_S

    if os.path.exists(WORK):  # left by an interrupted run
        shutil.rmtree(WORK)
    before = usage_bytes()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}")
    os.makedirs(work)
    try:
        runner = run_stream if args.workload == "stream_mixed" else run_transfer
        e2e, samples, checks, extra, layers, notes = runner(args, classpath, work, deadline)
    except Failure as e:
        log(str(e))
        return 3
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    extra += disk_check(before)

    attempted = sum(len(v) for _, v in checks)
    wrong = [(what, j, v) for what, vs in checks for j, v in vs.items() if v != "ok"]
    failed = len(wrong) + len(extra)
    for what, j, v in wrong[:20]:
        log(f"check failed: {what} {j}: {v}")
    for x in extra:
        log(f"check failed: {x}")

    for name, unit in END_TO_END:
        print(f"{args.workload} {name} = {e2e[name]:.6g} {unit}")
    lat = samples["latency"]
    print(f"{args.workload} latency samples: {lat['n']} {lat['unit']}"
          + (f", {lat['beyond']} beyond p90" if "beyond" in lat else ""))
    print(f"{args.workload} failed_share = {failed / attempted:.6g} ratio ({failed} of {attempted})")
    if layers is not None:
        for name, unit in PER_LAYER:
            print(f"{args.workload} {name} = {layers[name]:.6g} {unit}")
    for n in notes:
        print(n)

    chosen = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in chosen},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
