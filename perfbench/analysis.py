"""Metrics and output checks, computed from the engine's raw observations.

Pure functions over plain data, so that `tests/test_analysis.py` can drive
each one with hand-made (and deliberately wrong) inputs.
"""

import json
import os
import re

MB = 1e6  # metrics use decimal megabytes


# ---------------------------------------------------------------- statistics

def percentile(values, q):
    """q-th percentile (0..100), linear between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def pct(values, q):
    """A percentile with its sample count and the samples beyond it."""
    v = percentile(values, q)
    return {"value": v, "n": len(values), "beyond": sum(1 for x in values if x > v)}


def median(values):
    return percentile(values, 50)


# ---------------------------------------------------------------- outcomes

JOB_ID = re.compile(r'"job_id"\s*:\s*"([^"]+)"')


def dlq_job_id(original_message):
    """The job a DLQ row belongs to: the canonical job JSON names it; a
    message that never parsed is kept as {"raw": text}, and the id is
    recovered from the text."""
    try:
        msg = json.loads(original_message)
    except ValueError:
        msg = {"raw": original_message}
    if msg.get("job_id"):
        return msg["job_id"]
    m = JOB_ID.search(msg.get("raw") or "")
    return m.group(1) if m else None


def classify(expect, successes, dlq_types):
    """Outcome of one job against its expectation.

    `successes` are the destination digests of the job's success rows,
    `dlq_types` the error_type of each of its DLQ rows. Returns "ok" or
    the reason the outcome is wrong."""
    seen = len(successes) + len(dlq_types)
    if seen == 0:
        return "missing"
    if seen > 1:
        return "duplicate"
    if expect["kind"] == "ok":
        if dlq_types:
            return f"dlq:{dlq_types[0]}"
        if successes[0] is None:
            return "no_destination_file"
        if successes[0] != expect["sha"]:
            return "bytes_differ"
        return "ok"
    if successes:
        return "unexpected_success"
    if dlq_types[0] != expect["kind"]:
        return f"wrong_error_type:{dlq_types[0]}"
    return "ok"


def check_outcomes(expected, results, dlq):
    """Classify every expected job against one set of outputs.

    results: rows [job_id, status, error_type, bytes, duration_ms, sha, error, ...]
    dlq: rows [original_message, error_type, ...]
    Returns {job_id: verdict}; outputs for unknown jobs are "unexpected"."""
    succ, fails = {}, {}
    errors = {}
    for r in results:
        if r[1] == "success":
            succ.setdefault(r[0], []).append(r[5])
        else:
            errors[r[0]] = r[6]
    for d in dlq:
        fails.setdefault(dlq_job_id(d[0]), []).append(d[1])
    verdicts = {}
    for j, e in expected.items():
        v = classify(e, succ.get(j, []), fails.get(j, []))
        # an unexpected engine error is reported with its message
        verdicts[j] = f"{v} ({errors[j]})" if v != "ok" and j in errors else v
    for j in set(succ) | set(fails):
        if j not in expected:
            verdicts[f"unexpected:{j}"] = "unexpected"
    return verdicts


# ---------------------------------------------------------------- streaming

def commit_times(batches):
    """{batch_id: commit time in ms}: a micro-batch commits at the end of
    its trigger execution."""
    return {b["batch_id"]: b["timestamp_ms"] + b["durations_ms"]["triggerExecution"]
            for b in batches if b["rows"] > 0}


def job_batches(results, dlq):
    """{job_id: batch_id} of the batch that wrote the job's success row or
    DLQ row (results rows end in batch_id, as do DLQ rows)."""
    out = {}
    for r in results:
        if r[1] == "success":
            out[r[0]] = r[-1]
    for d in dlq:
        out[dlq_job_id(d[0])] = d[-1]
    return out


def latencies(due_ms, batch_of, commit_of):
    """Due-to-commit latency (ms) of every job in `due_ms`; jobs without a
    committed batch are returned separately."""
    lat, missing = [], []
    for job, due in due_ms.items():
        b = batch_of.get(job)
        if b is None or b not in commit_of:
            missing.append(job)
        else:
            lat.append(commit_of[b] - due)
    return lat, missing


def generator_due(log):
    """{job_id: due ms} from a generator log of [due_ms, written_ms, ids]."""
    return {j: due for due, _, ids in log for j in ids}


def lateness(log):
    """How late the generator wrote each tick, ms (never negative)."""
    return [max(0.0, written - due) for due, written, _ in log]


# ---------------------------------------------------------------- host

def others_share(host, own_cpu_s, hz=100):
    """Share of the machine's CPU that other processes (and the host, as
    steal) used while the engine measured: machine-wide busy ticks minus
    the engine's own CPU, over all ticks. A run whose figures are off
    while this is high was slowed by its neighbours, not by the code."""
    return max(0.0, host["busy"] - own_cpu_s * hz) / host["all"]


# ---------------------------------------------------------------- transfer

def pass_rates(p):
    ok = [r for r in p["results"] if r[1] == "success"]
    wall = p["wall_s"]
    return len(ok) / wall, sum(r[3] for r in ok) / MB / wall


def transfer_e2e(passes):
    """End-to-end metrics over timed passes. A pass is one batch run: every
    job in it is submitted at the start and its outcome is visible at the
    end, so job latency is the pass wall time."""
    rates = [pass_rates(p) for p in passes]
    walls_ms = [p["wall_s"] * 1000 for p in passes]
    return {
        "files_per_s": median([r[0] for r in rates]),
        "mb_per_s": median([r[1] for r in rates]),
        "latency_p50_ms": median(walls_ms),
        "latency_p90_ms": percentile(walls_ms, 90),
        "cpu_s": median([p["cpu_s"] for p in passes]),
    }, {"latency": {"unit": "passes", "n": len(walls_ms)}}


def reconcile(passes, slots):
    """Account each pass's wall time as transfer time plus Spark time.

    transfer_s: the jobs' own duration_ms summed, per slot.
    spark_s:    driver-side time outside the task span (planning,
                scheduling, result collection) plus the tasks' time not
                spent in transfers, per slot.
    The residual is the slots' idle time inside the task span."""
    rows = []
    for p in passes:
        tasks = p["spark"]["task_times"]
        span = (max(f for _, f in tasks) - min(l for l, _ in tasks)) / 1000.0
        task_s = sum(f - l for l, f in tasks) / 1000.0
        transfer_s = sum(r[4] for r in p["results"]) / 1000.0
        wall = p["wall_s"]
        spark_s = (wall - span) + (task_s - transfer_s) / slots
        rows.append((wall, transfer_s / slots, spark_s))
    wall = median([r[0] for r in rows])
    t = median([r[1] for r in rows])
    s = median([r[2] for r in rows])
    return {"wall_s": wall, "transfer_s": t, "spark_s": s,
            "residual_share": (wall - t - s) / wall}


def spark_layers(spark_runs, units, prefix="spark."):
    """spark.* metrics: listener totals per pass or window."""
    keys = [("tasks", "tasks", 1), ("stages", "stages", 1),
            ("executor_run_s", "executor_run_ms", 1e3), ("executor_cpu_s", "executor_cpu_ns", 1e9),
            ("gc_s", "gc_ms", 1e3), ("shuffle_write_mb", "shuffle_write_bytes", MB),
            ("shuffle_read_mb", "shuffle_read_bytes", MB), ("spill_mb", "spill_bytes", MB)]
    return {f"{prefix}{name}": sum(r[src] for r in spark_runs) / div / units
            for name, src, div in keys}


def ftp_layers(ftp, jobs, borrows):
    """ftp.* and pool.* counts per job from the servers' command counters."""
    cmds = sum(v for k, v in ftp.items() if k != "SESSIONS")
    return {
        "ftp.cmds_per_job": cmds / jobs,
        "ftp.noop_per_job": ftp["NOOP"] / jobs,
        "ftp.pasv_per_job": ftp["PASV"] / jobs,
        "ftp.cwd_per_job": ftp["CWD"] / jobs,
        "ftp.mkd_per_job": ftp["MKD"] / jobs,
        "pool.sessions_opened": ftp["SESSIONS"],
        "pool.reuse_ratio": 1 - ftp["SESSIONS"] / borrows if borrows else 0.0,
    }


def sum_maps(maps):
    out = {}
    for m in maps:
        for k, v in m.items():
            out[k] = out.get(k, 0) + v
    return out


def borrows_of(expected):
    """Pool borrows the engine makes: source and destination for a job
    that transfers, the source alone when the source is missing, none for
    a message that fails to parse or names an unknown host."""
    per_kind = {"ok": 2, "not_found": 1, "parse": 0, "config": 0}
    return sum(per_kind[e["kind"]] for e in expected.values())


# ---------------------------------------------------------------- analytics

def analytics_layers(an, queries, build_tags):
    """query.<q>_s (warm run), analytics.total_s, builds.<tag>_s (summed
    per tag; 0 for a tag no query built) and analytics.spark_* totals over
    the warm runs. `queries` are the short names (q316 for
    q316_hits_ranking)."""
    warm = {q.split("_")[0]: s for q, s in an["warm_s"].items()}
    out = {f"query.{q}_s": warm[q] for q in queries}
    out["analytics.total_s"] = sum(warm.values())
    builds = {t: 0.0 for t in build_tags}
    for tag, s in an["builds"]:
        builds[tag] = builds.get(tag, 0.0) + s
    out.update({f"builds.{t}_s": builds[t] for t in build_tags})
    out.update(spark_layers([an["spark"]], 1, prefix="analytics.spark_"))
    return out


def _norm(v):
    return "NaN" if isinstance(v, float) and v != v else v


def compare_rows(got_cols, got_rows, want_cols, want_rows):
    """The comparison rules of scripts/selfcheck.py: same column names
    (sorted), same row count, and equal cells (exact, NaN equal to NaN),
    in order or else as sorted multisets. Rows hold cells in the order of
    their columns. Returns "ok" or the reason."""
    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return ([cols[i] for i in order],
                [tuple(_norm(r[i]) for i in order) for r in rows])
    gc, gr = canon(got_cols, got_rows)
    wc, wr = canon(want_cols, want_rows)
    if gc != wc:
        return f"columns {gc} != oracle {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != oracle {len(wr)}"
    key = lambda r: tuple((v is None, str(v)) for v in r)
    if gr != wr and sorted(gr, key=key) != sorted(wr, key=key):
        bad = sum(1 for a, b in zip(sorted(gr, key=key), sorted(wr, key=key)) if a != b)
        return f"{bad} of {len(gr)} rows differ from the oracle"
    return "ok"


def oracle_check(tables_dir, outputs_dir, oracle):
    """{query: verdict}: each query's parquet output against its oracle SQL
    run by DuckDB over the same tables."""
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables_dir, f)}')")
    verdicts = {}
    for q, sql in sorted(oracle.items()):
        try:
            got = pq.read_table(os.path.join(outputs_dir, q))
            want = con.execute(sql).arrow()
        except Exception as e:  # no output, or the oracle failed
            verdicts[q] = f"error: {e}"
            continue
        as_rows = lambda t: list(zip(*(t.column(c).to_pylist() for c in t.column_names))) \
            if t.num_columns else [()] * t.num_rows
        verdicts[q] = compare_rows(got.column_names, as_rows(got),
                                   want.column_names, as_rows(want))
    con.close()
    return verdicts
