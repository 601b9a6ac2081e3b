#!/usr/bin/env python3
"""The repository benchmark: one seeded, hermetic command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all [--seed <n>] [--seconds <s>]

Run from the repository root. The first run builds the analyzer and the
harness from source (sbt, offline) and caches the classpath under
``perfbench/target``; later runs reuse it while the sources are
unchanged. Each run generates its inputs from the seed into a fresh
work directory under ``perfbench/work`` (also the JVM's working
directory, so relative ``target/`` shelf artifacts start empty),
launches one JVM for the workload, checks every output, prints the
workload's detail table and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones, from spans
written to ``spans.jsonl`` (printed as a table by ``spans.py``).
``--all`` runs every workload untraced and then traced, and prints the
full end-to-end metric table and each per-layer table.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import loggen  # noqa: E402
import spans as spanlib  # noqa: E402

WORKLOADS = ("interactive", "fleet", "stream", "shelves")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Input sizes per workload (see README.md for why).
WARMUP_TASKS = 40                # small logs of the untimed warm-up requests
INTERACTIVE_TASKS = (300, 400, 500, 600)  # pool of single-job logs
FLEET_JOBS = 20                 # heavy-tailed sizes (~300 to 5,000 tasks) ...
FLEET_TASKS = 20000             # ... summing to this many tasks (~33 MB)
STREAM_JOBS = 24
STREAM_CHUNK_RECORDS = 150
STREAM_LIVE_SECONDS_SHARE = 0.8  # of --seconds, spent on the live phase
# live rate: about half the catch-up capacity measured at the seed commit
# (270 records/s in 150-record chunks), so the live phase reaches a steady
# state instead of building a backlog: 1 chunk/s = 150 records/s
STREAM_LIVE_CHUNKS_PER_S = 1.0


class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ----------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs
                                if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    return files


def build():
    """Compile the analyzer and the harness; return the JVM classpath."""
    missing = [p for p in (os.path.join(ROOT, "build.sbt"),
                           os.path.join(ROOT, "src", "main", "scala"))
               if not os.path.exists(p)]
    if missing:
        raise BenchError("analyzer sources not found (run from the repository "
                         "root of a full checkout): missing %s" % missing[0])
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    tdir = os.path.join(HERE, "target")
    os.makedirs(tdir, exist_ok=True)
    cp_file = os.path.join(tdir, "perfbench-classpath.json")
    with open(os.path.join(tdir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file):
            with open(cp_file) as fh:
                cached = json.load(fh)
            if cached.get("stamp") == stamp:
                return cached["classpath"]
        log("building analyzer + harness with sbt (first run in this checkout)")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         "-Dsbt.repository.config=" + repos]
            env["SBT_OPTS"] = " ".join(opts)
        t0 = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S, text=True)
        lines = [ln for ln in p.stdout.splitlines()
                 if ln.startswith("/") and "classes" in ln]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:])
            raise BenchError("sbt build failed (exit %d)" % p.returncode)
        cp = lines[-1].strip()
        with open(cp_file + ".tmp", "w") as fh:
            json.dump({"stamp": stamp, "classpath": cp}, fh)
        os.replace(cp_file + ".tmp", cp_file)
        log("build done in %.0f s" % (time.time() - t0))
        return cp


# ---------------------------------------------------------------- inputs

def _write(path, text):
    with open(path, "w") as fh:
        fh.write(text)


def gen_interactive(work, seed):
    """The warm-up log, then the pool (one draw, so job ids differ)."""
    facts = {}
    for d in ("warmup", "logs"):
        os.makedirs(os.path.join(work, d))
    logs = loggen.gen_logs(seed, [WARMUP_TASKS] + list(INTERACTIVE_TASKS))
    for k, (text, f, _) in enumerate(logs):
        name = f["job_id"] + ".txt"
        _write(os.path.join(work, "warmup" if k == 0 else "logs", name), text)
        facts[name] = f
    return facts


def gen_fleet(work, seed):
    sizes = loggen.fleet_sizes(random.Random(seed), FLEET_JOBS, FLEET_TASKS)
    os.makedirs(os.path.join(work, "fleet"))
    facts = []
    for text, f, _ in loggen.gen_logs(seed, sizes):
        _write(os.path.join(work, "fleet", f["job_id"] + ".txt"), text)
        facts.append(f)
    return facts


def gen_stream(work, seed, seconds):
    """Interleaved records of concurrently running jobs, cut into
    parquet chunks: the first part staged as the catch-up backlog, the
    rest scheduled for the live phase."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    cluster = 1288000000000 + rng.randrange(10 ** 9)
    jobs = []
    t = cluster + rng.randrange(10 ** 6)
    for seq in range(1, STREAM_JOBS + 1):
        n = min(600, loggen.job_size(rng, lo=10, hi=600))
        records, f, _ = loggen.gen_job(rng, cluster, seq, n, t)
        jobs.append((records, f))
        t += rng.randrange(10 ** 4, 2 * 10 ** 5)
    # interleave: each job's records keep their order; jobs advance in
    # proportion to their length, so ~all jobs are running at once
    cursors = [0] * len(jobs)
    stream = []
    live = [i for i in range(len(jobs))]
    while live:
        i = rng.choice(live)
        recs = jobs[i][0]
        take = rng.randrange(1, 8)
        stream.extend(recs[cursors[i]:cursors[i] + take])
        cursors[i] += take
        if cursors[i] >= len(recs):
            live.remove(i)
    offsets, off = [], 0
    for r in stream:
        offsets.append(off)
        off += len(r.encode()) + len(loggen.RECORD_SEP)
    chunks = [(offsets[i:i + STREAM_CHUNK_RECORDS],
               stream[i:i + STREAM_CHUNK_RECORDS])
              for i in range(0, len(stream), STREAM_CHUNK_RECORDS)]
    live_s = seconds * STREAM_LIVE_SECONDS_SHARE
    n_live = max(2, min(len(chunks) // 2, int(live_s * STREAM_LIVE_CHUNKS_PER_S)))
    root = os.path.join(work, "stream")
    for d in ("src", "pending"):
        os.makedirs(os.path.join(root, d))
    schema = pa.schema([pa.field("line_no", pa.int64(), nullable=False),
                        pa.field("record", pa.string())])
    backlog = len(chunks) - n_live
    sched = []
    for k, (offs, recs) in enumerate(chunks):
        name = "chunk-%05d.parquet" % k
        dest = "src" if k < backlog else "pending"
        pq.write_table(pa.table([offs, recs], schema=schema),
                       os.path.join(root, dest, name))
        if k >= backlog:
            sched.append("%s\t%.3f" % (name, (k - backlog) / STREAM_LIVE_CHUNKS_PER_S))
    _write(os.path.join(root, "schedule.tsv"), "\n".join(sched) + "\n")
    _write(os.path.join(root, "backlog_records"),
           str(sum(len(c[1]) for c in chunks[:backlog])))
    return [f for _, f in jobs]


def generate(workload, work, seed, seconds):
    if workload == "interactive":
        return gen_interactive(work, seed)
    if workload == "fleet":
        return gen_fleet(work, seed)
    if workload == "stream":
        return gen_stream(work, seed, seconds)
    import shelves
    return shelves.generate(work, seed)


# ------------------------------------------------------------------- JVM

def run_jvm(cp, workload, work, seconds, trace, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-XX:+UseG1GC",
           "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.level=error"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.jobhistory.perfbench.Main",
            "--workload", workload, "--work", work,
            "--seconds", str(seconds), "--trace", str(trace)]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                             stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("workload JVM did not finish in time")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise BenchError("workload JVM exited with %d" % rc)
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """Highest whole percentile with at least ten samples beyond it:
    (percentile, value), or None with fewer than 11 samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None
    p = int(100 * (n - 10) / n)
    return p, xs[min(n - 1, int(p / 100 * n))]


def evaluate(workload, res, facts, work):
    """Check outputs, count failures, compute the workload's metrics.
    Returns (attempted, failed, e2e, detail, tails)."""
    ops = res["ops"]
    errors = []
    for op in ops:
        if not op["ok"]:
            errors.append("%s: %s" % (op["kind"], op["err"]))
            continue
        err = None
        out = os.path.join(work, "out", op["out"]) if op.get("out") else None
        if workload == "interactive":
            if op["kind"] == "http" or op["kind"] == "cli-t":
                with open(out, "rb") as fh:
                    err = checks.png_error(fh.read())
            else:
                with open(out) as fh:
                    err = checks.cli_error(op["kind"], fh.read(), facts[op["log"]])
        elif workload == "fleet" and op["kind"] == "fleet":
            with open(out) as fh:
                err = checks.fleet_error(fh.read(), facts)
        if err:
            op["ok"] = False
            errors.append("%s: %s" % (op["kind"], err))
    attempted, failed = len(ops), sum(1 for op in ops if not op["ok"])
    # whole-run outputs: one more checked operation each
    if workload == "stream":
        attempted += 1
        with open(os.path.join(work, "out", "stream.tsv")) as fh:
            err = checks.stream_error(fh.read(), facts)
        if res.get("stream_equals_batch") is not True:
            err = "converged stream table != batch timelinePerJob (%s vs %s cells)" % (
                res.get("stream_cells"), res.get("batch_cells"))
        if err:
            failed += 1
            errors.append("converge: " + err)
    if workload == "shelves":
        import shelves
        a, f, errs = shelves.check(res, work)
        attempted, failed = attempted + a, failed + f
        errors += errs
    for e in errors[:10]:
        log("FAILED " + e)

    ok = [op for op in ops if op["ok"] and not op.get("warmup")]
    by_kind = {}
    for op in ok:
        by_kind.setdefault(op["kind"], []).append(op["wall_s"])
    detail = {"setup_s": (res["setup_s"], "s"),
              "error_rate": (failed / attempted if attempted else 1.0, "ratio"),
              "peak_rss_mb": (res["peak_rss_mb"], "MB"),
              "heap_live_mb": (res["heap_live_mb"], "MB")}
    tails = {}

    def put_tail(name, xs):
        t = tail(xs)
        tails[name] = "p%d of %d samples" % (t[0], len(xs)) if t else \
            "n/a: %d samples (needs 11)" % len(xs)
        detail[name] = (t[1] if t else float("nan"), "s")

    if workload == "interactive":
        cli = [op["wall_s"] for op in ok if op["kind"].startswith("cli")]
        http = by_kind.get("http", [])
        detail["cli_p50_s"] = (median(cli), "s")
        put_tail("cli_tail_s", cli)
        detail["http_p50_s"] = (median(http), "s")
        put_tail("http_tail_s", http)
        walls = [op["wall_s"] for op in ok]
        latency = statistics.mean(walls) if walls else float("nan")
    elif workload == "fleet":
        walls = by_kind.get("fleet", [])
        input_mb = ok[0]["input_mb"] if ok else float("nan")
        detail["fleet_mb_per_s"] = (input_mb / median(walls), "MB/s")
        detail["fleet_summary_s"] = (median([op["summary_s"] for op in ok]), "s")
        latency = median(walls)
    elif workload == "stream":
        lat = by_kind.get("chunk", [])
        cu = [op for op in ok if op["kind"] == "catchup"]
        rec_s = cu[0]["records"] / cu[0]["wall_s"] if cu else float("nan")
        detail["stream_catchup_records_per_s"] = (rec_s, "rec/s")
        detail["stream_latency_p50_s"] = (median(lat), "s")
        put_tail("stream_latency_tail_s", lat)
        lags = [op["lag_s"] for op in ops if op["kind"] == "chunk"]
        detail["generator_lag_max_s"] = (max(lags) if lags else float("nan"), "s")
        latency = median(lat)
    else:
        import shelves
        maintain, serve = shelves.metrics(res)
        detail["shelf_maintain_s"] = (maintain, "s")
        detail["shelf_serve_s"] = (serve, "s")
        latency = serve
    e2e = {"setup_s": (res["setup_s"], "s"),
           "latency_s": (latency, "s"),
           "heap_live_mb": (res["heap_live_mb"], "MB")}
    return attempted, failed, e2e, detail, tails


# ------------------------------------------------------------------ main

def bench_config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_one(workload, seed, seconds, trace, keep=False):
    t_start = time.time()
    deadline = t_start + RUN_TIMEOUT_S
    if workload not in WORKLOADS:
        raise BenchError("unknown workload %r (choose from %s)" % (
            workload, ", ".join(WORKLOADS)))
    cfg = bench_config()
    cp = build()
    deadline = max(deadline, time.time() + RUN_TIMEOUT_S - 20)
    work = os.path.join(HERE, "work", "%s-s%d-t%d-%d" % (
        workload, seed, trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        facts = generate(workload, work, seed, seconds)
        res = run_jvm(cp, workload, work, seconds, trace, deadline)
        attempted, failed, e2e, detail, tails = evaluate(workload, res, facts, work)
        if trace:
            rows = spanlib.load(os.path.join(work, "spans.jsonl"))
            values = spanlib.per_layer(rows, [m["name"] for m in cfg["per_layer"]])
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in cfg["per_layer"]}
            print(spanlib.table(rows))
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                       for m in cfg["end_to_end"]}
        print("workload %s  seed %d  %d s  trace %d" % (workload, seed, seconds, trace))
        for k, (v, unit) in detail.items():
            extra = ("  (%s)" % tails[k]) if k in tails else ""
            print("  %-30s %12.4f %s%s" % (k, v, unit, extra))
        # a metric a failed run could not measure is null, never NaN
        for m in metrics.values():
            if not math.isfinite(m["value"]):
                m["value"] = None
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}, detail, tails
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


def run_all(seed, seconds):
    """Every workload untraced, then traced: the full metric table."""
    rows = []
    for w in WORKLOADS:
        res, detail, tails = run_one(w, seed, seconds, 0)
        print(json.dumps(res))
        rows.append((w, res, detail, tails))
    for w in WORKLOADS:
        res, _, _ = run_one(w, seed, seconds, 1)
        print(json.dumps({k: v for k, v in res.items() if k != "metrics"}))
        rows.append((w + " traced", res, {}, {}))
    print("\nend-to-end metrics (seed %d, %d s per workload)" % (seed, seconds))
    print("  %-12s %-30s %12s  %s" % ("workload", "metric", "value", "unit"))
    for w, res, detail, tails in rows:
        for k, (v, unit) in detail.items():
            extra = ("  (%s)" % tails[k]) if k in tails else ""
            print("  %-12s %-30s %12.4f  %s%s" % (w, k, v, unit, extra))
    return all(r[1]["correct"] for r in rows)


def main(argv=None):
    ap = argparse.ArgumentParser(description="Repository benchmark.")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="run every workload, untraced then traced")
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's work directory")
    args = ap.parse_args(argv)
    try:
        if args.all:
            return 0 if run_all(args.seed, args.seconds) else 1
        if not args.workload:
            ap.error("--workload or --all is required")
        res, _, _ = run_one(args.workload, args.seed, args.seconds, args.trace,
                            keep=args.keep)
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        log("error: %s" % e)
        return 2
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
