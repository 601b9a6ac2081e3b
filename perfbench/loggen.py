"""Seeded generator of Hadoop JobHistory (0.20 / 1.x) job logs.

Every log is built from a structured model of its jobs, and the model
also yields the facts the analyzer must reproduce: task and attempt
counts, final attempts, scaled durations and per-phase slot sums. The
benchmark checks the program's outputs against these facts, never
against the program itself.

Grammar features covered (see ``FEATURES``):
  split START / FINISH records per task and attempt; FAILED and KILLED
  attempts; a later SUCCESS superseding an earlier SUCCESS; multi-line
  ``ERROR`` values; backslash-escaped ``.`` ``=`` ``,`` in values;
  nested ``COUNTERS``; SETUP / CLEANUP tasks; heavy-tailed job sizes.

Same seed, same arguments: byte-identical output (``random.Random``).

CLI: ``python3 loggen.py --seed N --jobs J --out DIR`` writes one log
per job plus ``facts.json``.
"""
import argparse
import json
import os
import random

RECORD_SEP = " .\n"
PHASES = ("maps", "shuffle", "merge", "reduce", "waste")
FEATURES = ("split_start_finish", "failed_attempt", "killed_attempt",
            "superseded_success", "multiline_error", "escaped_dot",
            "escaped_equals", "nested_counters", "setup_cleanup")

_ERRORS = (
    ["java\\.lang\\.OutOfMemoryError: Java heap space",
     "\tat org\\.apache\\.hadoop\\.mapred\\.MapTask$MapOutputBuffer\\.<init>"
     "(MapTask\\.java:781)",
     "\tat org\\.apache\\.hadoop\\.mapred\\.MapTask\\.runOldMapper"
     "(MapTask\\.java:350)",
     "\tat org\\.apache\\.hadoop\\.mapred\\.Child\\.main(Child\\.java:170)"],
    ["java\\.io\\.IOException: Task process exit with nonzero status of 1\\.",
     "\tat org\\.apache\\.hadoop\\.mapred\\.TaskRunner\\.run"
     "(TaskRunner\\.java:418)"],
    ["Error: java\\.lang\\.RuntimeException: key\\=value parse failed",
     "\tat org\\.apache\\.pig\\.backend\\.hadoop\\.executionengine\\."
     "mapReduceLayer\\.PigMapBase\\.map(PigMapBase\\.java:238)",
     "\tat org\\.apache\\.hadoop\\.mapred\\.MapRunner\\.run"
     "(MapRunner\\.java:50)"],
)


def _counters(groups):
    """COUNTERS value: {(gk)(gname)[(ck)(cname)(v)]...}... (escaped)."""
    out = []
    for gkey, gname, cs in groups:
        out.append("{(%s)(%s)%s}" % (gkey, gname, "".join(
            "[(%s)(%s)(%d)]" % (ck, cn, v) for ck, cn, v in cs)))
    return "".join(out)


def _task_counters(rng, kind, written):
    fs = [("HDFS_BYTES_READ", "HDFS_BYTES_READ", rng.randrange(1 << 20, 1 << 27))]
    if kind == "r":
        fs.append(("HDFS_BYTES_WRITTEN", "HDFS_BYTES_WRITTEN", written))
    else:
        fs.append(("FILE_BYTES_WRITTEN", "FILE_BYTES_WRITTEN",
                   rng.randrange(1 << 16, 1 << 24)))
    rec = rng.randrange(1000, 900000)
    fw = [("MAP_INPUT_RECORDS", "Map input records", rec),
          ("SPILLED_RECORDS", "Spilled Records", rec * 2)] if kind == "m" else \
         [("REDUCE_INPUT_GROUPS", "Reduce input groups", rec),
          ("REDUCE_OUTPUT_RECORDS", "Reduce output records", rec // 3)]
    return _counters([("FileSystemCounters", "FileSystemCounters", fs),
                      ("org\\.apache\\.hadoop\\.mapred\\.Task$Counter",
                       "Map-Reduce Framework", fw)])


def _render(event, attrs):
    return event + " " + " ".join('%s="%s"' % kv for kv in attrs)


def job_size(rng, lo=10, hi=5000, alpha=1.1):
    """Heavy-tailed (Pareto) task count, clipped to [lo, hi]."""
    return int(min(hi, lo * rng.paretovariate(alpha)))


def fleet_sizes(rng, jobs, total, lo=10, hi=5000, alpha=1.1):
    """Heavy-tailed job sizes: the Pareto quantiles at evenly spaced
    probabilities, rescaled to sum to exactly ``total`` tasks with none
    above ``hi`` (the jobs clipped at ``hi`` leave their excess to the
    others) and shuffled by ``rng`` — every seed gets a different fleet
    of the same shape."""
    raw = [lo * (1 - (i + 0.5) / jobs) ** (-1 / alpha) for i in range(jobs)]
    capped = 0
    while True:
        scale = (total - capped * hi) / sum(raw[:jobs - capped])
        over = sum(1 for n in raw[:jobs - capped] if n * scale > hi)
        if not over:
            break
        capped += over
    sizes = [max(lo, int(n * scale)) for n in raw[:jobs - capped]] + [hi] * capped
    # rounding and the floor at ``lo``: settle the difference on the
    # largest jobs below ``hi``
    free = jobs - capped
    i = free - 1
    while sum(sizes) != total:
        step = 1 if sum(sizes) < total else -1
        if lo <= sizes[i] + step <= hi:
            sizes[i] += step
        i = i - 1 if i > 0 else free - 1
    rng.shuffle(sizes)
    return sizes


def gen_job(rng, cluster, seq, n_tasks, start_ms):
    """One job: (records, facts, features). ``records`` are record
    strings without terminator, in log order."""
    job_id = "job_%d_%04d" % (cluster, seq)
    n_red = max(1, n_tasks // 6) if n_tasks >= 6 else 1
    n_map = max(1, n_tasks - n_red)
    feats = set(["split_start_finish", "nested_counters", "setup_cleanup",
                 "escaped_dot"])
    evs = []  # (time_ms, order, event, attrs)

    def emit(t, event, attrs):
        evs.append((t, len(evs), event, attrs))

    name = rng.choice(["PigLatin:kmerStats\\.pig", "wordcount\\.jar",
                       "datasize\\=%d\\,k\\=%d\\,r\\=1" % (
                           rng.randrange(1000, 10 ** 6), rng.randrange(2, 50)),
                       "hive_query\\.q:stage\\-1"])
    if "\\=" in name:
        feats.add("escaped_equals")
    user = rng.choice(["hadoop", "kbhatia", "etl", "analyst"])
    submit = start_ms
    launch = submit + rng.randrange(200, 3000)
    emit(submit, "Job", [("JOBID", job_id), ("JOBNAME", name), ("USER", user),
                         ("SUBMIT_TIME", str(submit)),
                         ("JOBCONF", "hdfs://nn\\.example\\.com:9000/tmp/"
                          "%s_conf\\.xml" % job_id)])
    emit(submit, "Job", [("JOBID", job_id), ("JOB_PRIORITY", "NORMAL")])
    emit(launch, "Job", [("JOBID", job_id), ("LAUNCH_TIME", str(launch)),
                         ("TOTAL_MAPS", str(n_map)),
                         ("TOTAL_REDUCES", str(n_red)),
                         ("JOB_STATUS", "PREP")])
    pfx = "%d_%04d" % (cluster, seq)
    hosts = ["host%03d\\.example\\.com" % h for h in range(rng.randrange(16, 25))]
    slots = max(4, len(hosts) * 2)

    def attempt_attrs(kind, tid, aid):
        return [("TASK_TYPE", kind), ("TASKID", tid), ("TASK_ATTEMPT_ID", aid)]

    # SETUP: a map-typed task id that every view must ignore
    setup_tid = "task_%s_m_%06d" % (pfx, n_map)
    cleanup_tid = "task_%s_m_%06d" % (pfx, n_map + 1)

    def aux_task(tid, ttype, t0, t1):
        aid = "attempt_%s_0" % tid[len("task_"):]
        emit(t0, "Task", [("TASKID", tid), ("TASK_TYPE", ttype),
                          ("START_TIME", str(t0)), ("SPLITS", "")])
        emit(t0, "MapAttempt", [("TASK_TYPE", ttype), ("TASKID", tid),
                                ("TASK_ATTEMPT_ID", aid),
                                ("START_TIME", str(t0)),
                                ("TRACKER_NAME", "tracker_%s:localhost/127\\.0"
                                 "\\.0\\.1:50060" % hosts[0]),
                                ("HTTP_PORT", "50060")])
        emit(t1, "MapAttempt", [("TASK_TYPE", ttype), ("TASKID", tid),
                                ("TASK_ATTEMPT_ID", aid),
                                ("TASK_STATUS", "SUCCESS"),
                                ("FINISH_TIME", str(t1)),
                                ("HOSTNAME", "/default-rack/%s" % hosts[0]),
                                ("STATE_STRING", "setup"),
                                ("COUNTERS", _counters([(
                                    "org\\.apache\\.hadoop\\.mapred\\.Task"
                                    "$Counter", "Map-Reduce Framework",
                                    [("SPILLED_RECORDS", "Spilled Records", 0)])]))])
        emit(t1, "Task", [("TASKID", tid), ("TASK_TYPE", ttype),
                          ("TASK_STATUS", "SUCCESS"), ("FINISH_TIME", str(t1)),
                          ("COUNTERS", "")])

    t_setup_end = launch + rng.randrange(500, 3000)
    aux_task(setup_tid, "SETUP", launch + 50, t_setup_end)
    emit(t_setup_end, "Job", [("JOBID", job_id), ("JOB_STATUS", "RUNNING")])

    # per-task attempt plans; attempt = dict(id, start, end, status, ...)
    tasks = []  # (kind, tid, attempts)
    free = [t_setup_end + rng.randrange(0, 400) for _ in range(slots)]

    def plan(kind, idx, earliest, mean):
        tid = "task_%s_%s_%06d" % (pfx, kind, idx)
        r = rng.random()
        statuses = ["SUCCESS"]
        if r < 0.10:
            statuses = ["FAILED", "SUCCESS"]
        elif r < 0.16:
            statuses = ["KILLED", "SUCCESS"]
        elif r < 0.19:
            statuses = ["FAILED", "FAILED", "SUCCESS"]
        elif r < 0.22:
            statuses = ["SUCCESS", "SUCCESS"]  # later SUCCESS supersedes
        atts = []
        for i, st in enumerate(statuses):
            slot = min(range(len(free)), key=lambda s: free[s])
            if atts:  # a retry follows its failed predecessor; a
                # speculative copy starts while the first still runs
                prev = atts[-1]
                earliest = prev["end"] if prev["status"] != "SUCCESS" else \
                    prev["start"] + (prev["end"] - prev["start"]) // 2
            s0 = max(free[slot], earliest) + rng.randrange(20, 800)
            dur = max(300, int(rng.expovariate(1.0 / mean)))
            if st != "SUCCESS":
                dur = max(200, dur // rng.randrange(2, 6))
            a = {"id": "attempt_%s_%s_%06d_%d" % (pfx, kind, idx, i),
                 "start": s0, "end": s0 + dur, "status": st,
                 "host": rng.choice(hosts)}
            if kind == "r":
                a["shuffle"] = s0 + dur * rng.randrange(30, 70) // 100
                a["sort"] = a["shuffle"] + (a["end"] - a["shuffle"]) * \
                    rng.randrange(5, 40) // 100
            free[slot] = a["end"]
            atts.append(a)
        if statuses == ["SUCCESS", "SUCCESS"]:
            # speculative pair: the second finishes after the first
            atts[1]["end"] = max(atts[1]["end"], atts[0]["end"] + 1)
            if kind == "r":
                atts[1]["sort"] = min(atts[1]["sort"], atts[1]["end"])
            feats.add("superseded_success")
        feats.update({"FAILED": "failed_attempt", "KILLED": "killed_attempt"}
                     [s] for s in statuses if s != "SUCCESS")
        tasks.append((kind, tid, atts))
        return atts

    map_mean = rng.randrange(10000, 20000)
    for i in range(n_map):
        plan("m", i, t_setup_end, map_mean)
    maps_done = max(a["end"] for _, _, atts in tasks for a in atts)
    red_mean = rng.randrange(20000, 40000)
    for i in range(n_red):
        plan("r", i, t_setup_end + (maps_done - t_setup_end) // 3, red_mean)

    reduce_bytes = 0
    for kind, tid, atts in tasks:
        ttype = "MAP" if kind == "m" else "REDUCE"
        ev_att = "MapAttempt" if kind == "m" else "ReduceAttempt"
        emit(atts[0]["start"], "Task",
             [("TASKID", tid), ("TASK_TYPE", ttype),
              ("START_TIME", str(atts[0]["start"])),
              ("SPLITS", "/default-rack/%s,/default-rack/%s" % (
                  rng.choice(hosts), rng.choice(hosts)) if kind == "m" else "")])
        for a in atts:
            emit(a["start"], ev_att,
                 attempt_attrs(ttype, tid, a["id"]) +
                 [("START_TIME", str(a["start"])),
                  ("TRACKER_NAME", "tracker_%s:localhost/127\\.0\\.0\\.1:5%04d"
                   % (a["host"], rng.randrange(10000))),
                  ("HTTP_PORT", "50060")])
            fin = attempt_attrs(ttype, tid, a["id"]) + \
                [("TASK_STATUS", a["status"])]
            if kind == "r" and a["status"] == "SUCCESS":
                fin += [("SHUFFLE_FINISHED", str(a["shuffle"])),
                        ("SORT_FINISHED", str(a["sort"]))]
            fin += [("FINISH_TIME", str(a["end"])),
                    ("HOSTNAME", "/default-rack/%s" % a["host"])]
            if a["status"] == "SUCCESS":
                fin += [("STATE_STRING", "hdfs://nn\\.example\\.com/in/part"
                         "\\-%05d:0+67108864" % rng.randrange(100000)),
                        ("COUNTERS", _task_counters(rng, kind, 0))]
            else:
                lines = rng.choice(_ERRORS)
                fin += [("ERROR", "\n".join(lines) + "\n")]
                feats.add("multiline_error")
            emit(a["end"], ev_att, fin)
        last_ok = [a for a in atts if a["status"] == "SUCCESS"][-1]
        written = rng.randrange(1 << 20, 1 << 30) if kind == "r" else 0
        reduce_bytes += written
        emit(last_ok["end"], "Task",
             [("TASKID", tid), ("TASK_TYPE", ttype), ("TASK_STATUS", "SUCCESS"),
              ("FINISH_TIME", str(last_ok["end"])),
              ("COUNTERS", _task_counters(rng, kind, written))])

    work_end = max(a["end"] for _, _, atts in tasks for a in atts)
    t_clean_end = work_end + rng.randrange(300, 3000)
    aux_task(cleanup_tid, "CLEANUP", work_end + 100, t_clean_end)
    finish = t_clean_end + rng.randrange(50, 500)
    n_failed_maps = sum(1 for k, _, atts in tasks if k == "m"
                        for a in atts if a["status"] == "FAILED")
    n_failed_reds = sum(1 for k, _, atts in tasks if k == "r"
                        for a in atts if a["status"] == "FAILED")
    emit(finish, "Job", [("JOBID", job_id), ("FINISH_TIME", str(finish)),
                         ("JOB_STATUS", "SUCCESS"),
                         ("FINISHED_MAPS", str(n_map)),
                         ("FINISHED_REDUCES", str(n_red)),
                         ("FAILED_MAPS", str(n_failed_maps)),
                         ("FAILED_REDUCES", str(n_failed_reds)),
                         ("COUNTERS", _counters([(
                             "FileSystemCounters", "FileSystemCounters",
                             [("HDFS_BYTES_WRITTEN", "HDFS_BYTES_WRITTEN",
                               reduce_bytes)])]))])

    evs.sort(key=lambda e: (e[0], e[1]))
    records = [_render(e[2], e[3]) for e in evs]
    facts = job_facts(job_id, name, user, submit, launch, finish, tasks,
                      reduce_bytes)
    return records, facts, feats


def _slots(scale, submit, finish, tasks):
    """Per-phase slot sums of the concurrency timeline at ``scale``:
    attempt intervals relative to submit, clamped at 0, capped at job
    finish, inclusive ends; the last SUCCESS attempt of a task is final
    and every other finished attempt is waste."""
    sub_u, fin_u = submit // scale, finish // scale
    out = dict.fromkeys(PHASES, 0)

    def add(phase, lo, hi):
        lo = max(0, lo - sub_u)
        hi = min(hi, fin_u) - sub_u
        if lo <= hi:
            out[phase] += hi - lo + 1

    for kind, _, atts in tasks:
        final = [a for a in atts if a["status"] == "SUCCESS"][-1]
        for a in atts:
            s, e = a["start"] // scale, a["end"] // scale
            if a is not final:
                add("waste", s, e)
            elif kind == "m":
                add("maps", s, e)
            else:
                sh, so = a["shuffle"] // scale, a["sort"] // scale
                add("shuffle", s, sh)
                add("merge", sh, so)
                add("reduce", so, e)
    return out


def _elapsed(end, start, scale):
    """Scaled elapsed time as the reports compute it: the ms difference
    divided by the scale, truncated toward zero."""
    d = end - start
    return d // scale if d >= 0 else -((-d) // scale)


def job_facts(job_id, name, user, submit, launch, finish, tasks, reduce_bytes):
    def per_scale(scale):
        def task_elapsed(kind):
            tot = 0
            for k, _, atts in tasks:
                if k == kind:
                    final = [a for a in atts if a["status"] == "SUCCESS"][-1]
                    tot += _elapsed(final["end"], atts[0]["start"], scale)
            return tot
        return {"total_time": _elapsed(finish, launch, scale),
                "total_map_time": task_elapsed("m"),
                "total_reduce_time": task_elapsed("r"),
                "timeline_rows": finish // scale - submit // scale + 1,
                "slots": _slots(scale, submit, finish, tasks)}
    kinds = [k for k, _, _ in tasks]
    atts = [(k, a) for k, _, aa in tasks for a in aa]
    return {
        "job_id": job_id, "job_name": name, "user": user,
        "job_status": "SUCCESS",
        "map_tasks": kinds.count("m"), "reduce_tasks": kinds.count("r"),
        "map_attempts": sum(1 for k, _ in atts if k == "m"),
        "reduce_attempts": sum(1 for k, _ in atts if k == "r"),
        "failed_attempts": sum(1 for _, a in atts if a["status"] == "FAILED"),
        "killed_attempts": sum(1 for _, a in atts if a["status"] == "KILLED"),
        "final_attempts": len(tasks),
        "reduce_bytes": reduce_bytes,
        "scale": {"1000": per_scale(1000), "100": per_scale(100)},
    }


def gen_log(rng, cluster, seq, n_tasks, start_ms):
    """One single-job log file's text plus its facts and features."""
    records, facts, feats = gen_job(rng, cluster, seq, n_tasks, start_ms)
    text = RECORD_SEP.join(['Meta VERSION="1"'] + records) + RECORD_SEP
    facts["bytes"] = len(text.encode())
    facts["records"] = len(records) + 1
    return text, facts, feats


def gen_logs(seed, sizes, cluster=None):
    """Logs for the given task counts: list of (text, facts, features)."""
    rng = random.Random(seed)
    cluster = cluster or 1288000000000 + rng.randrange(10 ** 9)
    t = cluster + rng.randrange(10 ** 6)
    out = []
    for seq, n in enumerate(sizes, start=1):
        out.append(gen_log(rng, cluster, seq, n, t))
        t += rng.randrange(10 ** 4, 10 ** 6)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--jobs", type=int, default=4)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    rng = random.Random(args.seed)
    sizes = [job_size(rng) for _ in range(args.jobs)]
    os.makedirs(args.out, exist_ok=True)
    facts = []
    for text, f, _ in gen_logs(args.seed, sizes):
        with open(os.path.join(args.out, f["job_id"] + ".txt"), "w") as fh:
            fh.write(text)
        facts.append(f)
    with open(os.path.join(args.out, "facts.json"), "w") as fh:
        json.dump(facts, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
