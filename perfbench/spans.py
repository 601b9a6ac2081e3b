#!/usr/bin/env python3
"""Per-layer table from a traced run's ``spans.jsonl``.

    python3 perfbench/spans.py <spans.jsonl>

Each line is one span: name, start, end, parent, base, trace id and the
Spark counters attributed to it (jobs, exec_s, gc_s, shuffle_mb,
spill_mb, input_mb) plus span-specific extras. A span's self time is its
wall minus the walls of its child spans and of its ``base`` spans (the
forced stages it repeats). Per layer the table shows medians per call.

Spans of a real request (``cli.run``, ``http.request``,
``fleet.request``) carry the forced stages of the same request as their
base: their wall is the request without per-stage tracing, the sum of
the stage walls is the traced cost, and the difference is the tracing
overhead.
"""
import json
import statistics
import sys

STATS = ("wall_s", "jobs", "exec_s", "gc_s")
REQUEST_SPANS = ("cli.run", "http.request", "fleet.request")


def load(path):
    with open(path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def self_times(rows):
    by_id = {r["id"]: r for r in rows}
    child = {}
    for r in rows:
        if r["parent"] is not None:
            child[r["parent"]] = child.get(r["parent"], 0.0) + r["wall_s"]
    return {r["id"]: r["wall_s"] - child.get(r["id"], 0.0) -
            sum(by_id[b]["wall_s"] for b in r["base"] if b in by_id)
            for r in rows}


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def overhead(rows):
    """(traced_s, untraced_s): medians over real requests of the summed
    forced-stage walls and of the request's own wall."""
    by_id = {r["id"]: r for r in rows}
    reqs = [r for r in rows if r["name"] in REQUEST_SPANS and r["base"]]
    return (_med([sum(by_id[b]["wall_s"] for b in r["base"]) for r in reqs]),
            _med([r["wall_s"] for r in reqs]))


def per_layer(rows, names):
    """Value of each per-layer metric ``<span>.<stat>``: the median per
    call (self time for ``wall_s``); 0 for a span the run never made."""
    selfs = self_times(rows)
    traced, untraced = overhead(rows)
    out = {}
    for n in names:
        if n == "trace.traced_s":
            out[n] = traced
            continue
        if n == "trace.untraced_s":
            out[n] = untraced
            continue
        span, stat = n.rsplit(".", 1)
        rs = [r for r in rows if r["name"] == span]
        if stat == "wall_s":
            out[n] = _med([selfs[r["id"]] for r in rs])
        else:
            out[n] = _med([float(r.get(stat, 0.0) or 0.0) for r in rs])
    return out


def table(rows):
    selfs = self_times(rows)
    names = sorted({r["name"] for r in rows})
    lines = ["per-layer spans (medians per call; self = wall - children - base)",
             "  %-26s %5s %9s %9s %6s %8s %7s  %s" % (
                 "span", "calls", "self_s", "wall_s", "jobs", "exec_s", "gc_s",
                 "extras")]
    skip = {"trace", "id", "name", "parent", "base", "start", "end"} | set(STATS)
    for n in names:
        rs = [r for r in rows if r["name"] == n]
        extras = sorted({k for r in rs for k in r if k not in skip})
        ex = " ".join("%s=%.3f" % (k, _med([float(r.get(k) or 0.0) for r in rs]))
                      for k in extras)
        lines.append("  %-26s %5d %9.4f %9.4f %6.1f %8.3f %7.3f  %s" % (
            n, len(rs), _med([selfs[r["id"]] for r in rs]),
            _med([r["wall_s"] for r in rs]), _med([r["jobs"] for r in rs]),
            _med([r["exec_s"] for r in rs]), _med([r["gc_s"] for r in rs]), ex))
    traced, untraced = overhead(rows)
    if untraced:
        lines.append("  tracing overhead: forced stages sum %.4f s vs untraced "
                     "request %.4f s (difference %.4f s, median per request)"
                     % (traced, untraced, traced - untraced))
    else:
        lines.append("  tracing overhead: not separable here (no request is "
                     "run both untraced and as forced stages)")
    return "\n".join(lines)


if __name__ == "__main__":
    print(table(load(sys.argv[1])))
