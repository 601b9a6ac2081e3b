"""Output checks: every operation's output against the generator's facts
(or, for shelf gates, against the gate's DuckDB oracle SQL). A check
returns None when the output is right, else a one-line reason."""
import os
import struct
import zlib

PNG_SIG = b"\x89PNG\r\n\x1a\n"
CHART_SIZE = (1200, 800)


def png_error(data, size=CHART_SIZE):
    """Decode a PNG fully (chunk CRCs, IHDR, inflated IDAT length) and
    check its pixel size."""
    if not data.startswith(PNG_SIG):
        return "not a PNG"
    pos, idat, ihdr = 8, [], None
    while pos < len(data):
        if pos + 8 > len(data):
            return "truncated chunk header"
        n, typ = struct.unpack(">I4s", data[pos:pos + 8])
        body = data[pos + 8:pos + 8 + n]
        crc = data[pos + 8 + n:pos + 12 + n]
        if len(body) != n or len(crc) != 4 or \
                struct.unpack(">I", crc)[0] != zlib.crc32(typ + body):
            return "bad %s chunk" % typ.decode(errors="replace")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif typ == b"IDAT":
            idat.append(body)
        elif typ == b"IEND":
            break
        pos += 12 + n
    if ihdr is None or not idat:
        return "missing IHDR or IDAT"
    w, h, depth, ctype = ihdr[:4]
    if (w, h) != size:
        return "PNG is %dx%d, want %dx%d" % (w, h, size[0], size[1])
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(ctype)
    if depth != 8 or channels is None:
        return "unexpected PNG format depth=%d type=%d" % (depth, ctype)
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        return "IDAT does not inflate: %s" % e
    if len(raw) != h * (1 + w * channels):
        return "IDAT holds %d bytes, want %d" % (len(raw), h * (1 + w * channels))
    return None


def _csv_rows(text):
    lines = [ln for ln in text.splitlines() if ln.strip()]
    return [ln.split(", ") for ln in lines[1:]]


def cli_error(kind, text, f):
    """Check one CLI report's stdout against one job's facts (scale 1000)."""
    s = f["scale"]["1000"]
    if kind == "cli-s":
        got = {}
        for ln in text.splitlines():
            ln = ln.strip()
            if "=" in ln:
                k, v = ln.split("=", 1)
                got[k] = v
        want = {"job_id": f["job_id"], "job_name": f["job_name"],
                "user": f["user"], "job_status": f["job_status"],
                "total_time": str(s["total_time"]),
                "num_maps": str(f["map_tasks"]),
                "num_reduces": str(f["reduce_tasks"]),
                "total_map_time": str(s["total_map_time"]),
                "total_reduce_time": str(s["total_reduce_time"])}
        bad = [k for k in want if got.get(k) != want[k]]
        return None if not bad else "summary %s: got %s want %s" % (
            bad[0], got.get(bad[0]), want[bad[0]])
    rows = _csv_rows(text)
    if kind in ("cli-m", "cli-r"):
        tasks, atts = ("map_tasks", "map_attempts") if kind == "cli-m" else \
            ("reduce_tasks", "reduce_attempts")
        if len(rows) != f[tasks]:
            return "%s rows %d, want %d" % (kind, len(rows), f[tasks])
        n = sum(int(r[-1]) for r in rows)
        return None if n == f[atts] else "%s attempts %d, want %d" % (kind, n, f[atts])
    if kind == "cli-b":
        if len(rows) != f["reduce_tasks"]:
            return "bytes rows %d, want %d" % (len(rows), f["reduce_tasks"])
        n = sum(int(r[1]) for r in rows)
        return None if n == f["reduce_bytes"] else \
            "reduce bytes %d, want %d" % (n, f["reduce_bytes"])
    return "unknown CLI kind %s" % kind


PHASES = ("maps", "shuffle", "merge", "reduce", "waste")


def fleet_error(tsv_text, facts):
    """A fleet request's per-job summary and timeline sums vs facts."""
    lines = tsv_text.splitlines()
    head = lines[0].split("\t")
    got = {}
    for ln in lines[1:]:
        if ln:
            r = dict(zip(head, ln.split("\t")))
            got[r["job_id"]] = r
    if len(got) != len(facts):
        return "fleet jobs %d, want %d" % (len(got), len(facts))
    for f in facts:
        r = got.get(f["job_id"])
        if r is None:
            return "fleet job %s missing" % f["job_id"]
        s = f["scale"]["1000"]
        want = {"job_name": f["job_name"], "user": f["user"],
                "job_status": f["job_status"],
                "total_time": str(s["total_time"]),
                "num_maps": str(f["map_tasks"]),
                "num_reduces": str(f["reduce_tasks"]),
                "total_map_time": str(s["total_map_time"]),
                "total_reduce_time": str(s["total_reduce_time"]),
                "timeline_rows": str(s["timeline_rows"])}
        want.update({p: str(s["slots"][p]) for p in PHASES})
        for k, v in want.items():
            if r.get(k) != v:
                return "fleet %s %s: got %s want %s" % (f["job_id"], k, r.get(k), v)
    return None


def stream_error(tsv_text, facts):
    """Converged stream per-(job, phase) slot sums vs facts."""
    got = {}
    for ln in tsv_text.splitlines():
        if ln:
            j, p, c = ln.split("\t")
            got[(j, p)] = int(c)
    want = {(f["job_id"], p): f["scale"]["1000"]["slots"][p]
            for f in facts for p in PHASES if f["scale"]["1000"]["slots"][p]}
    if got == want:
        return None
    diff = sorted(set(got.items()) ^ set(want.items()))[:1]
    return "stream slot sums differ from facts, first: %s" % (diff,)


def oracle_errors(con, sql_by_gate, out_dir):
    """Shelf gates vs their oracle SQL, compared the way the registry's
    oracle compare does it: columns sorted by name, rows sorted by all
    columns, values and dtypes equal. Returns {gate: reason or None}."""
    import pandas as pd

    def canon(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns), ignore_index=True,
                              kind="mergesort")

    res = {}
    for gate, sql in sql_by_gate.items():
        path = os.path.join(out_dir, gate)
        try:
            got = pd.read_parquet(path)
            exp = con.sql(sql).df()
        except Exception as e:  # reported as this gate's failure
            res[gate] = "%s: %s" % (type(e).__name__, str(e).splitlines()[0][:200])
            continue
        if sorted(got.columns) != sorted(exp.columns):
            res[gate] = "columns %s vs oracle %s" % (sorted(got.columns),
                                                    sorted(exp.columns))
            continue
        if len(got) != len(exp):
            res[gate] = "rows %d vs oracle %d" % (len(got), len(exp))
            continue
        g, e = canon(got), canon(exp)
        bad = None
        for c in g.columns:
            if g[c].dtype != e[c].dtype:
                bad = "%s dtype %s vs %s" % (c, g[c].dtype, e[c].dtype)
                break
            neq = ~((g[c] == e[c]) | (g[c].isna() & e[c].isna()))
            if neq.any():
                bad = "%s: %d values differ" % (c, int(neq.sum()))
                break
        res[gate] = bad
    return res
