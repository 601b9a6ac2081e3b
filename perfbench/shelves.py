"""`shelves` workload inputs, checks and metrics.

The shelf gates read two of the registry's synthetic tables, generated
here per run from the seed with the registry's schemas:

  documents(doc_id, text, lang, source, n_chars): word-salad texts over
      a small vocabulary, a share of them near-duplicates of earlier
      ones (a few words swapped), so dedup indexes have clusters to find;
  events(event_id, ts, user_id, event_type, value, props): a month of
      events at microsecond timestamps.

Each gate's result is compared with its oracle SQL through DuckDB.
"""
import json
import os
import random

DOCS = 500
EVENTS = 10000
NEAR_DUP_SHARE = 0.25
VOCAB = ("key agg row scan slow fast table value part hash merge batch "
         "index shard node page block cache query plan join sort spill "
         "stream window state commit log file split record field").split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")


def gen_documents(rng):
    texts = []
    for i in range(DOCS):
        if texts and rng.random() < NEAR_DUP_SHARE:
            words = rng.choice(texts).split()
            for _ in range(rng.randrange(1, 4)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randrange(10, 90))]
        texts.append(" ".join(words))
    return {"doc_id": list(range(DOCS)), "text": texts,
            "lang": [rng.choice(LANGS) for _ in texts],
            "source": ["src%d" % (i % 20) for i in range(DOCS)],
            "n_chars": [len(t) for t in texts]}


def gen_events(rng):
    start_us = 1704067200 * 10 ** 6  # 2024-01-01 UTC
    span_us = 30 * 86400 * 10 ** 6
    ts = sorted(start_us + rng.randrange(span_us) for _ in range(EVENTS))
    return {"event_id": list(range(EVENTS)), "ts": ts,
            "user_id": [rng.randrange(150) for _ in ts],
            "event_type": [rng.choice(EVENT_TYPES) for _ in ts],
            "value": [round(rng.uniform(0.5, 50.0), 2) for _ in ts],
            "props": ['{"k": %d}' % rng.randrange(100) for _ in ts]}


def generate(work, seed):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    d = os.path.join(work, "tables")
    os.makedirs(d)
    docs = gen_documents(rng)
    pq.write_table(pa.table({
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": pa.array(docs["text"], pa.string()),
        "lang": pa.array(docs["lang"], pa.string()),
        "source": pa.array(docs["source"], pa.string()),
        "n_chars": pa.array(docs["n_chars"], pa.int64())}),
        os.path.join(d, "documents.parquet"))
    ev = gen_events(rng)
    pq.write_table(pa.table({
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": pa.array(ev["ts"], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": pa.array(ev["event_type"], pa.string()),
        "value": pa.array(ev["value"], pa.float64()),
        "props": pa.array(ev["props"], pa.string())}),
        os.path.join(d, "events.parquet"))
    return None


def check(res, work):
    """Oracle compare of every gate: (attempted, failed, errors)."""
    import duckdb
    import checks
    out = os.path.join(work, "out")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.sql("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (
            t, os.path.join(work, "tables", t + ".parquet")))
    gates = res["gates"]
    errs = []
    verdicts = checks.oracle_errors(con, {g: sql[g] for g in gates if g in sql}, out)
    for g in gates:
        if g not in sql:
            errs.append("oracle %s: no oracle SQL" % g)
        elif verdicts[g]:
            errs.append("oracle %s: %s" % (g, verdicts[g]))
    return len(gates), len(errs), errs


def metrics(res):
    """(shelf_maintain_s, shelf_serve_s). The maintain time is one cold
    sample per run, too noisy run to run to gate on; it is reported, not
    gated."""
    import statistics
    serve = {}
    for op in res["ops"]:
        if op["ok"] and op["kind"].startswith("serve:"):
            serve.setdefault(op["kind"], []).append(op["wall_s"])
    serve_s = sum(statistics.median(v) for v in serve.values()) if serve else float("nan")
    maintain = res["maintain_s"]
    return maintain, serve_s
