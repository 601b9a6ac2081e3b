"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The last class runs each workload for one second (it builds the program
on first use; a few minutes in all). To run only the fast tests, name
their classes:

    python3 -m unittest discover -s perfbench/tests -k GeneratorTest \
        -k ChecksTest -k SpansTest
"""
import json
import os
import random
import re
import struct
import subprocess
import sys
import unittest
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import loggen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def records(text):
    return [r for r in text.split(loggen.RECORD_SEP) if r]


def attrs(record):
    return dict(re.findall(r'([A-Z_]+)="([^"]*)"', record))


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        a = loggen.gen_logs(7, [40, 300, 25])
        b = loggen.gen_logs(7, [40, 300, 25])
        self.assertEqual([t for t, _, _ in a], [t for t, _, _ in b])
        self.assertEqual([f for _, f, _ in a], [f for _, f, _ in b])
        c = loggen.gen_logs(8, [40, 300, 25])
        self.assertNotEqual([t for t, _, _ in a], [t for t, _, _ in c])

    def test_fleet_sizes_fixed_total_heavy_tail(self):
        for seed in range(5):
            sizes = loggen.fleet_sizes(random.Random(seed), 40, 1200)
            self.assertEqual(sum(sizes), 1200)
            self.assertGreaterEqual(min(sizes), 10)
            self.assertGreater(max(sizes), 5 * sorted(sizes)[len(sizes) // 2])

    def test_every_grammar_feature_occurs(self):
        logs = loggen.gen_logs(3, loggen.fleet_sizes(random.Random(3), 30, 2000))
        self.assertEqual(set().union(*[f for _, _, f in logs]),
                         set(loggen.FEATURES))
        text = "".join(t for t, _, _ in logs)
        recs = records(text)
        multi = [r for r in recs if 'ERROR="' in r and "\n" in r]
        self.assertTrue(multi, "multi-line ERROR value")
        self.assertIn("\\.", text)
        self.assertIn("\\=", text)
        self.assertRegex(text, r'COUNTERS="\{\([^)]*\)\([^)]*\)\[\(')
        self.assertIn('TASK_TYPE="SETUP"', text)
        self.assertIn('TASK_TYPE="CLEANUP"', text)
        for status in ("FAILED", "KILLED"):
            self.assertIn('TASK_STATUS="%s"' % status, text)
        # split records: an attempt's START and FINISH are separate records
        starts = {attrs(r)["TASK_ATTEMPT_ID"] for r in recs
                  if "Attempt " in r and "START_TIME=" in r}
        finishes = {attrs(r)["TASK_ATTEMPT_ID"] for r in recs
                    if "Attempt " in r and "FINISH_TIME=" in r and "START_TIME=" not in r}
        self.assertEqual(starts, finishes)
        # supersession: some task has two SUCCESS attempt finishes
        ok = {}
        for r in recs:
            a = attrs(r)
            if "Attempt " in r and a.get("TASK_STATUS") == "SUCCESS":
                ok.setdefault(a["TASKID"], set()).add(a["TASK_ATTEMPT_ID"])
        self.assertTrue(any(len(v) > 1 for v in ok.values()))

    def test_facts_match_an_independent_reading_of_the_text(self):
        for text, f, _ in loggen.gen_logs(11, [60, 400]):
            recs = [(r.split(" ", 1)[0], attrs(r)) for r in records(text)]
            maps = {a["TASKID"] for e, a in recs
                    if e == "Task" and a.get("TASK_TYPE") == "MAP"}
            reds = {a["TASKID"] for e, a in recs
                    if e == "Task" and a.get("TASK_TYPE") == "REDUCE"}
            map_atts = {a["TASK_ATTEMPT_ID"] for e, a in recs
                        if e == "MapAttempt" and a.get("TASK_TYPE") == "MAP"}
            red_atts = {a["TASK_ATTEMPT_ID"] for e, a in recs
                        if e == "ReduceAttempt"}
            self.assertEqual(len(maps), f["map_tasks"])
            self.assertEqual(len(reds), f["reduce_tasks"])
            self.assertEqual(len(map_atts), f["map_attempts"])
            self.assertEqual(len(red_atts), f["reduce_attempts"])
            self.assertEqual(f["bytes"], len(text.encode()))
            job = {}
            for e, a in recs:
                if e == "Job":
                    job.update(a)
            self.assertEqual(
                f["scale"]["1000"]["total_time"],
                (int(job["FINISH_TIME"]) - int(job["LAUNCH_TIME"])) // 1000)


def png(w, h, good=True):
    def chunk(t, body):
        return struct.pack(">I", len(body)) + t + body + \
            struct.pack(">I", zlib.crc32(t + body))
    raw = b"".join(b"\0" + b"\x10" * (w * 3) for _ in range(h))
    data = zlib.compress(raw if good else raw[:-5])
    return checks.PNG_SIG + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)) + \
        chunk(b"IDAT", data) + chunk(b"IEND", b"")


class ChecksTest(unittest.TestCase):

    def test_png(self):
        self.assertIsNone(checks.png_error(png(1200, 800)))
        self.assertIn("1200x800", checks.png_error(png(100, 80)))
        self.assertIsNotNone(checks.png_error(png(1200, 800, good=False)))
        self.assertIsNotNone(checks.png_error(b"GIF89a"))

    def test_cli_summary(self):
        _, f, _ = loggen.gen_logs(5, [50])[0]
        s = f["scale"]["1000"]
        out = "Job details: \n" + "".join("    %s=%s\n" % kv for kv in [
            ("job_id", f["job_id"]), ("job_name", f["job_name"]),
            ("user", f["user"]), ("job_status", "SUCCESS"),
            ("total_time", s["total_time"]), ("num_maps", f["map_tasks"]),
            ("num_reduces", f["reduce_tasks"]),
            ("total_map_time", s["total_map_time"]),
            ("total_reduce_time", s["total_reduce_time"])])
        self.assertIsNone(checks.cli_error("cli-s", out, f))
        self.assertIsNotNone(checks.cli_error(
            "cli-s", out.replace("num_maps=%d" % f["map_tasks"], "num_maps=0"), f))

    def test_tail_rule(self):
        self.assertIsNone(run.tail(list(range(10))))
        p, v = run.tail([float(i) for i in range(100)])
        self.assertEqual(p, 90)
        self.assertEqual(v, 90.0)


class SpansTest(unittest.TestCase):

    def test_self_time_subtracts_children_and_base(self):
        rows = [
            {"id": 1, "name": "stage", "parent": None, "base": [], "wall_s": 2.0,
             "jobs": 1, "exec_s": 1.0, "gc_s": 0.0},
            {"id": 2, "name": "request", "parent": None, "base": [1], "wall_s": 3.0,
             "jobs": 2, "exec_s": 1.0, "gc_s": 0.0},
            {"id": 3, "name": "inner", "parent": 2, "base": [], "wall_s": 0.5,
             "jobs": 0, "exec_s": 0.0, "gc_s": 0.0}]
        self.assertEqual(spans.self_times(rows), {1: 2.0, 2: 0.5, 3: 0.5})
        got = spans.per_layer(rows, ["stage.wall_s", "request.jobs", "absent.wall_s"])
        self.assertEqual(got, {"stage.wall_s": 2.0, "request.jobs": 2.0,
                               "absent.wall_s": 0.0})


class TinyRunTest(unittest.TestCase):
    """A one-second run of each workload reports every named metric."""

    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "5", "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_each_workload_reports_every_metric(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cfg = json.load(fh)
        for w in [x["name"] for x in cfg["workloads"]] + ["stream"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    res = self.run_bench(w, trace)
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    names = [m["name"] for m in cfg[key]]
                    self.assertEqual(sorted(res["metrics"]), sorted(names))
                    for n in names:
                        v = res["metrics"][n]["value"]
                        self.assertIsInstance(v, (int, float))
                        if key == "end_to_end":
                            self.assertGreater(v, 0, n)


if __name__ == "__main__":
    unittest.main()
