#!/usr/bin/env python3
"""Self-tests of the benchmark harness's Python side (no JVM needed):

    python3 perfbench/test_perfbench.py
"""
import json
import os
import sys
import tempfile
import time
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import generator  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())


def scratch():
    run.OUT.mkdir(exist_ok=True)
    return tempfile.TemporaryDirectory(dir=run.OUT)


class TailRule(unittest.TestCase):
    def test_ten_samples_above(self):
        for n in (11, 20, 57, 100, 999, 1000, 1500, 4321):
            xs = list(range(n))
            value, pct, m = M.tail(xs)
            self.assertEqual(m, n)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10, n)
            # one whole percentile step higher would leave fewer than ten above
            k = -(-(pct + 1) * n // 100)
            self.assertLess(n - k, 10, n)

    def test_quoted_percentiles(self):
        self.assertEqual(M.tail(list(range(1000)))[1], 99.0)
        self.assertEqual(M.tail(list(range(100)))[1], 90.0)
        self.assertEqual(M.tail(list(range(20)))[1], 50.0)

    def test_too_few_samples(self):
        value, pct, n = M.tail(list(range(10)))
        self.assertNotEqual(value, value)
        self.assertEqual((pct, n), (0.0, 10))


class SeedDeterminism(unittest.TestCase):
    def test_query_order(self):
        for name, wl in run.WORKLOADS.items():
            if wl["mode"] != "batch":
                continue
            a = run.query_order(name, 7)
            self.assertEqual(a, run.query_order(name, 7))
            self.assertEqual(sorted(a), sorted(wl["queries"]))
            self.assertNotEqual(a, run.query_order(name, 8))

    def test_generated_files_byte_identical(self):
        rates = run.WORKLOADS["txn_live"]["rates"]
        digests = []
        for _ in range(2):
            with scratch() as d:
                for n, _, body in generator.files(generator.schedule(5, rates, 1.0)):
                    generator.write_atomic(d, generator.file_name(n), body)
                digests.append({f: Path(d, f).read_bytes() for f in sorted(os.listdir(d))})
        self.assertEqual(digests[0], digests[1])
        other = {generator.file_name(n): body.encode()
                 for n, _, body in generator.files(generator.schedule(6, rates, 1.0))}
        self.assertNotEqual(digests[0], other)

    def test_schedule_mix(self):
        reqs = generator.schedule(3, [200, 400], 5.0)
        self.assertEqual(len(reqs), 3000)
        share = lambda k: sum(1 for r in reqs if r[k]) / len(reqs)
        self.assertTrue(0.05 < share("retry") < 0.15)
        self.assertTrue(0.005 < share("late") < 0.05)
        # some ids are sent only beyond the watermark, so are never emitted
        self.assertLess(len(generator.expected_ids(reqs)), len({r["id"] for r in reqs}))


class OpenLoopLatency(unittest.TestCase):
    def test_timed_from_due_not_from_send(self):
        reqs = generator.schedule(1, [10], 1.0)
        t0 = 1_000_000.0
        # the pipeline stalled: request 0 was due at t0 but only committed
        # 900 ms later, although the generator wrote it 850 ms late
        r = reqs[0]
        batches = [{"ids": [r["id"]], "due_ms": [str(r["due_ms"])], "commit_ms": t0 + r["due_ms"] + 900.0}]
        lat, emitted = M.live_latencies(batches, t0, reqs)
        self.assertEqual(emitted, [r["id"]])
        self.assertAlmostEqual(lat[r["seq"]], 900.0)

    def test_sender_keeps_schedule(self):
        reqs = generator.schedule(2, [400], 0.5)
        files = generator.files(reqs)
        with scratch() as d:
            t0 = time.time() * 1000.0 + 50.0
            s = generator.Sender(d, reqs, t0)
            s.start()
            s.join()
            late = [s.written_ms[n] - (t0 + due) for n, due, _ in files]
            self.assertEqual(len(os.listdir(d)), len(files))
        self.assertGreaterEqual(min(late), 0.0)
        self.assertLess(max(late), 100.0)

    def test_backlog_and_rungs(self):
        reqs = generator.schedule(4, [100], 2.0)
        t0 = 0.0
        written = {r["file"]: t0 + r["due_ms"] for r in reqs}
        # one batch every 100 ms takes everything written before it
        batches = []
        for c in range(100, 2200, 100):
            taken = [r for r in reqs if c - 100 < r["due_ms"] + 1 <= c]
            batches.append({"ids": [r["id"] for r in taken], "due_ms": [str(r["due_ms"]) for r in taken],
                            "commit_ms": float(c)})
        pts = M.backlog(reqs, written, batches)
        self.assertTrue(all(b <= 10 for _, b in pts))
        lat, _ = M.live_latencies(batches, t0, reqs)
        self.assertTrue(M.rung_ok(list(lat.values()), pts, 0, 2000, 100, 150.0))
        self.assertFalse(M.rung_ok(list(lat.values()), pts, 0, 2000, 100, 50.0))


class SelfTime(unittest.TestCase):
    def test_children_overlap(self):
        spans = [{"id": 1, "parent": 0, "start_ms": 0, "end_ms": 100},
                 {"id": 2, "parent": 1, "start_ms": 10, "end_ms": 40},
                 {"id": 3, "parent": 1, "start_ms": 30, "end_ms": 60},
                 {"id": 4, "parent": 1, "start_ms": 90, "end_ms": 130}]
        self.assertEqual(M.self_times(spans)[1], 40.0)


def fake_record(mode):
    spans, queries, jobs, stages, progress = [], [], [], [], []
    t = 1_000.0
    spans.append({"id": 1, "parent": 0, "name": "setup", "layer": "setup", "start_ms": 0.0, "end_ms": t})
    if mode == "batch":
        for i, name in enumerate(["q_a", "q_b"]):
            qid = 10 * (i + 1)
            spans.append({"id": qid, "parent": 0, "name": name, "layer": "query", "start_ms": t, "end_ms": t + 40})
            for j, (ph, layer) in enumerate([("build", "operators"), ("plan", "catalyst"),
                                             ("exec", "exec"), ("check", "check")]):
                spans.append({"id": qid + j + 1, "parent": qid, "name": ph, "layer": layer,
                              "start_ms": t + 10 * j, "end_ms": t + 10 * j + 9})
            jobs.append({"job": i, "group": "perfbench/%s/exec" % name, "start_ms": t + 21,
                         "end_ms": t + 28, "stages": [2 * i, 2 * i + 1], "ok": True})
            stages.append({"stage": 2 * i, "attempt": 0, "start_ms": t + 21, "end_ms": t + 28, "tasks": 4.0,
                           "tasks_failed": 0.0, "sched_wait_ms": 1.0, "run_ms": 20, "cpu_ns": 10 ** 7,
                           "result_bytes": 100, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                           "fetch_wait_ms": 0, "spill_bytes": 0, "input_bytes": 1000, "input_rows": 10})
            queries.append({"name": name, "error": None, "rows": 1, "digest": "d",
                            "counters": {"leaked_cached": 0, "conf_drift": 0, "tmp_dirs_left": 0,
                                         "gc_ms": 1.0, "compiles": 2.0, "compile_ms": 3.0}})
            t += 40
    trace = {"spans": spans, "jobs": jobs, "stages": stages, "progress": progress, "streams": [],
             "actions": [], "persist_blocks": 0, "persist_peak_bytes": 0}
    return {"queries": queries, "trace": trace, "host": {}}


class OutputSchema(unittest.TestCase):
    def test_spec_is_well_formed(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertEqual({w["name"] for w in SPEC["workloads"]}, set(run.WORKLOADS))
        self.assertTrue(any(m["name"] == "setup_s" for m in SPEC["end_to_end"]))

    def test_batch_metrics_match_spec(self):
        rec = fake_record("batch")
        e2e, _ = run.batch_metrics(run.batch_results(rec))
        e2e = dict(e2e, setup_s=(1.0, "s"), peak_rss_mb=(1.0, "MB"))
        self.assertEqual({k: u for k, (_, u) in e2e.items()},
                         {m["name"]: m["unit"] for m in SPEC["end_to_end"]})
        layers = run.layer_metrics(rec, "batch", 0.01)
        self.assertEqual({k: u for k, (_, u) in layers.items()},
                         {m["name"]: m["unit"] for m in SPEC["per_layer"]})
        line = json.loads(run.result_line(e2e, [], 2, 0))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        for m in SPEC["end_to_end"]:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])

    def test_live_metrics_match_spec(self):
        reqs = generator.schedule(1, [50, 100], 1.0)
        t0 = 0.0
        batches = [{"ids": [r["id"] for r in reqs if not r["late"]],
                    "due_ms": [str(r["due_ms"]) for r in reqs if not r["late"]], "commit_ms": 2100.0}]
        rec = fake_record("live")
        rec.update(batches=batches, live={"t0_ms": t0, "rates": [50, 100], "rung_s": 1.0,
                                          "written_ms": {r["file"]: r["due_ms"] for r in reqs}})
        lat, failed, n_failed = run.check_live(rec, reqs)
        self.assertEqual(failed and failed[0][0], "duplicates")
        e2e, _ = run.live_metrics(rec, reqs, lat, 1000.0)
        e2e = dict(e2e, setup_s=(1.0, "s"), peak_rss_mb=(1.0, "MB"))
        self.assertEqual({k: u for k, (_, u) in e2e.items()},
                         {m["name"]: m["unit"] for m in SPEC["end_to_end"]})
        layers = run.layer_metrics(rec, "live", 0.01, reqs)
        self.assertEqual(set(layers), {m["name"] for m in SPEC["per_layer"]})


if __name__ == "__main__":
    unittest.main()
