"""The benchmark's own tests: generator determinism, metric names, and
the arithmetic that reconciles counts and adds span times.

  python3 -m unittest discover -s paperbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def tree_digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, d):
    m = run.generate(workload, seed, d)
    return tree_digest(os.path.join(d, "in")), m


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.saved = dict(run.WORKLOADS)
        # same shapes, smaller sizes: determinism does not depend on size
        run.WORKLOADS.update({
            "parse_bulk": dict(run.WORKLOADS["parse_bulk"], lines=12_000),
            "season_e2e": dict(run.WORKLOADS["season_e2e"], lines=3000)})

    def tearDown(self):
        run.WORKLOADS.clear()
        run.WORKLOADS.update(self.saved)

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in run.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, \
                    tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                da, ma = generate(w, 7, a)
                db, mb = generate(w, 7, b)
                dc, _ = generate(w, 8, c)
                self.assertEqual(da, db, w)
                self.assertNotEqual(da, dc, w)
                strip = lambda m: json.loads(json.dumps(m).replace(a, "").replace(b, ""))
                self.assertEqual(strip(ma), strip(mb), w)

    def test_corpus_counts_reconcile(self):
        with tempfile.TemporaryDirectory() as d:
            files = gen.write_candump_corpus(d, gen.make_schema(3), 3, 60_000)
            for f in files:
                self.assertEqual(gen.reconcile(f), 0)
                self.assertGreater(f["regex_miss"], 0)
                self.assertGreater(f["decode_reject"], 0)
                self.assertLess(f["jump_drop"], gen.JUMP_LAG)
                with open(os.path.join(d, f["file"]), "rb") as fh:
                    self.assertEqual(fh.read().count(b"\n"), f["lines"])

    def test_widths(self):
        self.assertGreaterEqual(gen.signal_count(gen.make_schema(1, 8, 3)), 150)
        # the narrow shape stays on CanDecode's fused path (<= 64 fields)
        self.assertLessEqual(gen.signal_count(gen.make_schema(1, 2, 2)), 64)

    def test_season_grid_covers_the_race(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.write_season(d, gen.make_schema(3, 2, 2), 3, 3000, "100ms")
            with open(os.path.join(d, m["log"]["glob"]), "rb") as fh:
                first, *_, last = fh.read().splitlines()
            span_s = float(last[1:18]) - float(first[1:18])
            # the race lasts a few seconds; its grid has one row per 100 ms
            self.assertLess(abs(m["final_rows"] - span_s * 10), 2)
            self.assertEqual(m["lines"], 3000 + m["db_lines"])


class MetricNameTest(unittest.TestCase):
    def test_names_match_contract(self):
        names = list(layers.END_TO_END) + list(layers.per_layer_names())
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(n, layers.NAME)

    def test_benchmark_json_lists_the_same_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         layers.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         layers.per_layer_names())
        self.assertEqual({w["name"] for w in b["workloads"]}, set(run.WORKLOADS))


def span(i, name, parent, start, end, op=0, **counts):
    return {"id": i, "name": name, "parent": parent, "op": op,
            "start_s": start, "end_s": end, "counts": counts}


class ArithmeticTest(unittest.TestCase):
    def test_self_times_add_up_to_the_op(self):
        spans = [span(0, "op", -1, 0.0, 10.0),
                 span(1, "candump.frames", 0, 0.5, 3.0, rows_out=9),
                 span(2, "parsestage.write", 0, 3.0, 9.0, jobs=2),
                 span(3, "seasons.final", 2, 4.0, 5.0),
                 span(4, "seasons.final", 2, 6.0, 7.0)]
        o = layers.layer_totals(spans)[0]
        self.assertAlmostEqual(o["wall_s"], 10.0)
        self.assertAlmostEqual(o["root_s"], 1.5)
        self.assertAlmostEqual(o["layers"]["parsestage.write"]["self_s"], 4.0)
        self.assertAlmostEqual(o["layers"]["seasons.final"]["self_s"], 2.0)
        total = o["root_s"] + sum(l["self_s"] for l in o["layers"].values())
        self.assertAlmostEqual(total, o["wall_s"])

    def test_reconcile_flags_a_gap(self):
        f = {"lines": 100, "rows_out": 90, "regex_miss": 3, "decode_reject": 4,
             "crop_drop": 1, "jump_drop": 2}
        self.assertEqual(gen.reconcile(f), 0)
        f["rows_out"] = 89
        self.assertEqual(gen.reconcile(f), 1)

    def test_summary_counts_failures_and_overhead(self):
        res = {"jvm_start_s": 0.5, "in_rows": 100, "in_bytes": 1000,
               "gc_s": 0.7,
               "setup": {"session_s": 1.0},
               "warmup": [{"op": -1, "op_s": 0.5}, {"op": 0, "op_s": 1.5}],
               "ops": [{"op": 1, "op_s": 4.0, "op_cpu_s": 12.0, "tasks": 8,
                        "sched_delay_s": 0.2, "out_bytes": 500,
                        "peak_heap_mb": 300.0},
                       {"op": 2, "op_s": 6.0, "op_cpu_s": 14.0, "tasks": 8,
                        "sched_delay_s": 0.2, "out_bytes": 700,
                        "peak_heap_mb": 500.0, "error": "rows differ"}],
               "traced": [{"op": 3, "error": "layer counts differ"}],
               "spans": [span(0, "op", -1, 0.0, 5.5, op=3),
                         span(1, "candump.frames", 0, 0.0, 5.0, op=3)]}
        e2e = layers.summarize(res, 0.25, False)
        self.assertEqual((e2e["attempted"], e2e["failed"], e2e["correct"]),
                         (5, 2, False))
        m = {k: v["value"] for k, v in e2e["metrics"].items()}
        self.assertEqual(set(m), set(layers.END_TO_END))
        self.assertAlmostEqual(m["setup_s"], 3.75)
        self.assertAlmostEqual(m["op_s"], 5.0)
        self.assertAlmostEqual(m["in_rows_per_s"], 20.0)
        self.assertAlmostEqual(m["out_bytes_per_in_byte"], 0.6)
        self.assertAlmostEqual(m["peak_heap_mb"], 400.0)
        res.update(local1_lines_per_s_per_core=9.0,
                   localN_lines_per_s_per_core=7.0)
        tr = layers.summarize(res, 0.25, True)
        self.assertEqual(tr["failed"], 2)
        t = {k: v["value"] for k, v in tr["metrics"].items()}
        self.assertEqual(set(t), set(layers.per_layer_names()))
        # a layer the op does not call reads 0
        self.assertEqual(t["resamplestage.run.self_s"], 0.0)
        self.assertEqual(t["baseline.local1_lines_per_s_per_core"], 9.0)
        self.assertAlmostEqual(t["trace.overhead_s"], 0.5)
        self.assertAlmostEqual(t["trace.unattributed_s"], 0.5)
        self.assertAlmostEqual(t["candump.frames.self_s"], 5.0)
        self.assertAlmostEqual(t["jvm.gc_s"], 0.7)
        self.assertAlmostEqual(t["jvm.op_cpu_s"], 13.0)


if __name__ == "__main__":
    unittest.main()
