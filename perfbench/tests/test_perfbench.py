"""The benchmark's own tests.

Run from the repository root:
    python3 -m unittest discover -s perfbench/tests
Set PERFBENCH_INTEGRATION=1 to also build the harness and check, against
the real engine, the timed plans and the printed metric names (a few
minutes)."""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "test-tmp")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def _files(self, d):
        out = {}
        for dirpath, _, names in os.walk(d):
            for n in names:
                p = os.path.join(dirpath, n)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, d)] = fh.read()
        return out

    def test_same_seed_identical_bytes_other_seed_differs(self):
        for w in ("curation", "relational_mr", "ingest"):
            a = gen.generate(w, 11, os.path.join(SCRATCH, w, "a"))
            b = gen.generate(w, 11, os.path.join(SCRATCH, w, "b"))
            c = gen.generate(w, 12, os.path.join(SCRATCH, w, "c"))
            self.assertEqual(a, b, w)
            self.assertEqual(self._files(os.path.join(SCRATCH, w, "a")),
                             self._files(os.path.join(SCRATCH, w, "b")), w)
            self.assertNotEqual(a, c, w)

    def test_planted_duplicates_meet_the_jaccard_margins(self):
        import pyarrow.parquet as pq
        gen.generate("ingest", 5, os.path.join(SCRATCH, "i"))
        docs = pq.read_table(os.path.join(SCRATCH, "i", "stream", "docs.parquet")).to_pylist()

        def shingles(t):
            w = t.split(" ")
            return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

        uniques = [d for d in docs if d["kind"] == "unique"]
        by_text = {d["text"]: d for d in uniques}
        for d in docs:
            if d["kind"] == "exact":
                self.assertIn(d["text"], by_text)
            elif d["kind"] == "near":
                src = by_text[d["text"].rsplit(" ", 1)[0]]
                a, b = shingles(d["text"]), shingles(src["text"])
                self.assertGreaterEqual(len(a & b) / len(a | b), 0.95)
        sample = [shingles(u["text"]) for u in uniques[:200]]
        worst = max(len(x & y) / len(x | y) for i, x in enumerate(sample) for y in sample[i + 1:])
        self.assertLessEqual(worst, 0.3)


class SpecTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        import re
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertIn(w["name"], run.WORKLOADS)
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"])
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]] + [w["name"] for w in s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["name"], name)
            self.assertRegex(m["unit"], unit)
            self.assertIn(m["better"], ("higher", "lower"))
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))


class MetricsTest(unittest.TestCase):
    RESULT = {
        "input_bytes": 3 * 1048576, "pass_s": [2.0, 3.0, 4.0], "query_s": [float(i) for i in range(1, 21)],
        "setup_s": [9.0, 1.0, 2.0], "heap_mb": [100.0, 120.0, 110.0],
        "session_start_s": [3.0, 0.1, 0.2], "traced_pass_s": [3.3],
        "layers": {"operators.jobs": 5.0, "operators.build_s": 1.5},
    }

    def test_end_to_end_names_equal_benchmark_json(self):
        got = run.end_to_end(self.RESULT)
        want = spec()["end_to_end"]
        self.assertEqual(list(got), [m["name"] for m in want])
        for m in want:
            self.assertEqual(got[m["name"]][1], m["unit"], m["name"])
        self.assertEqual(got["pass_s"][0], 3.0)
        self.assertAlmostEqual(got["query_s_p90"][0], 18.1)
        self.assertEqual(got["input_mb_per_s"][0], 1.0)

    def test_name_check_rejects_a_missing_or_extra_metric(self):
        names = [m["name"] for m in spec()["end_to_end"]]
        metrics = {n: (1.0, "s") for n in names}
        run.check_names(metrics, spec(), trace=0)
        with self.assertRaises(SystemExit):
            run.check_names({n: v for n, v in metrics.items() if n != "setup_s"}, spec(), trace=0)
        with self.assertRaises(SystemExit):
            run.check_names(dict(metrics, extra=(1.0, "s")), spec(), trace=0)


class CheckerTest(unittest.TestCase):
    def test_one_flipped_value_fails(self):
        import pandas as pd
        want = pd.DataFrame({"k": ["a", "b", "c"], "n": [1, 2, 3], "x": [0.5, 1.25, 2.0]})
        self.assertEqual(run.compare(want.iloc[::-1].copy(), want), [])
        for col, row, val in (("k", 1, "z"), ("n", 2, 4), ("x", 0, 0.5000001)):
            got = want.copy()
            got.loc[row, col] = val
            self.assertNotEqual(run.compare(got, want), [], col)

    def test_int_float_skew_fails(self):
        import pandas as pd
        want = pd.DataFrame({"n": [1, 2]})
        self.assertNotEqual(run.compare(want.astype(float), want), [])


class SelfTimeTest(unittest.TestCase):
    def test_self_time_is_duration_minus_child_coverage(self):
        s = lambda i, p, a, b: {"id": i, "parent": p, "start_ns": a, "end_ns": b}
        spans = [
            s(0, -1, 0, 100),
            s(1, 0, 10, 40),    # overlaps sibling 2: union [10, 60]
            s(2, 0, 30, 60),
            s(3, 1, 15, 20),    # grandchild: counts against 1, not 0
            s(4, 0, 90, 120),   # clipped to the parent's end: [90, 100]
            s(5, 0, 95, 95),    # empty
        ]
        st = run.self_times(spans)
        self.assertAlmostEqual(st[0] * 1e9, 100 - 60)
        self.assertAlmostEqual(st[1] * 1e9, 30 - 5)
        self.assertAlmostEqual(st[2] * 1e9, 30)
        self.assertAlmostEqual(st[3] * 1e9, 5)


@unittest.skipUnless(os.environ.get("PERFBENCH_INTEGRATION") == "1", "set PERFBENCH_INTEGRATION=1")
class IntegrationTest(unittest.TestCase):
    def test_timed_plans_keep_the_full_result(self):
        cp = run.build()
        tables, _ = run.inputs("relational_mr", 1)
        curation, _ = run.inputs("curation", 1)
        for d in (tables, curation):
            p = subprocess.run(run.java_command(cp, ["plans", os.path.join(d, "tables")]),
                               cwd=ROOT, capture_output=True, text=True,
                               env=dict(os.environ, SPARK_GRAFT_CPUS=str(run.cpus())))
            lines = [ln for ln in p.stdout.splitlines() if ln.startswith(("PASS", "FAIL"))]
            self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])
            self.assertEqual(len(lines), 5)

    def test_printed_names_equal_benchmark_json(self):
        for trace in (0, 1):
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                                "relational_mr", "--seed", "1", "--seconds", "1",
                                "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
            self.assertEqual(p.returncode, 0, p.stderr[-3000:])
            res = json.loads(p.stdout.strip().splitlines()[-1])
            key = "per_layer" if trace else "end_to_end"
            self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in spec()[key]))


if __name__ == "__main__":
    unittest.main()
