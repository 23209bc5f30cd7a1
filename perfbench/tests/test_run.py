"""Self-tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The last test launches one short interactive run (about a minute,
building graft first if needed); set PERFBENCH_SKIP_E2E=1 to skip it.
"""
import json
import math
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import run  # noqa: E402

FACTS = {"vec_ids": list(range(50)), "sources": ["src0", "src1", "src2"],
         "groups": [("src0", 1, 3), ("src1", 2, 5), ("src2", 7, 2)]}


class SeededGenerator(unittest.TestCase):
    def test_same_seed_same_list(self):
        for w in run.WORKLOADS:
            self.assertEqual(run.make_plan(w, 7, FACTS, 3), run.make_plan(w, 7, FACTS, 3), w)

    def test_different_seed_different_list(self):
        for w in run.WORKLOADS:
            self.assertNotEqual(run.make_plan(w, 7, FACTS, 3), run.make_plan(w, 8, FACTS, 3), w)

    def test_seed_changes_order_not_mix(self):
        for w in run.WORKLOADS:
            a = [(c, k, n) for c, k, n, _ in run.make_plan(w, 1, FACTS, 3)]
            b = [(c, k, n) for c, k, n, _ in run.make_plan(w, 2, FACTS, 3)]
            self.assertEqual(sorted(a), sorted(b), w)

    def test_parameters_come_from_enumerated_data(self):
        for c, k, n, p in run.make_plan("interactive", 3, FACTS, 3):
            if "vec" in p:
                self.assertIn(p["vec"], FACTS["vec_ids"])
            if k == "getcluster":
                self.assertIn((p["source"], p["group"]), [(s, g) for s, g, _ in FACTS["groups"]])
            if k == "randcluster":
                self.assertLessEqual(p["min"], 5)


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(run.percentile(xs, 50), 50)
        self.assertEqual(run.percentile(xs, 90), 90)
        self.assertEqual(run.percentile([5.0], 90), 5.0)

    def test_failures_count_as_infinite(self):
        ops = [{"ms": 1.0, "ok": True}] * 85 + [{"ms": 1.0, "ok": False}] * 15
        self.assertEqual(run.percentile(run.latencies(ops), 50), 1.0)
        self.assertTrue(math.isinf(run.percentile(run.latencies(ops), 90)))

    def test_ten_samples_beyond_the_percentile(self):
        self.assertEqual(run.max_reportable_percentile(19), None)
        self.assertEqual(run.max_reportable_percentile(20), 50)
        self.assertEqual(run.max_reportable_percentile(99), 75)
        self.assertEqual(run.max_reportable_percentile(100), 90)
        self.assertEqual(run.max_reportable_percentile(1000), 99)


class FailureAccounting(unittest.TestCase):
    def test_failed_index_probe_fails_the_rounds_builds(self):
        ops = [{"name": "pq.build", "kind": "build", "key": "build pq.build", "round": 1, "ok": True, "err": None},
               {"name": "pq.build", "kind": "build", "key": "build pq.build", "round": 2, "ok": True, "err": None},
               {"name": "q27", "kind": "entry", "key": "entry q27", "round": 1, "ok": True, "err": None}]
        run.apply_failures(ops, {"failures": {"round-1": "q67c_pq_indexed: digest mismatch"}}, {})
        self.assertEqual([o["ok"] for o in ops], [False, True, True])

    def test_oracle_mismatch_fails_the_request(self):
        ops = [{"name": "mcp", "kind": "vsearch", "key": "vsearch mcp vec=1", "round": 1, "ok": True, "err": None}]
        run.apply_failures(ops, {"failures": {}}, {"vsearch mcp vec=1": "rows differ"})
        self.assertFalse(ops[0]["ok"])

    def test_compare_rows_is_order_insensitive_and_exact(self):
        self.assertIsNone(run.compare_rows(["a", "b"], [[1, 0.5], [2, None]], ["b", "a"], [(None, 2), (0.5, 1)]))
        self.assertIsNotNone(run.compare_rows(["a"], [[0.1]], ["a"], [(0.1000000001,)]))


class SelfTime(unittest.TestCase):
    def test_union_and_self_time(self):
        self.assertEqual(layers.union_ms([(0, 2), (1, 3), (5, 6)]), 4)
        span = {"start_ms": 0, "end_ms": 10}
        kids = [{"start_ms": 1, "end_ms": 4}, {"start_ms": 3, "end_ms": 5}, {"start_ms": 9, "end_ms": 12}]
        self.assertEqual(layers.self_time(span, kids), 5)


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_E2E"), "end-to-end run skipped")
class CorruptedDigest(unittest.TestCase):
    def test_corrupted_golden_digest_raises_error_rate(self):
        with open(run.GOLDEN) as f:
            lines = f.read().splitlines()
        with tempfile.NamedTemporaryFile("w", suffix=".tsv", delete=False) as g:
            for line in lines:
                if line.startswith("q22_region_volume\t"):
                    name, digest, oracle = line.split("\t")
                    line = "\t".join([name, "0" * 64 + digest[64:], oracle])
                g.write(line + "\n")
        try:
            r = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--workload", "interactive",
                                "--seed", "1", "--seconds", "1", "--trace", "0", "--golden", g.name],
                               stdout=subprocess.PIPE, text=True, cwd=run.REPO, timeout=900)
        finally:
            os.unlink(g.name)
        self.assertEqual(r.returncode, 0)
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        rate = next(l for l in lines if " error_rate = " in l)
        self.assertGreater(float(rate.split(" = ")[1].split()[0]), 0.0)


if __name__ == "__main__":
    unittest.main()
