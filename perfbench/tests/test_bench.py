"""Tests of the benchmark's own pieces.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            sa = gen.generate(7, 300, 50, a)
            sb = gen.generate(7, 300, 50, b)
            self.assertEqual(sa, sb)
            for t in ("documents.parquet", "embeddings.parquet"):
                with open(os.path.join(a, t), "rb") as fa, open(os.path.join(b, t), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read())
        self.assertNotEqual(gen.digest({"documents": gen.documents(7, 300)}),
                            gen.digest({"documents": gen.documents(8, 300)}))

    def test_shape_and_planted_duplicates(self):
        rows = gen.documents(3, 4000)
        texts = [r[1] for r in rows]
        self.assertTrue(all(r[4] == len(r[1]) for r in rows))
        self.assertTrue(all(set(t.split(" ")) <= set(gen.VOCAB) | {"dup"} for t in texts))
        exact = len(texts) - len(set(texts))
        near = sum(t.endswith(" dup") for t in texts)
        self.assertAlmostEqual(exact / len(texts), gen.EXACT_DUP_SHARE, delta=0.03)
        self.assertAlmostEqual(near / len(texts), gen.NEAR_DUP_SHARE, delta=0.03)
        en = sum(r[2] == "en" for r in rows) / len(rows)
        self.assertAlmostEqual(en, 0.41, delta=0.03)


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(range(19)))
        self.assertEqual(stats.tail(range(1, 21)), (50.0, 10, 20))
        self.assertEqual(stats.tail(range(1, 101)), (90.0, 90, 100))
        self.assertEqual(stats.tail(range(1, 1001)), (99.0, 990, 1000))
        self.assertEqual(stats.tail(range(1, 10001)), (99.9, 9990, 10000))

    def test_unsorted_input(self):
        xs = list(range(1, 41))[::-1]
        p, v, n = stats.tail(xs)
        self.assertEqual((p, n), (75.0, 40))
        self.assertEqual(v, 30)
        self.assertEqual(sum(x > v for x in xs), 10)


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "op": "", "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_counted_once_and_clipped(self):
        spans = [span("p", "", "pass", 0, 10),
                 span("a", "p", "op", 1, 3), span("b", "p", "op", 2, 5),
                 span("c", "p", "op", 8, 12),
                 span("x", "a", "job", 1.5, 2.5)]
        s = stats.self_times(spans)
        self.assertAlmostEqual(s["pass"], 10 - (4 + 2))
        self.assertAlmostEqual(s["op"], (2 - 1) + 3 + 4)
        self.assertAlmostEqual(s["job"], 1)

    def test_leaf_is_all_self(self):
        self.assertEqual(stats.self_times([span("l", "", "llm", 3, 7)]), {"llm": 4})


def op(i, pass_no, latency, ok=True, digest="1", traced=False):
    return {"op": f"op{i}", "pass": pass_no, "key": "q", "ok": ok, "traced": traced,
            "latency_s": latency, "rows": 5, "digest": digest, "plan_check": "ok",
            "error": "boom" if not ok else None}


class FailureTest(unittest.TestCase):
    def record(self):
        return {
            "workload": "curation_docs", "oracle": {}, "setup_s": 2.0,
            "plan_control": "pruned", "heap_live_peak_mb": 100.0,
            "refs": [{"setup": "setup", "key": "q", "path": "", "rows": 5, "digest": "1"}],
            "passes": [{"pass": 0, "traced": False, "wall_s": 1.0},
                       {"pass": 1, "traced": False, "wall_s": 50.0},
                       {"pass": 2, "traced": False, "wall_s": 3.0},
                       {"pass": 3, "traced": False, "wall_s": 60.0}],
            "ops": [op(0, -1, 9.0), op(1, 0, 1.0), op(2, 1, 50.0, ok=False),
                    op(3, 2, 3.0), op(4, 3, 60.0, digest="2")],
        }

    def test_failures_counted_and_kept_out_of_timings(self):
        rec = self.record()
        with tempfile.TemporaryDirectory() as d:
            failed = check.check(rec, d)
        self.assertEqual(set(failed), {"op2", "op4"})
        self.assertEqual(stats.failed_ops(rec, failed), 2)
        self.assertTrue(failed["op2"].startswith("threw"))
        self.assertIn("digest", failed["op4"])
        m = stats.end_to_end(rec, failed, n_docs=10)
        self.assertEqual(m["wall_s"][0], 2.0)
        self.assertEqual(m["op_p50_s"][0], 2.0)
        self.assertEqual(m["setup_s"][0], 2.0)
        self.assertEqual(m["docs_per_s"][0], 5.0)

    def test_pruned_action_is_a_failure(self):
        rec = self.record()
        rec["ops"][1]["plan_check"] = "pruned"
        with tempfile.TemporaryDirectory() as d:
            self.assertIn("op1", check.check(rec, d))

    def test_plan_check_that_passes_a_count_fails_the_run(self):
        rec = self.record()
        rec["plan_control"] = "ok"
        with tempfile.TemporaryDirectory() as d:
            failed = check.check(rec, d)
        self.assertIn("plan_control", failed)
        self.assertEqual(stats.failed_ops(rec, failed), 2)

    def test_oracle_mismatch_fails_every_op_of_the_query(self):
        rec = self.record()
        rec["oracle"] = {"q": "SELECT 1::BIGINT AS x"}
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "q.parquet")
            pd.DataFrame({"x": [2]}).to_parquet(path)
            rec["refs"][0]["path"] = path
            failed = check.check(rec, d)
        self.assertIn("ref:q", failed)
        self.assertEqual(stats.failed_ops(rec, failed), 5)
        self.assertTrue(failed["op2"].startswith("threw"))
        self.assertIn("checked output of q", failed["op1"])
        self.assertEqual(stats.timed_ops(rec, failed), [])
        self.assertEqual(stats.end_to_end(rec, failed, n_docs=10)["wall_s"][0], 0.0)


if __name__ == "__main__":
    unittest.main()
