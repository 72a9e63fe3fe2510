"""Tests for the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import sys
import unittest

sys.dont_write_bytecode = True
import benchlib as b  # noqa: E402


def run(end_s, rows, ok=True):
    return {"end_s": end_s, "rows": rows, "ok": ok}


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(b.supported_percentile(19))
        self.assertEqual(b.supported_percentile(20), 50)
        self.assertEqual(b.supported_percentile(39), 50)
        self.assertEqual(b.supported_percentile(40), 75)
        self.assertEqual(b.supported_percentile(100), 90)
        self.assertEqual(b.supported_percentile(199), 90)
        self.assertEqual(b.supported_percentile(200), 95)
        self.assertEqual(b.supported_percentile(1000), 99)

    def test_every_supported_percentile_has_ten_beyond(self):
        for n in range(1, 400):
            p = b.supported_percentile(n)
            if p is not None:
                v = list(range(n))
                beyond = [x for x in v if x > b.percentile(v, p)]
                self.assertGreaterEqual(len(beyond), 10, (n, p))

    def test_nearest_rank(self):
        self.assertEqual(b.percentile([3, 1, 2, 4], 50), 2)
        self.assertEqual(b.percentile([5], 99), 5)


class Backlog(unittest.TestCase):
    def test_flat_and_growing(self):
        self.assertFalse(b.backlog_growing([0, 0, 1000, 0, 0, 0], 1000))
        self.assertTrue(b.backlog_growing([0, 4000, 8000, 16000], 4000))
        self.assertFalse(b.backlog_growing([4000, 4000, 4000, 4000], 4000))
        self.assertFalse(b.backlog_growing([7], 1000))

    def test_backlog_excludes_the_poll_just_due(self):
        polls = [{"due_s": 0.0, "docs": 10}, {"due_s": 1.0, "docs": 10}]
        self.assertEqual(b.backlog_at(1.0, polls, [0.5, 1.6]), 0)
        self.assertEqual(b.backlog_at(1.0, polls, [1.2, 1.6]), 10)
        self.assertEqual(b.backlog_at(1.0, polls, [None, None]), 10)


class DueTimeLatency(unittest.TestCase):
    def test_late_generator_counts_from_due_time(self):
        # the generator wrote poll 1 at 1.9 s, 0.9 s after it was due;
        # latency still runs from the due time
        polls = [{"due_s": 0.0, "written_s": 0.0, "docs": 5},
                 {"due_s": 1.0, "written_s": 1.9, "docs": 5}]
        ends = b.completions([5, 5], [run(0.6, 5), run(2.5, 5)])
        self.assertEqual(b.latencies(polls, ends), [0.6, 1.5])

    def test_one_run_persists_several_polls(self):
        ends = b.completions([5, 5, 5], [run(0.6, 5), run(3.0, 10)])
        self.assertEqual(ends, [0.6, 3.0, 3.0])

    def test_poll_split_across_runs_completes_in_the_later(self):
        ends = b.completions([5, 5], [run(0.6, 7), run(2.0, 3)])
        self.assertEqual(ends, [0.6, 2.0])
        self.assertEqual(b.completions([5, 5], [run(0.6, 3)]), [None, None])

    def test_failed_run_persists_nothing(self):
        ends = b.completions([5, 5], [run(0.6, 5), run(1.5, 0, ok=False)])
        self.assertEqual(ends, [0.6, None])


class BurstDrain(unittest.TestCase):
    @staticmethod
    def polls():
        return [{"phase": p["phase"], "due_s": p["due_s"],
                 "written_s": p["due_s"], "docs": len(p["docs"])}
                for p in b.flow_polls(1, 26)]

    def test_drain_runs_from_the_top_step_due_time(self):
        polls = self.polls()
        runs = [run(p["due_s"] + 0.5, p["docs"]) for p in polls]
        # the last poll of the top step is persisted 2.5 s after it was due
        runs[-1] = run(polls[-1]["due_s"] + 2.5, polls[-1]["docs"])
        fm = b.flow_metrics({"polls": polls, "runs": runs})
        top = [p for p in polls
               if p["phase"] == f"ladder{b.LADDER[-1][0]}"]
        self.assertAlmostEqual(fm["burst_drain_s"],
                               top[-1]["due_s"] + 2.5 - top[0]["due_s"])
        self.assertAlmostEqual(fm["sustained_docs_per_s"],
                               sum(p["docs"] for p in top)
                               / fm["burst_drain_s"])
        self.assertAlmostEqual(fm["latency_p50"], 0.5)

    def test_unpersisted_burst_has_no_drain_time(self):
        polls = self.polls()
        runs = [run(p["due_s"] + 0.5, p["docs"]) for p in polls[:-1]]
        fm = b.flow_metrics({"polls": polls, "runs": runs})
        self.assertIsNone(fm["burst_drain_s"])
        self.assertFalse(fm["complete"])


class HashComparison(unittest.TestCase):
    expected = {"q": {"rows": 3, "hash": "abc"}}

    def op(self, **kw):
        return {"name": "q", "ok": True, "rows": 3, "hash": "abc", **kw}

    def test_match(self):
        self.assertTrue(b.hash_matches(self.op(), self.expected))
        self.assertEqual(b.catalog_failures([self.op()], self.expected), [])

    def test_mismatches_fail(self):
        for op in (self.op(rows=4), self.op(hash="abd"),
                   self.op(name="other"), {"name": "q", "ok": False,
                                           "error": "boom"}):
            self.assertFalse(b.hash_matches(op, self.expected))
            self.assertEqual(len(b.catalog_failures([op], self.expected)), 1)


class FlowCheck(unittest.TestCase):
    def out(self, **check):
        c = {"sent_docs": 10, "persisted_rows": 10,
             "persisted_by_cat": {"arts": 6, "sports": 4},
             "batch_by_cat": {"arts": 6, "sports": 4},
             "batch_bullets": {"arts": 6, "sports": 3}}
        d = {"ok": True, "records": 7, "bullets": {"arts": 6, "sports": 3}}
        return {"check": {**c, **check}, "digest": d}

    def test_consistent_flow_passes(self):
        self.assertEqual(b.flow_check(self.out()), [])

    def test_each_check_fails_on_its_own(self):
        for bad in ({"persisted_rows": 9},
                    {"persisted_by_cat": {"arts": 5, "sports": 5}},
                    {"batch_bullets": {"arts": 6, "sports": 4}}):
            self.assertEqual(len(b.flow_check(self.out(**bad))), 1, bad)
        o = self.out()
        o["digest"]["records"] = 6
        self.assertEqual(len(b.flow_check(o)), 1)
        o["digest"] = {"ok": False, "error": "boom"}
        self.assertEqual(len(b.flow_check(o)), 1)


class Seeds(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(b.flow_polls(7, 26), b.flow_polls(7, 26))
        for w in b.CATALOGS:
            self.assertEqual(b.query_order(w, 7), b.query_order(w, 7))

    def test_seed_changes_inputs_not_their_shape(self):
        a, c = b.flow_polls(1, 26), b.flow_polls(2, 26)
        self.assertNotEqual(a, c)
        self.assertEqual([(p["phase"], p["due_s"], len(p["docs"])) for p in a],
                         [(p["phase"], p["due_s"], len(p["docs"])) for p in c])
        for w, qs in b.CATALOGS.items():
            self.assertEqual(sorted(b.query_order(w, 1)), sorted(qs))
        self.assertNotEqual(b.query_order("catalog_single_pass", 1),
                            b.query_order("catalog_single_pass", 2))

    def test_seconds_set_the_nominal_phase(self):
        def nominal(seconds):
            return sum(p["phase"] == "nominal"
                       for p in b.flow_polls(1, seconds))
        self.assertEqual(nominal(26), 20)
        self.assertEqual(nominal(40), 34)
        self.assertEqual(nominal(5), 20)

    def test_documents_stay_in_the_pool(self):
        docs = [d for p in b.flow_polls(3, 26) for d in p["docs"]]
        self.assertTrue(all(0 <= d < b.DOC_POOL for d in docs))


if __name__ == "__main__":
    unittest.main()
