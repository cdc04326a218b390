"""Tests for the benchmark's own logic: python3 -m unittest discover perfbench/tests"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analysis  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        xs = [4, 1, 3, 2]
        self.assertEqual(analysis.percentile(xs, 0), 1)
        self.assertEqual(analysis.percentile(xs, 100), 4)
        self.assertAlmostEqual(analysis.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(analysis.percentile(xs, 90), 3.7)
        self.assertEqual(analysis.percentile([7], 90), 7)

    def test_percentile_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            analysis.percentile([], 50)

    def test_spread_uses_statistics_quartiles(self):
        xs = [10, 11, 9, 12, 10, 10.5, 9.5, 11.5, 10.2, 9.8]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(analysis.spread(xs), (q3 - q1) / med)
        self.assertEqual(analysis.spread([5, 5, 5, 5]), 0.0)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(analysis.union_length([]), 0)
        self.assertEqual(analysis.union_length([(0, 2), (1, 3), (3, 4), (10, 11)]), 5)
        self.assertEqual(analysis.union_length([(5, 6), (0, 10)]), 10)

    def test_idle_is_window_minus_covered_job_time(self):
        jobs = [(1, 3), (2, 4), (8, 12), (-5, 0.5)]
        # covered inside (0, 10): [0, 0.5] + [1, 4] + [8, 10] = 5.5
        self.assertAlmostEqual(analysis.idle_time((0, 10), jobs), 4.5)
        self.assertEqual(analysis.idle_time((0, 10), []), 10)


class Attribution(unittest.TestCase):
    def test_module_from_call_site(self):
        self.assertEqual(analysis.module_of("collect at DocumentStore.scala:613"), "store")
        self.assertEqual(analysis.module_of("collect at Alerts.scala:71"), "alerts")
        self.assertEqual(analysis.module_of("head at Compiler.scala:167"), "query")
        self.assertEqual(analysis.module_of("collect at CollectorServer.scala:600"), "api")
        self.assertEqual(analysis.module_of("start at StreamIO.scala:351"), "stream")
        self.assertEqual(analysis.module_of("kafka_soutput\nid = 1\nrunId = 2\nbatch = 3"), "stream")
        self.assertEqual(analysis.module_of("parquet at Tables.scala:16"), "other")
        self.assertEqual(analysis.module_of(""), "other")

    def test_jobs_by_module_counts_every_module(self):
        jobs = [{"site": "a at DocumentStore.scala:1"}, {"site": "b at DocumentStore.scala:2"},
                {"site": "c at Nowhere.scala:3"}]
        counts = analysis.jobs_by_module(jobs)
        self.assertEqual(counts["store"], 2)
        self.assertEqual(counts["other"], 1)
        self.assertEqual(counts["alerts"], 0)

    def test_jobs_within_windows_skip_background_modules(self):
        jobs = [{"start": 5, "site": "x at DocumentStore.scala:1"},
                {"start": 6, "site": "y at Alerts.scala:1"},
                {"start": 20, "site": "z at DocumentStore.scala:1"}]
        got = analysis.jobs_within(jobs, [(0, 10)], exclude=("alerts",))
        self.assertEqual([j["start"] for j in got], [5])

    def test_jobs_attach_to_innermost_span_and_self_time(self):
        spans = [{"id": 1, "parent": 0, "kind": "op", "name": "q", "start": 0, "end": 10},
                 {"id": 2, "parent": 1, "kind": "layer", "name": "build", "start": 1, "end": 4}]
        jobs = analysis.attach_jobs(spans, [{"start": 2, "end": 3, "site": "s"},
                                            {"start": 6, "end": 9, "site": "t"}], 3)
        self.assertEqual([j["parent"] for j in jobs], [2, 1])
        selfs = analysis.self_times(spans + jobs)
        self.assertEqual(selfs[1], 10 - 3 - 3)
        self.assertEqual(selfs[2], 3 - 1)
        self.assertEqual(selfs[3], 1)


def op(kind, key, sent, done, status=201, detail=None, sched=None):
    return {"kind": kind, "key": key, "sched": sent if sched is None else sched,
            "sent": sent, "done": done, "status": status, "detail": detail}


def doc(i, ver, grp="g0"):
    return f'{{"doc_id":"d{i}","grp":"{grp}","ver":{ver}}}'


class RuntimeModel(unittest.TestCase):
    """A clean history passes; each defect class is counted."""

    def history(self):
        preload = {"d0": doc(0, 0), "d1": doc(1, 0, "g1")}
        ops = [
            op("ingest", "d2", 10, 20, detail={"ver": 1, "grp": "g0", "body": doc(2, 1)}),
            op("ingest", "d0", 30, 40, detail={"ver": 1, "grp": "g0", "body": doc(0, 1)}),
            op("query", "g0", 50, 60, 200, {"grp": 0, "rows": [["d0", 1], ["d2", 1]]}),
            op("push", "1", 10, 11, 202),
            op("swap", "1", 40, 50, 200),
            op("push", "2", 60, 61, 202),
        ]
        sink = [(1 * 1000 + 0, 30), (2 * 1000 + 1, 70)]
        readback = {"d0": doc(0, 1), "d1": doc(1, 0, "g1"), "d2": doc(2, 1)}
        return ops, sink, preload, readback

    def check(self, ops, sink, preload, readback):
        failed, reasons = analysis.check_runtime(ops, sink, preload, readback)
        return failed, reasons

    def test_clean_history_passes(self):
        failed, reasons = self.check(*self.history())
        self.assertEqual(failed, set(), reasons)

    def test_stale_read_is_counted(self):
        ops, sink, preload, readback = self.history()
        ops[2]["detail"]["rows"] = [["d0", 0], ["d2", 1]]  # d0's acked update missing
        failed, reasons = self.check(ops, sink, preload, readback)
        self.assertEqual(len(failed), 1)
        self.assertIn("stale read", reasons[0])

    def test_missing_doc_is_a_stale_read(self):
        ops, sink, preload, readback = self.history()
        ops[2]["detail"]["rows"] = [["d0", 1]]
        failed, _ = self.check(ops, sink, preload, readback)
        self.assertEqual(len(failed), 1)

    def test_phantom_version_is_counted(self):
        ops, sink, preload, readback = self.history()
        ops[2]["detail"]["rows"] = [["d0", 1], ["d2", 1], ["d9", 1]]
        failed, _ = self.check(ops, sink, preload, readback)
        self.assertEqual(len(failed), 1)

    def test_lost_row_is_counted(self):
        ops, sink, preload, readback = self.history()
        failed, reasons = self.check(ops, sink[:1], preload, readback)
        self.assertEqual(failed, {("push", "2")})
        self.assertIn("lost", reasons[0])

    def test_row_processed_by_old_and_new_code_is_counted(self):
        ops, sink, preload, readback = self.history()
        sink.append((1 * 1000 + 1, 65))  # push 1 replayed by version 1 after the swap
        failed, reasons = self.check(ops, sink, preload, readback)
        self.assertEqual(failed, {("push", "1")})
        self.assertIn("duplicated", reasons[0])

    def test_transform_applied_twice_is_counted(self):
        ops, sink, preload, readback = self.history()
        sink[1] = ((2 * 1000 + 1) * 1000 + 1, 70)  # the new transform ran twice
        failed, _ = self.check(ops, sink, preload, readback)
        self.assertIn(("push", "2"), failed)  # its real row is lost
        self.assertTrue(any(k[0] == "sink" for k in failed))  # and an unknown row appears

    def test_old_code_after_acknowledged_swap_is_counted(self):
        ops, sink, preload, readback = self.history()
        sink[1] = (2 * 1000 + 0, 70)
        failed, reasons = self.check(ops, sink, preload, readback)
        self.assertEqual(failed, {("push", "2")})
        self.assertIn("version 0", reasons[0])

    def test_lost_acknowledged_write_is_counted(self):
        ops, sink, preload, readback = self.history()
        readback["d0"] = doc(0, 0)
        failed, _ = self.check(ops, sink, preload, readback)
        self.assertEqual(failed, {("durable", "d0")})

    def test_non_2xx_is_a_failure_and_not_a_write(self):
        ops, sink, preload, readback = self.history()
        ops[0]["status"] = 500
        ops[2]["detail"]["rows"] = [["d0", 1]]
        del readback["d2"]
        failed, _ = self.check(ops, sink, preload, readback)
        self.assertEqual(failed, {("ingest", "d2")})

    def test_each_failed_query_is_counted(self):
        ops, sink, preload, readback = self.history()
        ops.append(op("query", "g0", 52, 62, 500, {"grp": 0, "rows": "error"}))
        ops[2]["status"] = 500
        failed, _ = self.check(ops, sink, preload, readback)
        self.assertEqual(len(failed), 2)

    def test_sink_starts_are_counted_inside_swaps(self):
        ops, _, _, _ = self.history()
        starts = [("sink", 5), ("sink", 42), ("sink", 49), ("other", 45), ("sink", 55)]
        self.assertEqual(analysis.starts_per_swap(ops, starts, "sink"), 2.0)
        self.assertEqual(analysis.starts_per_swap(ops[:2], starts, "sink"), 0.0)

    def test_latencies_count_from_the_scheduled_send(self):
        ops, sink, _, _ = self.history()
        ops[0]["sched"] = 5
        lat = analysis.runtime_latencies(ops, sink)
        self.assertEqual(sorted(lat["ingest"]), [10, 15])
        self.assertEqual(lat["query"], [10])
        self.assertEqual(sorted(lat["stream"]), [10, 20])
        self.assertEqual(lat["swap"], [30])
        self.assertEqual(analysis.swap_gaps(ops, sink), [40])
        self.assertEqual(analysis.runtime_latencies(ops, sink, since=35)["ingest"], [])


if __name__ == "__main__":
    unittest.main()
