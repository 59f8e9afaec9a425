"""Tests for the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def span(sid, start, end, parent=0, root="", files=None, logical=0,
         amp=True, name="x"):
    return {"id": sid, "name": name, "parent": parent, "start": start,
            "end": end, "root": root, "files": files or {},
            "logical_bytes": logical, "amp": amp, "pinned_bytes": 0}


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(99), 75.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(metrics.tail_percentile(1), 50.0)
        self.assertEqual(metrics.tail_percentile(39), 50.0)

    def test_summary_reports_percentile_and_count(self):
        p50, tail, p, n = metrics.latency_summary([float(i) for i in range(41)])
        self.assertEqual((p50, tail, p, n), (20.0, 30.0, 75.0, 41))

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1.0, 2.0, 3.0, 4.0], 50), 2.5)
        self.assertEqual(metrics.percentile([5.0], 99), 5.0)


class LatencySamples(unittest.TestCase):
    calls = [dict(span(1, 0, 500), kind="commit", **{"pass": 1}),
             dict(span(2, 500, 800), kind="read", **{"pass": 1}),
             dict(span(3, 800, 1000), kind="commit", **{"pass": 1}),
             dict(span(4, 2000, 2400), kind="commit", **{"pass": 2})]

    def test_each_call_is_a_sample(self):
        self.assertEqual(metrics.latency_samples(self.calls, "commit", False),
                         [0.5, 0.2, 0.4])

    def test_per_pass_sums_a_pass_calls_of_the_kind(self):
        self.assertEqual(metrics.latency_samples(self.calls, "commit", True),
                         [0.7, 0.4])
        self.assertEqual(metrics.latency_samples(self.calls, "read", True),
                         [0.3])


class DriverTime(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        s = span(1, 0.0, 100.0)
        jobs = [{"start": 10, "end": 40}, {"start": 30, "end": 60}]
        self.assertEqual(metrics.driver_ms(s, jobs), 50.0)

    def test_jobs_are_clipped_to_the_call(self):
        s = span(1, 0.0, 100.0)
        jobs = [{"start": -5, "end": 10}, {"start": 80, "end": 120},
                {"start": 200, "end": 300}]
        self.assertEqual(metrics.driver_ms(s, jobs), 70.0)

    def test_no_jobs_is_all_driver(self):
        self.assertEqual(metrics.driver_ms(span(1, 5.0, 25.0), []), 20.0)

    def test_unlabelled_job_goes_to_the_call_it_started_in(self):
        calls = [span(1, 0, 10), span(2, 10, 20)]
        jobs = [{"span": -1, "start": 12, "end": 15},
                {"span": 1, "start": 1, "end": 2}]
        by = metrics.attribute_jobs(jobs, calls)
        self.assertEqual(len(by[1]), 1)
        self.assertEqual(len(by[2]), 1)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        root = span(0, 0.0, 100.0, parent=-1)
        kids = [span(1, 0, 20), span(2, 10, 30), span(3, 50, 60)]
        self.assertEqual(metrics.self_ms(root, kids), 60.0)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_ms(span(0, 3.0, 7.5), []), 4.5)


class WriteAmp(unittest.TestCase):
    def test_new_bytes_counts_created_and_changed_files(self):
        before = {"a": 10, "b": 20}
        after = {"a": 10, "b": 25, "c": 5}
        self.assertEqual(metrics.new_bytes(before, after), 30)
        self.assertEqual(metrics.new_bytes(after, {"c": 5}), 0)

    def test_listings_chain_per_root(self):
        spans = [
            span(1, 0, 1, root="t", files={"s0": 100}, amp=False),
            span(2, 1, 2, root="t", files={"s0": 100, "s1": 40}, logical=20),
            span(3, 2, 3, root="e", files={"x": 7}, logical=7),
            span(4, 3, 4, root="t", files={"s0": 100, "s1": 40, "c": 130},
                 logical=0),
            span(5, 4, 5, root="t", files={"c": 130}, logical=0),
        ]
        written = metrics.bytes_written(spans)
        self.assertEqual(written, {1: 100, 2: 40, 3: 7, 4: 130, 5: 0})
        # the create (amp False) is left out of both sides
        self.assertAlmostEqual(metrics.write_amp(spans, written),
                               (40 + 7 + 130) / 27.0)
        self.assertEqual(metrics.disk_bytes(spans), 130 + 7)

    def test_no_logical_bytes_is_zero_not_an_error(self):
        s = [span(1, 0, 1, root="t", files={"a": 5}, logical=0)]
        self.assertEqual(metrics.write_amp(s, metrics.bytes_written(s)), 0.0)


if __name__ == "__main__":
    unittest.main()
