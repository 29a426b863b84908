"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


def span(i, start, end, parent=0, name="s"):
    return {"id": i, "parent": parent, "trace": 1, "name": name,
            "start_ns": start, "end_ns": end, "attrs": {}}


class TailPercentile(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail_percentile(xs, 90), (90, 10))
        self.assertEqual(sum(x > 90 for x in xs), 10)

    def test_refuses_when_too_few_samples_beyond(self):
        with self.assertRaises(ValueError):
            metrics.tail_percentile(list(range(1, 100)), 90)
        with self.assertRaises(ValueError):
            metrics.tail_percentile(list(range(1, 200)), 95)
        with self.assertRaises(ValueError):
            metrics.tail_percentile([], 90)

    def test_percentile_fixed_as_count_grows(self):
        self.assertEqual(metrics.tail_percentile(list(range(1, 201)), 90), (180, 20))
        self.assertEqual(metrics.tail_percentile(list(range(1, 201)), 95), (190, 10))
        self.assertEqual(metrics.tail_percentile(list(range(1, 141)), 90), (126, 14))

    def test_input_order_does_not_matter(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail_percentile(xs[::-1], 90), (90, 10))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time(span(1, 0, 100), []), 100)

    def test_overlapping_children_count_once(self):
        kids = [span(2, 10, 40, 1), span(3, 30, 60, 1), span(4, 35, 50, 1)]
        self.assertEqual(metrics.self_time(span(1, 0, 100), kids), 50)

    def test_children_clipped_to_parent(self):
        kids = [span(2, -20, 10, 1), span(3, 90, 130, 1), span(4, 200, 300, 1)]
        self.assertEqual(metrics.self_time(span(1, 0, 100), kids), 80)

    def test_child_covering_parent(self):
        self.assertEqual(metrics.self_time(span(1, 0, 100), [span(2, -5, 105, 1)]), 0)


class DigestEquality(unittest.TestCase):
    def test_equal(self):
        self.assertTrue(metrics.digest_equal([10, -3, 7], [10, -3, 7]))

    def test_row_count_differs(self):
        self.assertFalse(metrics.digest_equal([10, -3, 7], [11, -3, 7]))

    def test_hash_sum_differs(self):
        self.assertFalse(metrics.digest_equal([10, -3, 7], [10, -3, 8]))
        self.assertFalse(metrics.digest_equal([10, -3, 7], [10, -2, 7]))

    def test_halves_recombine_exactly(self):
        self.assertTrue(metrics.digest_equal([4, 1, 0], [4, 0, 1 << 32]))
        self.assertTrue(metrics.digest_equal([4, -1, 1 << 32], [4, 0, 0]))

    def test_check_kinds(self):
        ok = {"kind": "digest", "name": "d", "expected": [1, 2, 3], "got": [1, 2, 3]}
        bad = {"kind": "equal", "name": "tag", "expected": "conv_id,turn_idx", "got": "<none>"}
        self.assertTrue(metrics.check_ok(ok))
        self.assertFalse(metrics.check_ok(bad))
        op = {"kind": "encode", "phase": "measure", "error": None, "checks": [ok, bad]}
        self.assertFalse(metrics.op_ok(op))
        self.assertEqual(len(metrics.failures([op])), 1)


class Reductions(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        self.assertIsNone(metrics.median([]))

    def test_lookup_classes_reported_apart(self):
        ops = [{"kind": "lookup", "wall_ns": (10 + i) * 10**6, "attrs": {"absent": False}}
               for i in range(100)]
        ops += [{"kind": "lookup", "wall_ns": 500 * 10**6, "attrs": {"absent": True}}] * 40
        m = metrics.workload_metrics("conv_lookup", ops)
        self.assertEqual(m["lookup_ms_p50.present"][0], 59.5)
        self.assertEqual(m["lookup_ms_p90.present"][0], 99)
        self.assertEqual(m["lookup_ms_p50.absent"][0], 500)

    def test_trace_overhead_sign_follows_better(self):
        def op(phase, request, ms):
            return {"kind": "lookup", "phase": phase, "request": request, "wall_ns": ms * 10**6,
                    "turns": 1, "attrs": {}}
        ops = [op("untraced", i, 100) for i in range(0, 20, 2)]
        ops += [op("traced", i, 110) for i in range(1, 20, 2)]
        better = {"turns_per_s": "higher", "latency_ms_p50": "lower", "compression_ratio": "higher"}
        facts = {"raw_bytes": 3, "file_bytes": 1}
        m = metrics.per_layer([], ops, facts, better)
        self.assertAlmostEqual(m["trace.overhead.latency_ms_p50"][0], 0.1)
        self.assertAlmostEqual(m["trace.overhead.turns_per_s"][0], 0.1)
        self.assertEqual(m["trace.overhead.compression_ratio"][0], 0)


class Headline(unittest.TestCase):
    def test_request_spans_its_operations(self):
        # transcripts_scan: one request is a scan then a round trip.
        ops = [{"kind": k, "request": r, "turns": 1000, "wall_ns": w * 10**9, "attrs": {}}
               for r, (ws, wr) in enumerate([(1, 3), (1, 4), (2, 6)]) for k, w in
               (("scan", ws), ("roundtrip", wr))]
        m = metrics.headline(ops, {"raw_bytes": 10, "file_bytes": 4})
        self.assertEqual(m["turns_per_s"][0], 6000 / 17)
        self.assertEqual(m["latency_ms_p50"][0], 5000)
        self.assertEqual(m["compression_ratio"][0], 2.5)

    def test_turns_per_s_weighs_each_lookup_by_its_time(self):
        ops = [{"kind": "lookup", "request": i, "turns": t, "wall_ns": 10**8, "attrs": {}}
               for i, t in enumerate([0, 30, 0, 10])]
        m = metrics.headline(ops, {"raw_bytes": 1, "file_bytes": 1})
        self.assertAlmostEqual(m["turns_per_s"][0], 100)
        self.assertEqual(m["latency_ms_p50"][0], 100)

    def test_encode_ratio_from_its_own_output(self):
        ops = [{"kind": "encode", "request": i, "turns": 5, "wall_ns": 10**9,
                "attrs": {"raw_bytes": r, "file_bytes": 10}} for i, r in enumerate([27, 28, 30])]
        ops.append({"kind": "replay", "request": 2, "turns": 0, "wall_ns": 10**10, "attrs": {}})
        m = metrics.headline(ops, {"raw_bytes": 1, "file_bytes": 1})
        self.assertEqual(m["compression_ratio"][0], 2.8)
        self.assertEqual(m["latency_ms_p50"][0], 1000)

    def test_throughput_is_median_of_ops(self):
        ops = [{"kind": "scan", "turns": 1000, "wall_ns": w * 10**9} for w in (1, 2, 4)]
        self.assertEqual(metrics.throughput(ops, "scan"), 500)


if __name__ == "__main__":
    unittest.main()
