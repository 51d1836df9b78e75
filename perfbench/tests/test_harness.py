"""Self-tests of the benchmark's own arithmetic and response checks.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import client, follow, stats, workloads  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def chunked(*chunks):
    body = b"".join(b"%x\r\n%s\r\n" % (len(c), c) for c in chunks)
    return body + b"0\r\n\r\n"


def response(body, status=200):
    r = client.Response()
    r.status, r.body = status, body
    return r


class TailRule(unittest.TestCase):
    def test_beyond_counts_samples_above_the_nearest_rank(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(120, 90), 12)
        self.assertEqual(stats.beyond(20, 50), 10)
        self.assertEqual(stats.beyond(1, 50), 0)

    def test_fixed_percentiles_hold_at_the_runs_sample_counts(self):
        # The samples of a run of BENCHMARK.json's length: whole passes of
        # 24 (search) and 9 (catalog) requests; follow delivers 1000 records.
        # Each percentile is the highest with 10 beyond: one point more has 9.
        seconds = declared()["run_seconds"]
        search = run.passes("search", seconds) * len(workloads.search_plan(1, "d")[0])
        catalog = run.passes("catalog", seconds) * len(workloads.CATALOG)
        for n, pct in ((search, run.TAIL_PCT["search"]), (catalog, run.TAIL_PCT["catalog"]),
                       (1000, run.TAIL_PCT["follow"])):
            self.assertGreaterEqual(stats.beyond(n, pct), 10)
            self.assertLess(stats.beyond(n, pct + 1), 10)

    def test_percentile_is_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile(v, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)


class KindP50(unittest.TestCase):
    def test_geometric_mean_of_each_kinds_median(self):
        recs = [run.Rec(i, kind, None, 0.0, 0.0, 0.0, t, 1) for i, (kind, t) in enumerate(
            [("a", 0.1), ("a", 0.3), ("a", 0.2), ("b", 0.8), ("b", 0.8), ("b", 9.0)])]
        recs.append(run.Rec(9, "a", "http_500", 0.0, 0.0, 0.0, 50.0, 0))  # failed: left out
        # medians: a = 200 ms, b = 800 ms; geometric mean 400 ms
        self.assertAlmostEqual(run.kind_p50(run.Phase(recs, 0.0), "t_last"), 400.0)

    def test_pass_seconds_weight_each_kind_by_its_count(self):
        recs = [run.Rec(i, kind, None, 0.0, 0.0, 0.0, t, 1) for i, (kind, t) in enumerate(
            [("a", 0.1), ("a", 0.3), ("a", 0.2), ("b", 0.8), ("b", 0.8), ("b", 9.0)])]
        # medians: a = 0.2 s, b = 0.8 s; a pass holds 5 a and 1 b
        self.assertAlmostEqual(run.pass_s(run.Phase(recs, 0.0), {"a": 5, "b": 1}), 1.8)

    def test_passes_follow_the_run_length(self):
        self.assertEqual(run.passes("search", 15), 3)
        self.assertEqual(run.passes("catalog", 1), 1)


class SelfTime(unittest.TestCase):
    def test_self_time_is_duration_minus_children(self):
        self.assertEqual(stats.self_time(100.0, [30.0, 20.0, 5.0]), 45.0)
        self.assertEqual(stats.self_time(10.0, []), 10.0)

    def test_layers_plus_server_self_add_up_to_ttlb(self):
        rec = run.Rec(0, "k", None, 0.0, 0.010, 0.020, 0.100, 3)
        spans = {"0": {"spans": [
            {"name": "construct", "parent": "http", "busy": 20e6, "calls": 1, "chars": 0},
            {"name": "plan", "parent": "http", "busy": 5e6, "calls": 1, "chars": 0},
            {"name": "exec", "parent": "http", "busy": 40e6, "calls": 7, "chars": 0},
            {"name": "render", "parent": "http", "busy": 10e6, "calls": 3, "chars": 300},
            {"name": "http", "parent": "", "busy": 90e6, "calls": 1, "chars": 0},
        ], "counters": {"chunks": 5}}}
        traced = run.Phase([rec], 0.1)
        untraced = run.Phase([rec._replace(t_last=0.080)], 0.1)
        end = {"gc_ms": 0, "live_frames": 0, "heap_peak_mb": 1.0}
        m, notes = run.layer_metrics(traced, untraced, spans, {"requests": {}}, end,
                                     {"live_frames": 0}, 2)
        layers = sum(m[k][0] for k in ("construct.ms", "plan.ms", "exec.ms", "render.ms"))
        self.assertAlmostEqual(layers + m["server.self_ms"][0], 100.0)
        self.assertAlmostEqual(m["server.self_ms"][0], 25.0)
        self.assertAlmostEqual(m["trace.overhead_frac"][0], 0.25)
        self.assertEqual(notes["requests_with_negative_server_self"], 0)
        self.assertEqual(set(m), set(run.LAYER_UNITS))


class DigestTest(unittest.TestCase):
    ROWS = ["result|events|3|17", "offset|clicks|0|500",
            '{"doc_id":1,"t":"中文☃\U0001d11e"}']

    def test_matches_the_server_side_digest(self):
        # Value printed by perfbench.Digest (Scala) for the same three rows.
        d = stats.Digest()
        for r in self.ROWS:
            d.add(r)
        self.assertEqual((d.hex, d.rows), ("16ff1bdd6dc51a7d", 3))

    def test_is_order_insensitive_and_counts_duplicates(self):
        a, b = stats.Digest(), stats.Digest()
        for r in self.ROWS:
            a.add(r)
        for r in reversed(self.ROWS):
            b.add(r)
        self.assertEqual(a.hex, b.hex)
        b.add(self.ROWS[0])
        self.assertNotEqual(a.hex, b.hex)
        self.assertEqual(b.rows, 4)

    def test_search_key(self):
        rec = {"type": "result", "topic": "events", "partition": 3, "offset": 17, "key": 5}
        self.assertEqual(stats.search_key(rec), "result|events|3|17")


class FailedFrac(unittest.TestCase):
    def test_base_counts_every_attempt(self):
        self.assertEqual(stats.failed_frac(10, 0), 0.0)
        self.assertEqual(stats.failed_frac(8, 2), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            stats.failed_frac(3, 4)

    def test_failed_requests_stay_in_the_base(self):
        recs = [run.Rec(0, "a", None, 0, 0, 0, 1, 1), run.Rec(1, "b", "http_500", 0, 0, 0, 1, 0),
                run.Rec(2, "a", None, 0, 0, 0, 1, 1)]
        p = run.Phase(recs, 0.0)
        self.assertEqual(len(p.records), 3)
        self.assertEqual(len(p.ok()), 2)
        self.assertEqual(p.failures, {"http_500": 1})
        self.assertAlmostEqual(stats.failed_frac(len(p.records), sum(p.failures.values())), 1 / 3)


class ResponseChecks(unittest.TestCase):
    REC = b', {\n  "type" : "result",\n  "topic" : "events",\n  "partition" : 3,\n  "offset" : 17\n}'

    def test_complete_array_passes(self):
        rows = client.array_rows(response(chunked(b"[", client.PIONEER, self.REC, b"]")))
        self.assertEqual(rows, [self.REC])
        d = client.search_digest(rows)
        self.assertEqual(client.check(response(chunked(b"[", client.PIONEER, self.REC, b"]")),
                                      {"rows": 1, "digest": d.hex}, "search"), (1, None))

    def test_mid_stream_failure_is_a_truncated_200(self):
        r = response(chunked(b"[", client.PIONEER, self.REC))
        self.assertEqual(client.check(r, {"rows": 1, "digest": ""}, "search"), (0, "truncated"))

    def test_other_failures_by_cause(self):
        ref = {"rows": 1, "digest": "0"}
        self.assertEqual(client.check(response(b"", 400), ref, "search")[1], "http_400")
        self.assertEqual(client.check(response(chunked(b"[", b"]")), ref, "search")[1],
                         "no_pioneer")
        self.assertEqual(client.check(response(chunked(b"[", client.PIONEER, b"]")), ref,
                                      "search")[1], "row_count")
        self.assertEqual(client.check(response(chunked(b"[", client.PIONEER, self.REC, b"]")),
                                      ref, "search")[1], "digest")
        self.assertEqual(client.check(response(b"5\r\n[\r\n"), ref, "search")[1], "bad_chunking")

    def test_verbatim_rows_digest_as_sent(self):
        rows = [b', {"a":1}', b', {"a":2}']
        d = stats.Digest()
        d.add('{"a":1}')
        d.add('{"a":2}')
        self.assertEqual(client.verbatim_digest(rows).hex, d.hex)


class MetricNames(unittest.TestCase):
    def test_the_printed_metrics_are_the_declared_ones(self):
        bench = declared()
        rec = run.Rec(0, "k", None, 0.0, 0.01, 0.02, 0.1, 1)
        e2e = set(run.e2e_metrics(run.Phase([rec], 0.0), 50, {"k": 1}))
        self.assertEqual(e2e | {"setup_s", "heap_live_mb"},
                         {m["name"] for m in bench["end_to_end"]})
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.LAYER_UNITS)
        self.assertEqual({w["name"] for w in bench["workloads"]}, {"search", "catalog"})


class FollowPaths(unittest.TestCase):
    def test_stream_dir_matches_java_string_hash(self):
        # Integer.toHexString(s.hashCode()) in Java; the second overflows to
        # Integer.MIN_VALUE.
        self.assertEqual(follow.java_string_hash("hello"), "5e918d2")
        self.assertEqual(follow.java_string_hash("polygenelubricants"), "80000000")
        self.assertEqual(follow.stream_dir("hello"), "/tmp/graft-stream-5e918d2")


if __name__ == "__main__":
    unittest.main()
