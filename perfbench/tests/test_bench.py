"""Tests for the benchmark's own code: generators, percentile rule, spans.

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def tree(self, seed):
        with tempfile.TemporaryDirectory() as d:
            m = gen.code_tree(d, seed, 60, 2)
            return tree_digest(d), m

    def test_code_tree_same_seed_same_bytes(self):
        (d1, m1), (d2, m2) = self.tree(7), self.tree(7)
        self.assertEqual(d1, d2)
        self.assertEqual(m1, m2)

    def test_code_tree_other_seed_other_bytes(self):
        self.assertNotEqual(self.tree(7)[0], self.tree(8)[0])

    def test_code_tree_plants_known_answers(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.code_tree(d, 3, 60, 2)
            self.assertEqual(m["files"], 62)
            for s in m["stable"]:
                with open(os.path.join(d, s["path"])) as f:
                    src = f.read()
                self.assertIn(f"def {s['name']}(", src)
                self.assertIn(f"{s['callee']}(data, limit)", src)
            # every function name carries a token used nowhere else
            self.assertEqual(len(m["used_uids"]), len(set(m["used_uids"])))
            copies = [f for f in os.listdir(os.path.join(d, "vendor"))]
            self.assertEqual(len(copies), int(60 * 0.8) // 10)

    def test_edit_script_and_stream(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.code_tree(d, 5, 60, 2)
        self.assertEqual(gen.edit_script(m, 5), gen.edit_script(m, 5))
        kinds = [(e["kind"], e["via"]) for e in gen.edit_script(m, 5)]
        self.assertEqual(kinds, [("modify", "index"), ("delete", "watch")])
        q1, q2 = gen.query_stream(m, 5, 20, 200), gen.query_stream(m, 5, 20, 200)
        self.assertEqual(q1, q2)
        modes = [o["mode"] for o in q1["ops"][:len(gen.CYCLE)]]
        self.assertEqual([modes.count(x) for x in ("semantic", "keyword", "hybrid", "graph")],
                         [5, 4, 6, 5])
        graph = [o["graph"] for o in q1["ops"] if o["mode"] == "graph"]
        self.assertEqual(graph[:4], gen.GRAPH_READS)
        # Zipf draws: the head of the pool repeats
        entries = [o["entry"] for o in q1["ops"]]
        self.assertGreater(entries.count(0), entries.count(19))

    def test_corpus_plants_duplicates(self):
        c1, c2 = gen.corpus(11, 500), gen.corpus(11, 500)
        self.assertEqual(c1, c2)
        self.assertNotEqual(c1["docs"], gen.corpus(12, 500)["docs"])
        texts = [d["text"] for d in c1["docs"]]
        self.assertEqual(c1["distinct_texts"], len(set(texts)))
        self.assertGreater(c1["exact_copies"], 0)
        self.assertLess(c1["distinct_texts"], len(texts))
        by_id = {d["id"]: d["text"].split(" ") for d in c1["docs"]}
        self.assertTrue(c1["near_pairs"])
        for a, b in c1["near_pairs"]:
            diff = sum(x != y for x, y in zip(by_id[a], by_id[b]))
            self.assertEqual(diff, 1)


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile([5.0], 50), 5.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))
        self.assertEqual(stats.tail_percentile(list(range(1, 21))), (50.0, 10))
        self.assertEqual(stats.tail_percentile(list(range(1, 100))), (50.0, 50))
        self.assertEqual(stats.tail_percentile(list(range(1, 101))), (90.0, 90))
        self.assertEqual(stats.tail_percentile(list(range(1, 1001))), (99.0, 990))
        self.assertEqual(stats.tail_percentile(list(range(1, 10001))), (99.9, 9990))


class MixLatency(unittest.TestCase):
    def test_weights_rescale_over_present_modes(self):
        samples = {"a": [1, 3, 8], "b": [10], "c": []}
        self.assertAlmostEqual(stats.mix_latency(samples, {"a": 0.5, "b": 0.5}), 7.0)
        # "c" has no samples: its share is spread over the others
        self.assertAlmostEqual(stats.mix_latency(samples, {"a": 0.25, "b": 0.25, "c": 0.5}), 7.0)


class RepeatShare(unittest.TestCase):
    def test_warmup_and_earlier_ops_count_as_seen(self):
        import layers
        warmup = [{"mode": "keyword", "entry": 0}]
        ops = [{"mode": "keyword", "entry": 0},                      # warm-up ran it
               {"mode": "hybrid", "entry": 0},                       # other mode: new
               {"mode": "graph", "entry": 1, "graph": "smart"},
               {"mode": "graph", "entry": 1, "graph": "relationships"},  # other read: new
               {"mode": "hybrid", "entry": 0}]                       # ran two ops ago
        self.assertAlmostEqual(layers.repeat_share(warmup, ops, 5), 2 / 5)
        self.assertAlmostEqual(layers.repeat_share([], ops, 2), 0.0)


class BenchmarkJsonMetrics(unittest.TestCase):
    def test_benchmark_json_lists_every_metric(self):
        import layers
        import run
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], sorted(run.SIZES, reverse=True))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         [(n, u, "higher" if n in layers.HIGHER else "lower")
                          for n, u in layers.metric_names()])
        e2e = [m["name"] for m in b["end_to_end"]]
        self.assertIn("setup_s", e2e)
        self.assertEqual(len(e2e), len(set(e2e)))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_ms": a, "end_ms": b, "name": f"s{i}"}

    def test_self_time_subtracts_children_once(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 30),
                 self.span(2, 0, 20, 50),   # overlaps span 1: 10..50 covered once
                 self.span(3, 0, 90, 120),  # sticks out of its parent: 90..100 counts
                 self.span(4, 1, 12, 18)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 100 - 40 - 10)
        self.assertAlmostEqual(st[1], 20 - 6)
        self.assertAlmostEqual(st[2], 30)
        self.assertAlmostEqual(st[4], 6)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([self.span(0, -1, 5, 9)]), {0: 4})


if __name__ == "__main__":
    unittest.main()
