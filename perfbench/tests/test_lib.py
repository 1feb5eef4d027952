"""Self-checks of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import lib  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "reference", "surface_sf0.01.json")) as f:
    NAMES = sorted(json.load(f)["queries"])


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


class Sampler(unittest.TestCase):
    def test_panel_covers_every_family(self):
        p = lib.panel(NAMES, 16)
        self.assertEqual({lib.family(n) for n in p}, {lib.family(n) for n in NAMES})
        self.assertEqual(len(p), len(set(p)))

    def test_families(self):
        self.assertEqual(lib.family("st20_stream_forecast"), "st")
        self.assertEqual(lib.family("q151_weighted_quantile"), "q")
        self.assertEqual(lib.family("laplace_grid_init"), "laplace")

    def test_order_is_deterministic_per_seed(self):
        p = lib.panel(NAMES, 16)
        self.assertEqual(lib.seeded_order(p, 7), lib.seeded_order(p, 7))
        self.assertEqual(sorted(lib.seeded_order(p, 7)), sorted(p))

    def test_order_differs_across_seeds(self):
        p = lib.panel(NAMES, 16)
        orders = {tuple(lib.seeded_order(p, s)) for s in range(10)}
        self.assertEqual(len(orders), 10)


class Tail(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        for n in range(20, 400, 7):
            xs = [float(i) for i in range(n)]
            p, v, beyond = lib.tail(xs)
            self.assertGreaterEqual(beyond, 10)
            self.assertEqual(beyond, sum(1 for x in xs if x > v))
            # one percentile higher would leave fewer than ten beyond
            if p < 99:
                self.assertLess(n - math.ceil((p + 1) / 100 * n), 10)

    def test_is_the_highest_such_percentile(self):
        xs = list(range(1000))
        p, v, beyond = lib.tail(xs)
        self.assertEqual((p, beyond), (99, 10))
        xs = list(range(30))
        p, v, beyond = lib.tail(xs)
        self.assertEqual((p, beyond), (66, 10))

    def test_too_few_samples(self):
        # below 20 samples no percentile from the median up leaves ten beyond
        self.assertIsNone(lib.tail([float(i) for i in range(19)]))
        self.assertEqual(lib.tail([float(i) for i in range(20)])[0], 50)


class Attribution(unittest.TestCase):
    # listed as the harness writes them: a span when it closes, children first
    SPANS = [span(2, 1, "construct", 0, 40), span(3, 1, "plan", 40, 50),
             span(4, 1, "execute", 50, 100), span(1, 0, "query:a", 0, 100),
             span(6, 5, "construct", 100, 130), span(5, 0, "query:b", 100, 130)]

    def test_job_goes_to_the_span_it_started_in(self):
        jobs = [{"id": 0, "start": 10, "end": 30, "stages": [0]},
                {"id": 1, "start": 55, "end": 120, "stages": [1]},  # ends after its span
                {"id": 2, "start": 100, "end": 101, "stages": [2]},  # on a boundary
                {"id": 3, "start": 200, "end": 201, "stages": [3]}]  # outside every span
        stages = [{"id": i, "attempt": 0, "start": j["start"], "end": j["end"]}
                  for i, j in enumerate(jobs)]
        tasks = [{"stage": 1, "start": 60, "end": 70}]
        ls = lib.listener_spans(self.SPANS, jobs, stages, tasks)
        parent = {s["job"]: s["parent"] for s in ls if s["name"] == "job"}
        self.assertEqual(parent, {0: 2, 1: 4, 2: 6, 3: 0})
        by_id = {s["id"]: s for s in ls}
        task = next(s for s in ls if s["name"] == "task")
        stage = by_id[task["parent"]]
        self.assertEqual((stage["name"], stage["stage"]), ("stage", 1))
        self.assertEqual(by_id[stage["parent"]]["job"], 1)


class SelfTimes(unittest.TestCase):
    def test_layers_add_up_to_query_wall(self):
        spans = Attribution.SPANS
        jobs = [{"id": 0, "start": 10, "end": 30, "stages": [0]},
                {"id": 1, "start": 60, "end": 140, "stages": [1]}]
        stages = [{"id": 0, "attempt": 0, "start": 12, "end": 29},
                  {"id": 1, "attempt": 0, "start": 61, "end": 139}]
        tasks = [{"stage": 0, "start": 13, "end": 20}, {"stage": 0, "start": 15, "end": 28},
                 {"stage": 1, "start": 62, "end": 138}]
        every = spans + lib.listener_spans(spans, jobs, stages, tasks)
        selfs = lib.self_times(every, 1)
        self.assertAlmostEqual(sum(ms for _, ms in selfs.values()), 100.0)
        by_name = {}
        for name, ms in selfs.values():
            by_name[name] = by_name.get(name, 0) + ms
        # overlapping tasks share the instants they overlap; the job that
        # outlives execute is clipped to it
        self.assertAlmostEqual(by_name["task"], 15 + 38)
        self.assertAlmostEqual(by_name["stage"], 2 + 1)
        self.assertAlmostEqual(by_name["construct"], 40 - 20)
        self.assertAlmostEqual(by_name["query:a"], 0)

    def test_idle_is_span_time_without_tasks(self):
        s = span(1, 0, "solve", 0, 100)
        tasks = [span(2, 0, "task", 10, 30), span(3, 0, "task", 20, 40), span(4, 0, "task", 90, 120)]
        self.assertAlmostEqual(lib.idle_ms(s, tasks), 100 - 30 - 10)


if __name__ == "__main__":
    unittest.main()
