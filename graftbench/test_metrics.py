"""Self-tests of the benchmark's own logic.

Run: python3 -m unittest discover -s graftbench -p 'test_*.py'
(run.py also runs them before every benchmark run).
"""
import json
import os
import unittest

import metrics
import run

HERE = os.path.dirname(os.path.abspath(__file__))


class PassOrders(unittest.TestCase):
    OPS = [f"op{i}" for i in range(12)]

    def test_same_seed_same_orders(self):
        self.assertEqual(metrics.pass_orders(self.OPS, 7, 5),
                         metrics.pass_orders(self.OPS, 7, 5))

    def test_prefix_stable(self):
        self.assertEqual(metrics.pass_orders(self.OPS, 7, 3),
                         metrics.pass_orders(self.OPS, 7, 9)[:3])

    def test_each_pass_is_a_permutation(self):
        for order in metrics.pass_orders(self.OPS, 3, 4):
            self.assertEqual(sorted(order), sorted(self.OPS))

    def test_seeds_differ_and_passes_differ(self):
        a = metrics.pass_orders(self.OPS, 1, 4)
        b = metrics.pass_orders(self.OPS, 2, 4)
        self.assertNotEqual(a, b)
        self.assertGreater(len({tuple(o) for o in a}), 1)

    def test_known_value(self):
        # pins the generator: a change here changes every recorded order
        self.assertEqual(metrics.pass_orders(list("abcde"), 1, 2),
                         [list("cbaed"), list("becad")])
        self.assertEqual(metrics.lead_arm(1), "blocked")
        self.assertEqual({metrics.lead_arm(s) for s in range(20)},
                         {"blocked", "broadcast"})


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.nearest_rank(xs, 50), 50)
        self.assertEqual(metrics.nearest_rank(xs, 90), 90)
        self.assertEqual(metrics.nearest_rank(xs, 100), 100)
        self.assertEqual(metrics.nearest_rank([5], 75), 5)

    def test_beyond(self):
        self.assertEqual(metrics.beyond(100, 90), 10)
        self.assertEqual(metrics.beyond(40, 75), 10)
        self.assertEqual(metrics.beyond(39, 75), 9)

    def test_tail_rule_picks_highest_with_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(99), 75.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertIsNone(metrics.tail_percentile(19))


class IntervalUnion(unittest.TestCase):
    def test_disjoint_and_overlapping(self):
        self.assertEqual(metrics.union_length([(0, 2), (5, 6)]), 3)
        self.assertEqual(metrics.union_length([(0, 4), (1, 2), (3, 6)]), 6)
        self.assertEqual(metrics.union_length([(3, 6), (0, 4)]), 6)

    def test_touching_and_empty(self):
        self.assertEqual(metrics.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(metrics.union_length([]), 0)
        # unfinished (end < start) and empty intervals cover nothing
        self.assertEqual(metrics.union_length([(4, -1), (2, 2)]), 0)

    def test_clipped_to_windows(self):
        windows = [(0, 10), (20, 30)]
        jobs = [(1, 4), (3, 12), (21, 25), (24, 29), (15, 16)]
        covered, outside = metrics.clipped_union(jobs, windows)
        # (1,4)+(3,10) -> 9 in the first window, (21,29) -> 8 in the second
        self.assertEqual(covered, 17)
        self.assertEqual(outside, 1)


def fake_traced_run():
    """Records of a run with one untraced and one traced pass of two
    operations, shaped like the ones Harness writes."""
    def pass_rec(i, traced, wall):
        return {"kind": "pass", "pass": i, "traced": traced, "wall": wall,
                "cpu": 3.0, "t0": 1000 * i, "t1": 1000 * i + 900,
                "memo_builds": 1, "memo_hits": 3, "memo_build_s": 0.2,
                "jit_ms": 5, "gc_ms": 7, "code_cache_mb": 80.0,
                "heap_peak_mb": 300.0, "codegen_compile_ms": 0.0,
                "codegen_source_kb": 0.0}

    def op(i, name, t0, t1, build):
        wall = (t1 - t0) / 1e3
        return {"kind": "op", "pass": i, "phase": "timed", "name": name,
                "wall": wall, "build": build, "force": wall - build,
                "t0": t0, "t1": t1, "fp": "1:1", "error": ""}
    recs = [pass_rec(0, False, 0.5), pass_rec(1, True, 0.8),
            op(0, "a_big", 0, 200, 0.05), op(0, "b", 200, 500, 0.1),
            op(1, "a_big", 1000, 1300, 0.05), op(1, "b", 1300, 1700, 0.1),
            # two overlapping jobs in op a_big, one in b running past its
            # end, one started between passes
            {"kind": "jobs", "pass": 1, "start": [1010, 1100, 1400, 1750],
             "end": [1150, 1250, 1800, 1760]},
            {"kind": "tasks", "pass": 1, "n": 6, "stages": 4, "outside": 0,
             "run_s": 1.6, "cpu_s": 1.2, "gc_s": 0.1, "peak_mem_mb": 8.0,
             "shuffle_write_mb": 1.0, "shuffle_read_mb": 1.0,
             "fetch_wait_s": 0.0, "spill_disk_mb": 0.0, "spill_mem_mb": 0.0,
             "input_mb": 2.0, "input_rows": 100},
            {"kind": "planning", "pass": 1, "actions": 2, "analysis_ms": 3.0,
             "optimizer_ms": 4.0, "physical_ms": 5.0},
            {"kind": "stream", "pass": 1, "batches": 2,
             "trigger_ms": [10.0, 30.0], "add_batch_ms": 20.0,
             "query_planning_ms": 4.0, "wal_commit_ms": 2.0,
             "latest_offset_ms": 1.0, "input_rows": 50, "state_rows": 5,
             "state_mem_mb": 0.1, "state_commit_ms": 1.0},
            {"kind": "kernel", "kernel": "mlp", "pair": 0, "lead": "blocked",
             "blocked_s": 2.0, "broadcast_s": 4.0},
            {"kind": "kernel", "kernel": "mlp", "pair": 1, "lead": "broadcast",
             "blocked_s": 3.0, "broadcast_s": 3.0}]
    return recs


class TracedAccounting(unittest.TestCase):
    def setUp(self):
        recs = fake_traced_run()
        passes = [r for r in recs if r["kind"] == "pass"]
        self.out, self.counts, self.acc = run.per_layer(
            recs, [p for p in passes if p["traced"]],
            [p for p in passes if not p["traced"]], 4, 10)

    def test_job_wall_is_clipped_union(self):
        # (1010,1250) -> 240 ms in a_big; (1400,1700) clipped -> 300 ms in b
        self.assertAlmostEqual(self.out["sched.job_wall_s"], 0.54)
        self.assertAlmostEqual(self.out["sched.gap_s"], 0.7 - 0.54)
        self.assertEqual(self.acc["unattributed_jobs"], 1)

    def test_splits_reconcile_to_op_wall(self):
        self.assertAlmostEqual(self.acc["build_plus_force_minus_op_wall_s"], 0.0)
        self.assertAlmostEqual(self.acc["job_wall_plus_gap_minus_op_wall_s"], 0.0)
        self.assertAlmostEqual(self.out["queries.build_s"], 0.15)

    def test_ratios(self):
        self.assertAlmostEqual(self.out["trace_overhead"], 0.8 / 0.5)
        self.assertAlmostEqual(self.out["task.util"], 1.6 / (0.8 * 4))
        self.assertAlmostEqual(self.out["memo.hit_rate"], 0.75)
        # the median of the per-pair ratios, not the ratio of the medians
        self.assertAlmostEqual(self.out["pairplan.mlp.ratio"], 0.75)
        self.assertAlmostEqual(self.out["pairplan.mlp.blocked_s"], 2.5)
        self.assertAlmostEqual(self.out["kernel.pairs_per_s"], 100 / 0.3)
        self.assertEqual(self.out["stream.batch_p50_ms"], 10.0)

    def test_every_per_layer_metric_of_the_benchmark(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json is not next to the benchmark")
        with open(path) as fh:
            bench = json.load(fh)
        names = {m["name"]: m["unit"] for m in bench["per_layer"]}
        self.assertEqual(set(self.out), set(names))
        for name, unit in names.items():
            self.assertEqual(run.unit_of(name), unit, name)


class Selection(unittest.TestCase):
    """driver_mix keeps what sizing.json's rules pick from the profile."""

    def setUp(self):
        with open(os.path.join(HERE, "sizing.json")) as fh:
            self.lists = json.load(fh)["lists"]
        with open(os.path.join(HERE, "workloads.json")) as fh:
            self.ops = json.load(fh)["workloads"]["driver_mix"]["ops"]

    def test_sql_is_the_lower_median_of_each_fifth(self):
        prof = self.lists["sql_short"]["ops"]
        ranked = sorted(prof, key=lambda q: prof[q]["wall_s"])
        fifth = len(ranked) // 5
        picks = [ranked[i * fifth + (fifth - 1) // 2] for i in range(5)]
        self.assertEqual(picks, self.lists["sql_short"]["kept"]["ops"])
        self.assertEqual(picks, self.ops[:5])

    def test_memo_pair_is_the_two_cheapest_readers(self):
        readers = ["kmeans_train", "kmeans_train_conv", "similar_ivf",
                   "similar_ivfpq", "dedup_semantic_trained"]
        prof = self.lists["iter_memo"]["ops"]
        cheapest = sorted(readers, key=lambda q: prof[q]["wall_s"])[:2]
        self.assertEqual(set(cheapest), set(self.lists["iter_memo"]["kept"]["ops"]))
        self.assertEqual(set(cheapest), set(self.ops[6:]))


if __name__ == "__main__":
    unittest.main()
