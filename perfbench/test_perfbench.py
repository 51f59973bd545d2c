"""The benchmark's own tests: seeded op sequences, percentile and self-time
arithmetic, and the delta_commit model.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import plans  # noqa: E402
import stats  # noqa: E402

NAMES = [f"q{i:02d}" for i in range(1, 37)]


class SeededSequences(unittest.TestCase):
    def test_sql_read_same_seed_same_ops(self):
        self.assertEqual(plans.sql_read_ops(7, NAMES, 3), plans.sql_read_ops(7, NAMES, 3))
        self.assertNotEqual(plans.sql_read_ops(7, NAMES, 3), plans.sql_read_ops(8, NAMES, 3))

    def test_sql_read_pass_holds_every_statement_and_one_in_ten_time_travel(self):
        ops = plans.sql_read_ops(3, NAMES, 2)
        first = ops[:len(ops) // 2]
        self.assertEqual(sorted(o["name"] for o in first if o["kind"] == "sql"), NAMES)
        tt = [o for o in first if o["kind"] == "time_travel"]
        self.assertEqual(len(tt), 4)
        for o in tt:
            self.assertLess(o["version"], plans.TT_TABLES[o["table"]][0] - 1)
            self.assertIn(f"VERSION AS OF {o['version']}", o["sql"])

    def test_time_travel_versions_are_the_same_for_every_seed(self):
        def versions(seed):
            ops = plans.sql_read_ops(seed, plans.TIMED_STATEMENTS, 30)
            return {t: [o["version"] for o in ops if o.get("table") == t] for t in plans.TT_TABLES}
        self.assertEqual(versions(1), versions(2))
        for t, (commits, _) in plans.TT_TABLES.items():
            self.assertEqual(sorted(plans.tt_versions(t)), list(range(commits - 1)))
        self.assertEqual(plans.tt_versions("lineitem")[:4], [11, 4, 9, 2])

    def test_sql_read_clients_draw_their_own_order(self):
        a = plans.sql_read_ops(4, plans.TIMED_STATEMENTS, 3, client=0)
        b = plans.sql_read_ops(4, plans.TIMED_STATEMENTS, 3, client=1)
        self.assertNotEqual([o["name"] for o in a], [o["name"] for o in b])
        self.assertEqual([o["table"] for o in b if o["kind"] == "time_travel"],
                         ["orders", "lineitem", "orders"])

    def test_warmup_reads_every_version_the_window_can(self):
        warm = {o["sql"] for o in plans.tt_warmup_ops()}
        window = {o["sql"] for o in plans.sql_read_ops(5, NAMES, 40) if o["kind"] == "time_travel"}
        self.assertEqual(window, warm)

    def test_delta_commit_same_seed_same_ops(self):
        a = plans.delta_commit_ops(5, 1, 2, 1000, 3)
        self.assertEqual(a, plans.delta_commit_ops(5, 1, 2, 1000, 3))
        self.assertNotEqual(a, plans.delta_commit_ops(6, 1, 2, 1000, 3))

    def test_delta_commit_mix_and_key_ownership(self):
        ops = plans.delta_commit_ops(5, 0, 2, 1000, 5)
        kinds = [o["kind"] for o in ops[:10]]
        self.assertEqual(sorted(kinds), sorted(plans.CYCLE))
        self.assertEqual(kinds.count("append"), 4)
        for o in ops:
            for k in ("lo", "match_lo", "new_lo"):
                if k in o:
                    self.assertEqual(o[k] % 2, 0, o)
        for o in plans.delta_commit_ops(5, 1, 2, 1000, 5):
            self.assertEqual(o.get("lo", 1) % 2, 1, o)

    def test_only_the_first_client_rewrites_files(self):
        a = {o["kind"] for o in plans.delta_commit_ops(1, 0, 2, 1000, 2)}
        b = {o["kind"] for o in plans.delta_commit_ops(1, 1, 2, 1000, 2)}
        self.assertEqual(a, set(plans.CYCLE))
        self.assertEqual(b, {"append", "read"})

    def test_checked_statements_cover_the_set_over_consecutive_seeds(self):
        seen = set()
        for seed in range(3):
            seen.update(plans.checked_statements(seed, NAMES))
        self.assertEqual(seen, set(NAMES))

    def test_inputs_depend_only_on_the_seed(self):
        a, b = gen.tpch_tables(4, 0.001), gen.tpch_tables(4, 0.001)
        self.assertTrue(all(a[t].equals(b[t]) for t in a))
        self.assertFalse(a["orders"].equals(gen.tpch_tables(5, 0.001)["orders"]))
        self.assertTrue(gen.sharded_orders(4, 100, 2).equals(gen.sharded_orders(4, 100, 2)))


class Percentiles(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertAlmostEqual(stats.percentile([1, 2, 3, 4], 90), 3.7)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 0), 1)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 100), 4)
        self.assertEqual(stats.percentile([7], 90), 7)
        self.assertAlmostEqual(stats.percentile(range(1, 11), 90), 9.1)

    def test_weighted_percentile_places_each_value_mid_weight(self):
        self.assertEqual(stats.weighted_percentile([(4, 1), (1, 1), (3, 1), (2, 1)], 50), 2.5)
        self.assertEqual(stats.weighted_percentile([(1, 1), (2, 1), (3, 1), (4, 1)], 75), 3.5)
        self.assertEqual(stats.weighted_percentile([(1, 1), (2, 1), (3, 1), (4, 1)], 0), 1)
        self.assertEqual(stats.weighted_percentile([(1, 1), (2, 1), (3, 1), (4, 1)], 100), 4)
        self.assertEqual(stats.weighted_percentile([(7, 2)], 90), 7)
        # 1 holds the first 3/4 of the weight, centred at 3/8; 5 sits at 7/8
        self.assertEqual(stats.weighted_percentile([(1, 3), (5, 1)], 50), 2)

    def test_mix_percentile_weighs_each_name_by_its_count(self):
        # one pass: a eight times, b and c once each
        weights = {"a": 8, "b": 1, "c": 1}
        one_each = {"a": [1], "b": [2], "c": [10]}
        # a centred at 0.4, b at 0.85, c at 0.95
        self.assertEqual(stats.mix_percentile(one_each, weights, 40), 1)
        self.assertAlmostEqual(stats.mix_percentile(one_each, weights, 50), 1 + 0.1 / 0.45)
        self.assertEqual(stats.mix_percentile(one_each, weights, 85), 2)
        self.assertEqual(stats.mix_percentile(one_each, weights, 100), 10)
        # a name sampled more often than its share weighs no more
        many_b = {"a": [1], "b": [2] * 30, "c": [10]}
        self.assertEqual(stats.mix_percentile(many_b, weights, 40), 1)
        self.assertEqual(stats.mix_percentile(many_b, weights, 95), 10)
        # every sample counts: b's samples split b's weight
        self.assertEqual(stats.mix_percentile({"a": [1, 3], "b": [2, 4]}, {"a": 1, "b": 1}, 50), 2.5)
        self.assertEqual(stats.mix_percentile({"a": [1], "b": [3]}, {"a": 0.5, "b": 0.5}, 50), 2)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_times_nest_and_sum_to_the_op(self):
        # op 0-100; a Delta call 10-60 holding a phase 12-18 and a job 20-40;
        # a job 70-90 outside the call
        out = stats.self_times((0, 100), [
            ("delta", 10, 60), ("catalyst", 12, 18), ("exec", 20, 40), ("exec", 70, 90)])
        self.assertEqual(out, {"op": 30, "delta": 24, "catalyst": 6, "exec": 40})
        self.assertEqual(sum(out.values()), 100)

    def test_job_inside_a_phase_is_the_phase_child(self):
        out = stats.self_times((0, 50), [("catalyst", 0, 20), ("exec", 5, 15)])
        self.assertEqual(out, {"op": 30, "delta": 0, "catalyst": 10, "exec": 10})

    def test_concurrent_jobs_count_once(self):
        out = stats.self_times((0, 20), [("exec", 0, 10), ("exec", 5, 15)])
        self.assertEqual(out, {"op": 5, "delta": 0, "catalyst": 0, "exec": 15})

    def test_children_are_clipped_to_the_op(self):
        out = stats.self_times((10, 20), [("exec", 0, 15)])
        self.assertEqual(out, {"op": 5, "delta": 0, "catalyst": 0, "exec": 5})


class ShardModel(unittest.TestCase):
    def test_ops_apply_as_the_harness_runs_them(self):
        m = plans.ShardModel([(0, 100), (2, 200), (4, 300)])
        m.apply({"kind": "update", "lo": 2, "hi": 5}, 2)
        self.assertEqual(m.rows, {0: 100, 2: 300, 4: 400})
        m.apply({"kind": "delete", "lo": 0, "hi": 3}, 2)
        self.assertEqual(m.rows, {4: 400})
        m.apply({"kind": "merge", "match_lo": 4, "match_n": 1, "new_lo": 10, "new_n": 2, "salt": 3}, 2)
        self.assertEqual(m.rows, {4: plans.row_cents(4, 3), 10: plans.row_cents(10, 3),
                                  12: plans.row_cents(12, 3)})
        m.apply({"kind": "append", "lo": 20, "n": 1, "salt": 9}, 2)
        self.assertEqual(m.summary()["n"], 4)
        self.assertEqual(m.summary()["keysum"], 4 + 10 + 12 + 20)


if __name__ == "__main__":
    unittest.main()
