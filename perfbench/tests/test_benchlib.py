"""Tests of the benchmark's own arithmetic and checkers.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import copy
import os
import statistics
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import checks, oracle, plan, stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [10.0, 20.0, 30.0, 40.0]
        self.assertEqual(stats.percentile(xs, 0), 10.0)
        self.assertEqual(stats.percentile(xs, 100), 40.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 25.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 37.0)

    def test_matches_numpy_linear(self):
        rng = np.random.default_rng(3)
        xs = rng.exponential(size=101).tolist()
        for q in (5, 50, 90, 99):
            self.assertAlmostEqual(stats.percentile(xs, q), float(np.percentile(xs, q)))

    def test_order_does_not_matter_and_empty_fails(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_spread_uses_statistics_quantiles(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)


class DueTimeTest(unittest.TestCase):
    def test_record_i_is_due_after_i_over_rate_seconds(self):
        self.assertEqual(stats.due_ms([0, 1, 1500], 1500.0).tolist(), [0.0, 1000.0 / 1500, 1000.0])

    def test_backlog_is_due_at_start(self):
        self.assertEqual(stats.due_ms([0, 7, 10**6], 0).tolist(), [0.0, 0.0, 0.0])


class CommitLagTest(unittest.TestCase):
    def test_records_take_the_first_save_at_or_past_them(self):
        # rate 1000/s: record i due at i ms; saves at seq 4 (t=10) and 9 (t=25)
        lags = stats.commit_lags([(4, 10.0), (9, 25.0)], 10, 1000.0)
        self.assertEqual(lags.tolist(), [10, 9, 8, 7, 6, 20, 19, 18, 17, 16])

    def test_save_order_is_by_time_not_by_list_order(self):
        lags = stats.commit_lags([(9, 25.0), (4, 10.0)], 10, 0)
        self.assertEqual(lags.tolist(), [10] * 5 + [25] * 5)

    def test_a_stale_save_does_not_commit_later_records(self):
        # a later save of a lower sequence must not move the commit backwards
        lags = stats.commit_lags([(5, 10.0), (2, 12.0), (7, 30.0)], 8, 0)
        self.assertEqual(lags.tolist(), [10] * 6 + [30] * 2)

    def test_uncommitted_records_are_an_error(self):
        with self.assertRaises(ValueError):
            stats.commit_lags([(4, 10.0)], 10, 0)
        with self.assertRaises(ValueError):
            stats.commit_lags([], 3, 0)


class PlanTest(unittest.TestCase):
    def test_splitmix64_reference_value(self):
        # splitmix64 from state 0 yields 0xE220A8397B1DCDAF
        self.assertEqual(int(plan._mix(np.uint64(0))), 0xE220A8397B1DCDAF)

    def test_expectations_are_consistent(self):
        e = plan.expected(7, 2, 20000, keep_all=False, failures=True)
        n_dead = sum(len(d) for d in e["dead"].values())
        self.assertGreater(n_dead, 0)
        self.assertEqual(set(e["by_kind"]), {"purchase"})
        self.assertEqual(e["by_kind"]["purchase"][0], sum(v[0] for v in e["by_shard"].values()))
        for sid, dead in e["dead"].items():
            if dead and dead[-1] == 19999:
                self.assertLess(int(e["last_ok"][sid]), 19999)


def _round(seed, spec):
    """A round result as a correct program reports it, built from the plan."""
    exp = checks.expected_for(seed, spec)
    rnd = {"failed": None,
           "by_kind": {k: list(v) for k, v in exp["by_kind"].items()},
           "by_shard": {k: list(v) for k, v in exp["by_shard"].items()},
           "final_checkpoint": dict(exp["last_ok"]),
           "dead": {k: [f"{i:012d}" for i in v] for k, v in exp["dead"].items() if v},
           "aggregator": {}, "saves": []}
    for s in range(spec["shards"]):
        sid = f"shard-{s}"
        n_dead = len(exp["dead"][sid])
        rnd["aggregator"][sid] = {"records_processed": spec["per_shard"] - n_dead,
                                  "records_failed": n_dead, "hard_errors": n_dead,
                                  "soft_errors": exp["soft"][sid]}
        rnd["saves"].append([sid, spec["per_shard"] - 1, 5.0])
    return rnd, exp


class EngineCheckTest(unittest.TestCase):
    spec = {"shards": 2, "per_shard": 30000, "rate_per_shard": 0.0, "keep_all": False,
            "failures": True}

    def test_correct_output_passes(self):
        rnd, exp = _round(5, self.spec)
        self.assertEqual(checks.check_engine_round(rnd, self.spec, exp), [])

    def test_each_corruption_is_caught(self):
        rnd, exp = _round(5, self.spec)
        corruptions = [
            lambda r: r["by_kind"]["purchase"].__setitem__(1, r["by_kind"]["purchase"][1] + 1),
            lambda r: r["by_shard"]["shard-1"].__setitem__(0, r["by_shard"]["shard-1"][0] - 1),
            lambda r: r["final_checkpoint"].__setitem__("shard-0", "000000000001"),
            lambda r: r["dead"]["shard-0"].pop(),
            lambda r: r["aggregator"]["shard-1"].__setitem__("soft_errors", 0),
            lambda r: r.__setitem__("failed", "ShardFailure"),
        ]
        for i, corrupt in enumerate(corruptions):
            bad = copy.deepcopy(rnd)
            corrupt(bad)
            self.assertNotEqual(checks.check_engine_round(bad, self.spec, exp), [], f"corruption {i}")

    def test_lag_of_a_lost_commit_fails(self):
        spec = dict(self.spec, rate_per_shard=1000.0)
        rnd, exp = _round(5, spec)
        rnd["saves"] = [["shard-0", spec["per_shard"] - 1, 5.0], ["shard-1", 100, 5.0]]
        with self.assertRaises(ValueError):
            checks.round_lags(rnd, spec, exp)

    def test_trailing_dead_letters_need_no_commit(self):
        # the shard's last records are poison: its checkpoint stops at the
        # last good record, and every record up to it still has a lag
        rnd, exp = _round(5, self.spec)
        exp = dict(exp, last_ok=dict(exp["last_ok"], **{"shard-0": f"{29990:012d}"}))
        rnd["saves"] = [["shard-0", 29990, 7.0], ["shard-1", 29999, 5.0]]
        lags = checks.round_lags(rnd, self.spec, exp)
        self.assertEqual(len(lags), 29991 + 30000)
        self.assertEqual(set(lags.tolist()), {5.0, 7.0})


class OracleCompareTest(unittest.TestCase):
    def test_corrupted_output_fails_and_true_output_passes(self):
        import pandas as pd
        from benchlib import gentables
        with tempfile.TemporaryDirectory() as d:
            data = os.path.join(d, "tables")
            gentables.generate(data, 1, 0.001)
            con = oracle.connect(data)
            sql = "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"
            truth = con.sql(sql).df()
            out = os.path.join(d, "out")
            os.makedirs(os.path.join(out, "e"))
            truth.to_parquet(os.path.join(out, "e", "part-0.parquet"))
            self.assertIsNone(oracle.compare("e", sql, out, con, data))
            bad = truth.copy()
            bad.loc[0, "n"] += 1
            bad.to_parquet(os.path.join(out, "e", "part-0.parquet"))
            self.assertIn("values differ", oracle.compare("e", sql, out, con, data))
            pd.concat([truth, truth.head(1)]).to_parquet(os.path.join(out, "e", "part-0.parquet"))
            self.assertIn("rows", oracle.compare("e", sql, out, con, data))


if __name__ == "__main__":
    unittest.main()
