"""The benchmark's own tests: python3 -m unittest discover -s perfbench/tests"""
import json
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import model  # noqa: E402
import oracle_compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def _ops(seed):
    cols = gen.changelog(seed, 2_000, 100)
    end = int(cols["ts"].cast("int64").to_numpy()[-1])
    return cols, gen.coord_ops(seed, 20, 100, end)


class Determinism(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        (c1, o1), (c2, o2) = _ops(5), _ops(5)
        for k in c1:
            self.assertEqual(c1[k].to_pylist(), c2[k].to_pylist(), k)
        self.assertEqual(o1, o2)
        self.assertEqual(run.query_plan("batch_mix", 5), run.query_plan("batch_mix", 5))

    def test_other_seed_other_inputs(self):
        (c1, o1), (c2, o2) = _ops(5), _ops(6)
        self.assertNotEqual(c1["user_id"].to_pylist(), c2["user_id"].to_pylist())
        self.assertNotEqual(o1, o2)
        self.assertNotEqual(run.query_plan("batch_mix", 5), run.query_plan("batch_mix", 6))

    def test_star_tables_are_seeded(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.star(a, 3, 0.0005)
            gen.star(b, 3, 0.0005)
            for t in oracle_compare.TABLES:
                with open(os.path.join(a, f"{t}.parquet"), "rb") as x, \
                        open(os.path.join(b, f"{t}.parquet"), "rb") as y:
                    self.assertEqual(x.read(), y.read(), t)

    def test_rounds_keep_one_mix(self):
        _, ops = _ops(9)
        by_round = {}
        for o in ops:
            by_round.setdefault(o["round"], []).append(o["op"])
        mixes = {tuple(sorted(v)) for r, v in by_round.items() if r > 0}
        # each round: two writes plus their check reads, and six other reads
        self.assertTrue(all(len(m) == 10 for m in mixes))
        self.assertEqual({sum(op in gen.WRITES for op in m) for m in mixes}, {2})


class Percentiles(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(range(1, 41), 75), 30)
        self.assertEqual(stats.percentile(range(1, 101), 90), 90)
        with self.assertRaises(ValueError):
            stats.percentile(range(1, 40), 75)
        with self.assertRaises(ValueError):
            stats.percentile(range(1, 100), 90)

    def test_median_needs_no_tail(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)


class Model(unittest.TestCase):
    def log(self, events):
        return model.Log({"event_id": [e[0] for e in events], "us": [e[1] for e in events],
                          "user_id": [e[2] for e in events],
                          "event_type": ["kv"] * len(events),
                          "value": [e[3] for e in events]})

    def test_cas_replay(self):
        log = self.log([(0, 10, 1, 5.01), (1, 20, 1, 6.04), (2, 30, 1, 0.0)])
        self.assertIsNone(log.fetch_cas("kv", 1))   # put, update, delete
        self.assertEqual(log.fetch("kv", 1), 0.0)
        log.append("kv", 1, "update", 7.0, 40)     # update of an absent key
        self.assertIsNone(log.fetch_cas("kv", 1))
        self.assertEqual(log.append("kv", 1, "put", 8.0, 50), 4)
        self.assertEqual(log.fetch_cas("kv", 1), 8.01)

    def test_leader_is_earliest_live_session(self):
        hour = model.TTL_US
        log = self.log([(0, 0, 7, 1.0), (1, 10, 8, 2.0), (2, 3 * hour, 8, 3.0),
                        (3, 3 * hour + 5, 9, 4.0), (4, 3 * hour + 6, 8, 5.0)])
        # 7 expired; 8's live session started at 3h, before 9's
        self.assertEqual(log.get_leader("kv"), [8, 5.0])
        self.assertEqual(log.membership_list("kv"), [[8, 5.0], [9, 4.0]])
        self.assertFalse(log.is_member("kv", 7))


class Records(unittest.TestCase):
    def fake_result(self, workload):
        names = ["fetch", "put", "getLeader", "membershipList"] if workload == "coord_api" \
            else ["q1_pricing_summary", "stream_funnel"]
        ops = [{"i": i, "phase": "timed", "name": names[i % len(names)],
                "wall_s": 0.1 + i / 100, "cpu_s": 0.2, "gc_s": 0.01, "answer": 1, "error": None}
               for i in range(20)]
        spans = [[i, n, 0, d] for i in range(20)
                 for n, d in (("op", 10**8), ("construct", 5 * 10**7), ("execute", 4 * 10**7))]
        setup = {"session_s": 1.0, "framecache_s": 1.0,
                 "built": 0, "loaded": 3}
        return {
            "setup": dict(setup, cold_s=4.0),
            "ops": ops, "rss_peak_mb": 900.0, "heap_retained_mb": 300.0, "checks": {},
            "op_artifacts": {"built": 0, "loaded": 0},
            "plan_ops": [{"op": o["name"], "ns": "kv", "key": 1} for o in ops],
            "trace": {"spans": spans, "exec": {"3": [2, 8, 10**9, 100, 200]},
                      "spill_bytes": 0,
                      "triggers": {"1": [{"start_ns": 0, "state_rows": 5, "state_mem_bytes": 2**20,
                                          "durations_ms": {"triggerExecution": 20,
                                                           "addBatch": 10}}]},
                      "planning_ms": {"0": {"analysis": 1.0, "optimization": 2.0,
                                            "planning": 3.0}},
                      "tables_resolve_ms": {"events": 12.0},
                      "framecache_build_s": 9.0, "framecache_built": 3,
                      "kernels": {k[len("kernels."):]: 1e6 for k in run.PER_LAYER
                                  if k.startswith("kernels.")}},
        }

    def test_every_metric_named_with_its_unit(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "events.parquet"))
            for wl in ("coord_api", "batch_mix"):
                for trace, units in ((0, run.END_TO_END), (1, run.PER_LAYER)):
                    _, line = run.summarize(self.fake_result(wl), wl, trace, set(), d)
                    line = json.loads(json.dumps(line))
                    self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
                    self.assertEqual(set(line["metrics"]), set(units))
                    for k, v in line["metrics"].items():
                        self.assertEqual(v["unit"], units[k])
                        self.assertTrue(math.isfinite(v["value"]), (wl, k))

    def test_triggers_are_children_of_their_drain(self):
        res = self.fake_result("batch_mix")
        tree = run.span_tree(res["trace"]["spans"], res["trace"]["triggers"])
        by_name = {x["span"]: x for x in tree[1]}
        self.assertEqual(by_name["trigger"]["parent"], "construct")
        self.assertEqual(by_name["construct"]["self_ns"], 3 * 10**7)  # 50 ms less a 20 ms trigger
        self.assertEqual(by_name["op"]["self_ns"], 10**7)             # 100 ms less 90 ms of layers

    def test_stream_twin_checked_against_batch_twin(self):
        import pandas as pd
        with tempfile.TemporaryDirectory() as d:
            checks = {}
            for name, n in (("stream_heavy_hitters", 5), ("events_heavy_hitters", 5)):
                os.makedirs(os.path.join(d, name))
                pd.DataFrame({"event_type": ["view"], "est_count": [n]}).to_parquet(
                    os.path.join(d, name, "part-0.parquet"))
                checks[name] = os.path.join(d, name)
            self.assertEqual(run.check_queries(checks, {}), set())
            pd.DataFrame({"event_type": ["view"], "est_count": [6]}).to_parquet(
                os.path.join(d, "events_heavy_hitters", "part-0.parquet"))
            self.assertEqual(run.check_queries(checks, {}), {"stream_heavy_hitters"})
            del checks["events_heavy_hitters"]  # a twin that did not run fails too
            self.assertEqual(run.check_queries(checks, {}), {"stream_heavy_hitters"})

    def test_plan_sized_to_window(self):
        n = len(run.QUERY_LISTS["batch_mix"])
        self.assertEqual(len(run.query_plan("batch_mix", 1, seconds=1)), 3 * n)
        self.assertGreater(len(run.query_plan("batch_mix", 1, seconds=60)), 3 * n)

    def test_wrong_answer_is_a_failed_op(self):
        res = self.fake_result("coord_api")
        _, line = run.summarize(res, "coord_api", 0, {3}, None)
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (20, 1, False))


class OracleCompare(unittest.TestCase):
    def test_int_never_matches_float(self):
        import pandas as pd
        ints = oracle_compare.canonical(pd.DataFrame({"x": [1, 2]}))
        floats = oracle_compare.canonical(pd.DataFrame({"x": [1.0, 2.0]}))
        self.assertFalse(oracle_compare.same(ints, floats))
        self.assertTrue(oracle_compare.same(
            ints, oracle_compare.canonical(pd.DataFrame({"x": [2, 1]}))))


if __name__ == "__main__":
    unittest.main()
