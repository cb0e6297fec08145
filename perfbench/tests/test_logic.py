"""Tests for the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import measure  # noqa: E402
import verify  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 201))  # 1..200
        value, pct, n = measure.tail(reversed(xs))
        self.assertEqual(value, 190)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual((pct, n), (95.0, 200))

    def test_never_below_p90(self):
        # 20 samples: ten beyond would be the median, so nearest-rank p90
        self.assertEqual(measure.tail(range(1, 21)), (18, 90.0, 20))
        self.assertEqual(measure.tail(range(1, 101)), (90, 90.0, 100))

    def test_few_samples_reach_the_slow_end(self):
        self.assertEqual(measure.tail([5.0, 3.0, 4.0]), (5.0, 100.0, 3))
        self.assertEqual(measure.tail(range(9))[0], 8)
        self.assertEqual(measure.tail(range(12))[0], 10)

    def test_tail_not_below_median_on_one_lakehouse_pass(self):
        # one set-up pass and one timed pass of 17 ops each
        op = lambda i, s: {"activity": True, "kind": "write" if i % 2 else "read", "s": s}
        p = lambda: {"wall_s": 10.0, "written_bytes": 1, "input_bytes": 1, "root_bytes": 2,
                     "live_bytes": 1, "heap_peak_mb": 100.0,
                     "ops": [op(i, 0.1 * (i + 1)) for i in range(17)]}
        res = {"session_ready_s": 5.0, "passes": [p(), p()]}
        m, ctx = measure.end_to_end(res, 1000, None)
        self.assertEqual(ctx["activity_samples"], 17)
        self.assertGreaterEqual(m["activity_tail_s"], m["activity_p50_s"])
        self.assertAlmostEqual(m["activity_tail_s"], 1.6)  # 16th of 17
        self.assertAlmostEqual(m["commit_tail_s"], 1.6)    # 8th of 8 writes
        self.assertEqual(set(m), set(declared("end_to_end")))


def declared(section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [e["name"] for e in json.load(f)[section]]


class PerLayer(unittest.TestCase):
    def test_pipeline_result_has_every_metric(self):
        census = {"exec.jobs": 3.0, "exec.task_cpu_s": 2.0}
        ops = [{"name": "ep1", "kind": "activity", "activity": True, "s": 1.0,
                "census": census, "attribution": '{"cc_round":0.50,"cc_round_n":3}'},
               {"name": "ep1.sink_write", "kind": "write", "activity": False, "s": 0.5}]
        timed = {"id": "p2", "wall_s": 2.0, "in_job_s": 1.5, "census": census, "ops": ops}
        res = {"cpus": 4, "passes": [dict(timed, id="p1"), timed], "untraced_wall_s": 1.6,
               "spans": [(1, 0, "queries.build", 0, 10 ** 9, "p2")]}
        m = measure.per_layer(res, 0)
        self.assertLessEqual(set(declared("per_layer")), set(m))
        self.assertEqual((m["exec.driver_s"], m["exec.cpu_util"]), (0.5, 0.25))
        self.assertEqual((m["pipeline.jobs_per_run"], m["similarity.cc_rounds"]), (3.0, 3))
        self.assertEqual(m["queries.build_s"], 1.0)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.25)


class SpanSelfTime(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        s = 10 ** 9  # spans are in nanoseconds
        spans = [
            (1, 0, "bench.pass", 0, 100 * s, "p2"),
            (2, 1, "tables.merge_small", 10 * s, 40 * s, "p2"),
            (3, 1, "tables.read_range", 30 * s, 60 * s, "p2"),  # overlaps span 2
            (4, 2, "exec.job", 15 * s, 20 * s, "p2"),
        ]
        st = measure.self_times(spans)
        self.assertEqual(st, {1: 50.0, 2: 25.0, 3: 30.0, 4: 5.0})
        self.assertEqual(measure.layer_self_times(spans),
                         {"bench": 50.0, "tables": 55.0, "exec": 5.0})


def _orders(rows):
    keys, cust, status, price, day, prio = zip(*rows)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(cust, pa.int64()),
        "o_orderstatus": pa.array(status, pa.string()),
        "o_totalprice": pa.array(price, pa.float64()),
        "o_orderdate": pa.array([f"1996-01-{d:02d}" for d in day], pa.string())
        .cast(pa.timestamp("s")).cast(pa.timestamp("us")),
        "o_orderpriority": pa.array(prio, pa.string()),
    })


class CdcReplay(unittest.TestCase):
    """A hand-checked four-row table through every content-changing op."""

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, self.dir)
        pq.write_table(_orders([(1, 7, "F", 10.0, 1, "1-URGENT"), (2, 7, "O", 20.0, 2, "2-HIGH"),
                                (3, 8, "P", 30.0, 3, "3-MEDIUM"), (4, 8, "F", 40.0, 4, "5-LOW")]),
                       f"{self.dir}/base.parquet")
        pq.write_table(_orders([(1, 9, "O", 11.0, 5, "2-HIGH"), (10, 9, "P", 99.0, 6, "5-LOW")]),
                       f"{self.dir}/batch_00.parquet")
        pq.write_table(pa.table({"o_orderkey": pa.array([2, 77], pa.int64())}),
                       f"{self.dir}/batch_01.parquet")
        self.script = {
            "checksum_sql": datagen.CHECKSUM_SQL, "mv_keys": datagen.MV_KEYS,
            "mv_aggs": datagen.MV_AGGS,
            "ops": [{"op": "seed", "path": "base.parquet"},
                    {"op": "merge_small", "path": "batch_00.parquet"},
                    {"op": "merge_delete", "path": "batch_01.parquet"},
                    {"op": "delete_where", "predicate": "o_orderkey = 3"},
                    {"op": "update_where", "predicate": "o_orderkey % 2 = 0",
                     "set": {"o_totalprice": "o_totalprice + 1.25", "o_orderstatus": "'U'"}},
                    {"op": "read_asof", "back": 2}]}
        with open(f"{self.dir}/ops.json", "w") as f:
            json.dump(self.script, f)
        self.versions = {0: 2, 1: 3, 2: 4, 3: 5, 4: 6}

    def test_replay_states_and_changes(self):
        con, changed = verify.replay(self.script, self.dir, self.versions)
        self.assertEqual(changed, 2 + 1 + 1 + 2)  # upsert 2, delete 1+1, update 2 rows
        final = con.execute("SELECT o_orderkey, o_orderstatus, o_totalprice FROM t "
                            "ORDER BY 1").fetchall()
        self.assertEqual(final, [(1, "O", 11.0), (4, "U", 41.25), (10, "U", 100.25)])
        self.assertEqual(con.execute("SELECT count(*) FROM v3").fetchone()[0], 5)
        chg = con.execute("SELECT v, _change_type, o_orderkey FROM chg WHERE v > 2 "
                          "ORDER BY 1, 2, 3").fetchall()
        self.assertEqual(chg, [
            (3, "insert", 10), (3, "update_postimage", 1), (3, "update_preimage", 1),
            (4, "delete", 2), (5, "delete", 3),
            (6, "update_postimage", 4), (6, "update_postimage", 10),
            (6, "update_preimage", 4), (6, "update_preimage", 10)])

    def _result(self, asof_checksum):
        con, _ = verify.replay(self.script, self.dir, self.versions)
        final = verify._checksum(con, "t", self.script["checksum_sql"])
        ops = [{"name": f"tables.{o['op']}", "index": i, "error": None,
                "kind": "write" if i < 5 else "read",
                **({"version": self.versions[i]} if i < 5 else {})}
               for i, o in enumerate(self.script["ops"])]
        ops[5].update(version=4, checksum=asof_checksum)
        return {"passes": [{"id": "p1", "ops": ops, "final_checksum": final}]}

    def test_wrong_read_fails_verification(self):
        con, _ = verify.replay(self.script, self.dir, self.versions)
        right = verify._checksum(con, "v4", self.script["checksum_sql"])
        errors, _ = verify.check_lakehouse(self._result(right), self.dir, 1)
        self.assertEqual(errors, [])
        wrong = dict(right, p=right["p"] + 1)
        errors, _ = verify.check_lakehouse(self._result(wrong), self.dir, 1)
        self.assertEqual(len(errors), 1)
        self.assertIn("read_asof#5", errors[0])


class ActivityVerifier(unittest.TestCase):
    """Published outputs checked against an oracle, and pass k against pass 1."""

    def setUp(self):
        self.data, self.out = tempfile.mkdtemp(), tempfile.mkdtemp()
        for d in (self.data, self.out):
            self.addCleanup(shutil.rmtree, d)
        datagen.gen_tables(self.data, 0.001, 1)
        self.sql = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"

    def _publish(self, name, names):
        path = os.path.join(self.out, name)
        os.makedirs(path)
        pq.write_table(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                                 "r_name": pa.array(names)}), f"{path}/part-00000.parquet")
        return {"name": "q", "kind": "activity", "error": None, "path": path}

    def _check(self, *passes):
        res = {"oracle_sql": {"q": self.sql},
               "passes": [{"id": f"p{i + 1}", "ops": [op]} for i, op in enumerate(passes)]}
        return verify.check_activities(res, self.data, 1)

    def test_matching_output_verifies(self):
        names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        self.assertEqual(self._check(self._publish("a", names), self._publish("b", names)), [])

    def test_wrong_value_fails(self):
        errors = self._check(self._publish("a", ["AFRICA", "AMERICA", "ASIA", "EUROPE", "X"]))
        self.assertEqual(len(errors), 1)
        self.assertIn("first diff col=r_name row=4", errors[0])

    def test_later_pass_must_reproduce_pass_one(self):
        names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        errors = self._check(self._publish("a", names),
                             self._publish("b", names[:4] + ["MIDDLE"]))
        self.assertEqual(errors, ["q: pass p2 differs from pass 1"])


if __name__ == "__main__":
    unittest.main()
