"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v
"""
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class BusyIdleTest(unittest.TestCase):
    def test_overlapped_jobs_do_not_make_idle_negative(self):
        # two jobs covering the whole op at once: summing job durations
        # (wall - sum) gives -3 s of "driver gaps"; the union gives 0 idle
        r = stats.busy_idle((0.0, 3.0), [(0.0, 3.0), (0.0, 3.0)])
        self.assertAlmostEqual(r["busy_s"], 3.0)
        self.assertAlmostEqual(r["idle_s"], 0.0)
        self.assertAlmostEqual(r["job_s"], 6.0)

    def test_partial_overlap_and_clipping(self):
        # jobs overlap each other and stick out of the op's window
        jobs = [(-1.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
        r = stats.busy_idle((0.0, 10.0), jobs)
        self.assertAlmostEqual(r["busy_s"], 3.0 + 1.0 + 1.0)
        self.assertAlmostEqual(r["idle_s"], 5.0)
        self.assertAlmostEqual(r["busy_s"] + r["idle_s"], r["wall_s"])

    def test_idle_attribution_sums_to_idle(self):
        jobs = [(1.0, 2.0), (1.5, 4.0)]
        samples = [(0.2, "sources"), (0.5, "sources"), (1.7, "operators"),
                   (4.5, "ml"), (9.0, "outside")]
        r = stats.busy_idle((0.0, 5.0), jobs, samples)
        self.assertAlmostEqual(r["idle_s"], 2.0)
        # the sample inside a job and the one outside the op are ignored
        self.assertEqual(set(r["idle_by_module"]), {"sources", "ml"})
        self.assertAlmostEqual(sum(r["idle_by_module"].values()), r["idle_s"])
        self.assertAlmostEqual(r["idle_by_module"]["sources"], 2.0 * 2 / 3)

    def test_unsampled_idle_is_still_attributed(self):
        r = stats.busy_idle((0.0, 1.0), [(0.0, 0.25)], [])
        self.assertEqual(r["idle_by_module"], {"unsampled": 0.75})


class JobModuleTest(unittest.TestCase):
    def test_call_site_wins_then_samples_decide(self):
        samples = [(1.0, "sources"), (1.1, "sources"), (1.2, "spark"), (5.0, "ml")]
        self.assertEqual(stats.job_module({"module": "ml", "t0": 1.0, "t1": 2.0}, samples), "ml")
        self.assertEqual(stats.job_module({"module": "spark", "t0": 1.0, "t1": 2.0}, samples), "sources")
        self.assertEqual(stats.job_module({"module": "spark", "t0": 3.0, "t1": 4.0}, samples), "spark")


class TailRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(10000)))[0], 99.9)
        self.assertEqual(stats.tail(list(range(30)))[0], 66.0)

    def test_tail_value_leaves_ten_samples_above(self):
        values = [float(v) for v in range(1, 101)]
        p, v = stats.tail(values)
        self.assertEqual(v, 90.0)
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_small_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail([5.0] * 15), (50.0, 5.0))
        self.assertEqual(stats.tail([1.0, 2.0, 3.0, 4.0]), (50.0, 2.5))
        self.assertEqual(stats.tail(list(range(20)))[0], 50.0)


class SeedTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a = gen.make_tables(7, 0.001, ["lineitem", "documents", "embeddings"])
        b = gen.make_tables(7, 0.001, ["lineitem", "documents", "embeddings"])
        c = gen.make_tables(8, 0.001, ["lineitem"])
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_same_seed_same_op_log(self):
        h = [gen.op_log_hash(gen.lake_ops(s, 6000, 1500, 5)) for s in (3, 3, 4)]
        self.assertEqual(h[0], h[1])
        self.assertNotEqual(h[0], h[2])

    def test_every_pass_has_the_same_mix(self):
        log = gen.lake_ops(5, 6000, 1500, 4)
        mixes = [sorted(o["type"] for o in log[i:i + gen.PASS_OPS]
                        if o["type"] not in ("optimize", "vacuum"))
                 for i in range(0, len(log), gen.PASS_OPS)]
        self.assertEqual(len(log), 4 * gen.PASS_OPS)
        self.assertTrue(all(m == mixes[0] for m in mixes))

    def test_row_key_is_unique(self):
        li = gen.lineitem_with_rowkey(gen.make_tables(1, 0.001, ["lineitem"])["lineitem"])
        keys = li.column("l_rowkey").to_pylist()
        self.assertEqual(len(keys), len(set(keys)))


class ReferenceModelTest(unittest.TestCase):
    """The lake reference model on a tiny table."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        t = gen.make_tables(2, 0.00001, ["lineitem", "orders"])
        self.n_li, self.n_ord = t["lineitem"].num_rows, t["orders"].num_rows
        t["li"] = gen.lineitem_with_rowkey(t.pop("lineitem"))
        gen.write_tables(t, self.tmp.name)
        self.log = gen.lake_ops(2, self.n_li, self.n_ord, 4, check_every=1,
                                batch=6, keys_per_dml=2)

    def tearDown(self):
        self.tmp.cleanup()

    def model(self):
        return check.LakeModel(os.path.join(self.tmp.name, "li.parquet"),
                               os.path.join(self.tmp.name, "orders.parquet"))

    def test_replay_matches_the_generator_key_model(self):
        m = self.model()
        n_li, n_ord = self.n_li, self.n_ord
        for op in self.log:
            if op["kind"] == "write":
                m.apply(op)
                t = op["type"]
                if t == "merge":
                    n_li += 3
                elif t.startswith("delete"):
                    if op["table"] == "li":
                        n_li -= 2
                    else:
                        n_ord -= 2
                elif t == "insert":
                    n_ord += 6
            self.assertEqual(m.con.execute("SELECT count(*) FROM li").fetchone()[0], n_li)
            self.assertEqual(m.con.execute("SELECT count(*) FROM ord").fetchone()[0], n_ord)

    def test_merge_updates_and_inserts(self):
        m = self.model()
        merge = next(o for o in self.log if o["type"] == "merge")
        before = m.con.execute("SELECT sum(l_quantity), count(*) FROM li").fetchone()
        m.apply(merge)
        after = m.con.execute("SELECT count(*) FROM li").fetchone()[0]
        self.assertEqual(after, before[1] + 3)

    def test_time_travel_targets_are_known(self):
        m = self.model()
        for op in self.log:
            if op["type"] == "time_travel":
                self.assertIn(op["version"], m.li_versions)
            m.apply(op)

    def test_check_lake_flags_a_wrong_read(self):
        m = self.model()
        recorded = []
        for op in self.log:
            want = m.apply(op)
            rows = []
            if op["kind"] == "read":
                cols = [f"c{i}" for i in range(len(want[0]))] if want else []
                rows = [json_row(cols, r) for r in want]
            recorded.append({"i": op["i"], "ok": True, "rows": rows})
        # the engine's final state is the model's own: dump it as parquet
        out = os.path.join(self.tmp.name, "out")
        for t in ("li", "ord"):
            os.makedirs(os.path.join(out, f"final_{t}"))
            m.con.execute(f"COPY {t} TO '{out}/final_{t}/part-0.parquet' (FORMAT parquet)")
        checked, wrong, diffs, _ = check.check_lake(self.tmp.name, out, self.log, recorded)
        self.assertGreater(checked, 0)
        self.assertEqual((wrong, diffs), (0, {"li": 0, "ord": 0}))
        bad = next(r for r, o in zip(recorded, self.log)
                   if o["type"] == "count")
        bad["rows"] = [json_row(["n"], (-1,))]
        _, wrong, _, wrong_ops = check.check_lake(self.tmp.name, out, self.log, recorded)
        self.assertEqual(wrong, 1)
        self.assertEqual(wrong_ops, [bad["i"]])


def json_row(cols, row):
    import json
    return json.dumps(dict(zip(cols, row)), default=str)


if __name__ == "__main__":
    unittest.main()
