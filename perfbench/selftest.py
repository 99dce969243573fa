"""The benchmark's own tests.

  python3 perfbench/selftest.py

- the timed action materializes every output column: q1_agg's executed
  plan under the `noop` write computes all 8 aggregates, while `count()`
  prunes them away (why the benchmark does not time `count()`);
- every workload runs end to end on sf0.001 data with no errors and every
  row matching its DuckDB oracle;
- the same seed gives the same row order, another seed another order.
"""
import json
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

Q1_AGGREGATES = ["sum_qty", "sum_base_price", "sum_disc_price", "sum_charge",
                 "avg_qty", "avg_price", "avg_disc", "count_order"]


def setUpModule():
    build.build()
    run.prepare()


class TimedActionTest(unittest.TestCase):
    def test_noop_write_computes_every_q1_aggregate(self):
        got = json.loads(run.jvm("plan", run.DATA, run.cpus()).strip().splitlines()[-1])
        noop, count = got["noop"], got["count"]
        self.assertEqual(noop["output"], ["l_returnflag", "l_linestatus"] + Q1_AGGREGATES)
        final_agg = [n for n in noop["plan"] if n.startswith("HashAggregate(keys=[l_returnflag")
                     and "partial_" not in n]
        self.assertEqual(len(final_agg), 1, noop["plan"])
        # 8 outputs from 6 distinct aggregate functions: sum_qty/avg_qty share
        # sum(l_quantity), sum_base_price/avg_price share a sum, count(1) x3
        self.assertEqual(final_agg[0].count("sum(") + final_agg[0].count("count("), 6)
        # count() keeps only the group keys: the aggregates are pruned
        self.assertEqual(count["output"], ["count"])
        self.assertTrue(any(n.startswith("HashAggregate(keys=[l_returnflag") and
                            n.endswith("functions=[])") for n in count["plan"]), count["plan"])
        print(f"\nq1_agg on sf0.1, median of 3: noop write {got['noop_s']:.3f} s, "
              f"count() {got['count_s']:.3f} s")


class SmokeTest(unittest.TestCase):
    def test_every_workload_on_sf0_001(self):
        # every data dir a workload names points at the sf0.001 tables
        root = os.path.join(run.WORK, "smoke")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            os.symlink(os.path.join(run.DATA, "sf0.001"), os.path.join(root, sf))
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                out = os.path.join(root, w)
                run.jvm("run", w, 1, 0, 0, root, out, run.cpus())
                with open(os.path.join(out, "run.json")) as fh:
                    r = json.load(fh)
                self.assertEqual(r["verify_errors"], {})
                self.assertEqual([e["error"] for e in r["execs"] if e["error"]], [])
                verdicts = run.oracle_verdicts(r["data"], os.path.join(out, "check"))
                rows = {e["row"] for e in r["execs"]}
                self.assertEqual({k: v for k, v in verdicts.items() if v != "PASS"}, {})
                self.assertEqual(set(verdicts), rows)


class RowOrderTest(unittest.TestCase):
    def test_same_seed_same_order(self):
        for w in run.WORKLOADS:
            a = run.jvm("order", w, 7, 3)
            self.assertEqual(a, run.jvm("order", w, 7, 3))
            self.assertNotEqual(a, run.jvm("order", w, 8, 3))
            passes = a.split()
            self.assertEqual(len(passes), 3)
            self.assertEqual(len(set(passes)), 3, "each pass has its own order")


if __name__ == "__main__":
    unittest.main(verbosity=2)
