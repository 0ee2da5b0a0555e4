"""Self-tests of the benchmark (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import math
import os
import random
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen_data  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TailRule(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        for n in (11, 26, 100, 537):
            xs = list(range(n, 0, -1))
            value, pct, count = metrics.tail(xs)
            self.assertEqual(count, n)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_hundred_samples_give_p90(self):
        self.assertEqual(metrics.tail([float(i) for i in range(1, 101)])[:2], (90.0, 90.0))

    def test_short_runs_fall_back_to_the_fastest_sample(self):
        self.assertEqual(metrics.tail([5.0, 3.0, 9.0]), (3.0, 0.0, 3))
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))


class FakeTruth(checks.Truth):
    def __init__(self, answers):
        super().__init__("unused", os.path.join(tempfile.mkdtemp(), "truth.json"))
        self.answers = answers

    def query(self, sql):
        return self.answers[sql]


def aqp_op(sql, rows, **kw):
    return dict({"name": "query", "ms": 1.0, "error": None, "sql": sql, "folded": True,
                 "answer": {"columns": ["k", "v"], "rows": rows}}, **kw)


class FailureAccounting(unittest.TestCase):
    def test_aqp_exception_wrong_answer_and_declined_fold_each_count(self):
        truth = FakeTruth({"q": (["k", "v"], [("A", 100), ("B", 200)])})
        ops = [aqp_op("q", [["A", 101], ["B", 199]]),
               aqp_op("q", [["A", 100], ["B", 2000]]),              # 10x off
               aqp_op("q", [["A", 100]]),                           # a group missing
               aqp_op("q", [["A", 100], ["B", 200]], folded=False),  # scanned data
               {"name": "query", "ms": 1.0, "error": "IllegalStateException: boom", "sql": "q"}]
        checks.check_aqp(ops, truth)
        self.assertEqual([o["ok"] for o in ops], [True, False, False, False, False])
        self.assertTrue(math.isinf(ops[2]["qerror"]))
        out = {"setup_s": 1.0, "timed_s": 2.0, "cpu_ms": 10.0, "heap_retained_mb": 1.0,
               "round": 5, "round_end_ms": [2000.0], "layers": {}, "setup": {}}
        e2e = metrics.end_to_end(out, ops)
        self.assertEqual(e2e["ops_per_s"], 0.5)  # one correct op in two seconds
        self.assertEqual(metrics.accuracy(out, ops, {})["failed_frac"], 0.8)

    def test_ops_per_s_is_the_median_round(self):
        ops = [{"ok": True, "ms": 1.0}] * 6 + [{"ok": False, "ms": 1.0}] + [{"ok": True, "ms": 1.0}]
        out = {"setup_s": 1.0, "cpu_ms": 1.0, "heap_retained_mb": 1.0,
               "round": 2, "round_end_ms": [1000.0, 2000.0, 7000.0, 8000.0]}
        # rounds: 2/s, 2/s, 0.4/s (a slow round), 1/s (one op failed)
        self.assertEqual(metrics.round_rates(out, ops), [2.0, 2.0, 0.4, 1.0])
        self.assertEqual(metrics.end_to_end(out, ops)["ops_per_s"], 1.5)

    def test_tail_is_the_median_round_tail(self):
        # three rounds of 12 ops: each round's tail is its second smallest
        ops = [{"ok": True, "ms": float(ms)} for r in (0, 100, 200) for ms in range(r, r + 12)]
        out = {"round": 12, "round_end_ms": [1.0, 2.0, 3.0]}
        self.assertEqual(metrics.round_tail(out, ops), 101.0)

    def test_exact_answer_mismatch_and_changed_repeat_each_count(self):
        d = tempfile.mkdtemp()
        oracle = {"tpch_q1": "q1", "tpch_q6": "q6", "sim_topk": "topk"}
        json.dump(oracle, open(os.path.join(d, "oracle_sql.json"), "w"))
        for name, rows in [("tpch_q1", [[1, 2.5]]), ("tpch_q6", [[7, 1.0]]),
                           ("sim_topk_ivfpq", [[1, 0.9], [5, 0.8]])]:
            json.dump({"columns": ["a", "b"] if name != "sim_topk_ivfpq" else ["vec_id", "cos_sim"],
                       "rows": rows}, open(os.path.join(d, f"{name}.json"), "w"))
        truth = FakeTruth({"q1": (["b", "a"], [(2.5, 1)]), "q6": (["a", "b"], [(7, 2.0)]),
                           "topk": (["vec_id", "cos_sim"], [(1, 0.9), (2, 0.85), (3, 0.8), (4, 0.7)])})
        ops = [{"name": "tpch_q1", "ms": 1.0, "error": None, "first": True},
               {"name": "tpch_q1", "ms": 1.0, "error": None, "same_as_first": False},
               {"name": "tpch_q6", "ms": 1.0, "error": None, "first": True},
               {"name": "sim_topk_ivfpq", "ms": 1.0, "error": None, "first": True},
               {"name": "tpch_q1", "ms": 1.0, "error": "boom"}]
        recall, _ = checks.check_named(ops, d, truth)
        self.assertEqual([o["ok"] for o in ops], [True, False, False, False, False])
        self.assertEqual(recall, {"sim_topk_ivfpq": 0.25})


class TemplateSource(unittest.TestCase):
    FILES = ["30", "aqp_20", "groupby_10", "calendar_24", "multior_10", "rollup_8"]

    def test_templates_are_the_committed_query_lines(self):
        wl = os.path.join(ROOT, "workloads")
        if not os.path.isdir(wl):
            self.skipTest("no workloads directory")
        committed = []
        for f in self.FILES:
            with open(os.path.join(wl, f"testdata_{f}.sql")) as fh:
                committed += [l.strip().rstrip(";") for l in fh if l.strip() and not l.startswith("--")]
        with open(inputs.TEMPLATES_PATH) as fh:
            declined = [l[len("-- declined: "):].strip().rstrip(";") for l in fh
                        if l.startswith("-- declined: ")]
        self.assertEqual(len(declined), 1)
        self.assertEqual(sorted(inputs.templates() + declined), sorted(committed))


class MetricNames(unittest.TestCase):
    def test_benchmark_json_matches_the_metric_lists(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual(metrics.validate(bench), [])
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         ["aqp_fold", "olap_exact", "corpus_dedup"])

    def test_charset(self):
        for good in ("setup_s", "ext.dedup_near.ms", "9lives", "a-b.c_d"):
            self.assertRegex(good, metrics.NAME_RE)
        for bad in ("_x", ".x", "a b", "a/b", "x" * 65, ""):
            self.assertIsNone(metrics.NAME_RE.match(bad), bad)
        for unit in ("ms", "1/s", "%", "count"):
            self.assertRegex(unit, metrics.UNIT_RE)


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in ("aqp_fold", "olap_exact", "corpus_dedup"):
            self.assertEqual(inputs.make(w, 7, 5), inputs.make(w, 7, 5))
        self.assertNotEqual(inputs.make("aqp_fold", 7, 5)["stream"],
                            inputs.make("aqp_fold", 8, 5)["stream"])

    def test_aqp_stream_is_whole_rounds_of_every_class(self):
        inp = inputs.make("aqp_fold", 3, 5)
        tpl = inputs.templates()
        self.assertEqual(inp["unit"], len(inp["stream"]))
        self.assertEqual(inp["round"], len(tpl))
        self.assertEqual(len(inp["stream"]), 5 * len(tpl))
        def shape(sql):  # the text with its constants blanked out
            return re.sub(r"'[\d-]+'|\b\d+(\.\d+)?\b", "?", sql)
        want = sorted(shape(inputs.instantiate(t, random.Random(0))) for t in tpl)
        for r in range(0, len(inp["stream"]), len(tpl)):
            self.assertEqual(sorted(shape(q) for q in inp["stream"][r:r + len(tpl)]), want)

    def test_aqp_stream_never_repeats_a_text_or_a_warmup_query(self):
        inp = inputs.make("aqp_fold", 3, 10)
        self.assertEqual(len(set(inp["stream"])), len(inp["stream"]))
        self.assertFalse(set(inp["stream"]) & set(inp["warmup"]))

    def test_constants_are_redrawn_inside_their_domains_in_committed_order(self):
        rng = random.Random(0)
        tpl = ("SELECT COUNT(*) FROM lineitem l WHERE (l.l_shipdate < DATE '1994-01-01' OR "
               "l.l_shipdate >= DATE '1997-01-01') AND l.l_quantity BETWEEN 10 AND 30")
        for _ in range(50):
            sql = inputs.instantiate(tpl, rng)
            d0, d1 = re.findall(r"DATE '(\d{4}-\d{2}-\d{2})'", sql)
            self.assertTrue("1995-01-02" <= d0 < d1 <= "2001-11-04", sql)
            q0, q1 = map(float, re.search(r"BETWEEN ([\d.]+) AND ([\d.]+)", sql).groups())
            self.assertTrue(1 <= q0 < q1 <= 50, sql)
            self.assertEqual(re.sub(r"'[\d-]+'|\b\d+(\.\d+)?\b", "?", sql),
                             re.sub(r"'[\d-]+'|\b\d+(\.\d+)?\b", "?", tpl))

    def test_a_class_without_constants_gets_one_range_predicate(self):
        rng = random.Random(0)
        sql = inputs.instantiate("SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem "
                                 "GROUP BY ROLLUP(l_returnflag, l_linestatus) HAVING COUNT(*) > 10", rng)
        self.assertRegex(sql, r"FROM lineitem WHERE l_quantity < [\d.]+ GROUP BY ROLLUP\(.*\) HAVING COUNT\(\*\) > 10$")
        sql = inputs.instantiate("SELECT c_mktsegment, COUNT(*) FROM customer c,orders o "
                                 "WHERE c.c_custkey=o.o_custkey GROUP BY c_mktsegment", rng)
        self.assertRegex(sql, r"WHERE c_acctbal > [\d.]+ AND c\.c_custkey=o\.o_custkey GROUP BY")

    def test_every_class_instantiates(self):
        rng = random.Random(0)
        for tpl in inputs.templates():
            self.assertNotEqual(inputs.instantiate(tpl, rng), tpl)

    def test_streams_are_whole_passes(self):
        for w, ops in (("olap_exact", inputs.OLAP_OPS), ("corpus_dedup", inputs.CORPUS_OPS)):
            inp = inputs.make(w, 1, 5)
            self.assertEqual(inp["unit"] % len(ops), 0)
            self.assertEqual(len(inp["stream"]) % inp["unit"], 0)
            self.assertEqual(inp["stream"], ops * (len(inp["stream"]) // len(ops)))

    def test_dataset_is_byte_identical_per_seed(self):
        a, b, c = tempfile.mkdtemp(), tempfile.mkdtemp(), tempfile.mkdtemp()
        gen_data.generate(a, 0.001, 42)
        gen_data.generate(b, 0.001, 42)
        gen_data.generate(c, 0.001, 43)
        names = sorted(os.listdir(a))
        self.assertEqual(len(names), 10)
        self.assertEqual(filecmp.cmpfiles(a, b, names, shallow=False)[0], names)
        # region and nation are fixed lists; every other table is drawn
        self.assertEqual(filecmp.cmpfiles(a, c, names, shallow=False)[0],
                         ["nation.parquet", "region.parquet"])

    def test_a_table_does_not_depend_on_which_tables_are_written(self):
        a, b = tempfile.mkdtemp(), tempfile.mkdtemp()
        gen_data.generate(a, 0.001, 5)
        gen_data.generate(b, 0.001, 5, ["documents"])
        self.assertEqual(os.listdir(b), ["documents.parquet"])
        self.assertTrue(filecmp.cmp(os.path.join(a, "documents.parquet"),
                                    os.path.join(b, "documents.parquet"), shallow=False))


if __name__ == "__main__":
    unittest.main()
