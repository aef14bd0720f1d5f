"""perfbench's own tests: the percentile rule, span self time, generator
determinism, and that a wrong answer counts as a failure.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import re
import tempfile
import unittest
from pathlib import Path

import gen
import metrics
import run


def digest(d: Path):
    h = hashlib.sha256()
    for p in sorted(d.iterdir()):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 0.5), 50)
        self.assertEqual(metrics.percentile(xs, 0.9), 90)
        self.assertEqual(metrics.percentile([3.0], 0.9), 3.0)
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 0.5), 2)

    def test_sample_count_rule(self):
        # ten samples must lie beyond the percentile
        self.assertTrue(metrics.supported(100, 0.9))
        self.assertFalse(metrics.supported(99, 0.9))
        self.assertTrue(metrics.supported(20, 0.5))
        self.assertFalse(metrics.supported(19, 0.5))

    def window(self, pass_s, slow_pass=None):
        """Three passes over twelve operations, each pass taking `pass_s`
        wall and twice that in CPU; `slow_pass` runs 3x slower."""
        ops, passes = [], []
        for p in range(3):
            f = 3.0 if p == slow_pass else 1.0
            ops += [{"name": f"op{i}", "s": (1.0 + i / 10) * f}
                    for i in range(12)]
            passes.append({"wall_s": pass_s * f, "cpu_s": 2 * pass_s * f})
        return {"window": {"passes": passes, "ops": ops}}

    def test_end_to_end_flags_thin_tails(self):
        table, ok = metrics.end_to_end(self.window(10.0), 6.0)
        self.assertEqual(table["setup_s"], (6.0, "s"))
        self.assertAlmostEqual(table["ops_per_s"][0], 1.2)
        self.assertAlmostEqual(table["cpu_s_per_op"][0], 20.0 / 12)
        self.assertAlmostEqual(table["op_p50_s"][0], 1.5)
        self.assertAlmostEqual(table["op_p90_s"][0], 2.0)
        # twelve operations: too few beyond either percentile
        self.assertFalse(ok["op_p90_s"])
        self.assertFalse(ok["op_p50_s"])

    def test_one_slow_pass_moves_no_figure(self):
        steady, _ = metrics.end_to_end(self.window(10.0), 6.0)
        for p in range(3):
            slowed, _ = metrics.end_to_end(self.window(10.0, p), 6.0)
            self.assertEqual(slowed, steady)


class SelfTime(unittest.TestCase):
    def span(self, s, e):
        return {"start_us": s, "end_us": e}

    def test_overlapping_children_count_once(self):
        parent = self.span(0, 100)
        kids = [self.span(10, 40), self.span(30, 60), self.span(80, 90)]
        self.assertEqual(metrics.self_time(parent, kids), 100 - 50 - 10)

    def test_children_clipped_to_parent(self):
        parent = self.span(100, 200)
        kids = [self.span(50, 120), self.span(190, 300), self.span(300, 400)]
        self.assertEqual(metrics.self_time(parent, kids), 100 - 20 - 10)

    def test_nested_and_no_children(self):
        parent = self.span(0, 10)
        self.assertEqual(metrics.self_time(parent, []), 10)
        self.assertEqual(metrics.self_time(
            parent, [self.span(0, 10), self.span(2, 3)]), 0)


    def test_span_file_parents_and_self_time(self):
        result = {"trace": {
            "spans": [
                {"id": 1, "parent": -1, "name": "f", "start_us": 0,
                 "end_us": 1000},
                {"id": 2, "parent": 1, "name": "metadata", "start_us": 100,
                 "end_us": 700}],
            "ops": [{"span": 1, "jobs": [
                {"id": 5, "span": 2, "start_ms": 0.2, "end_ms": 0.4},
                {"id": 6, "span": 99, "start_ms": 0.8, "end_ms": 0.9}],
                "stages": [{"id": 9, "job": 5, "start_ms": 0.25,
                            "end_ms": 0.3}]}]}}
        by_id = {s["id"]: s for s in metrics.span_file(result)}
        self.assertEqual(by_id[1]["self_us"], 1000 - 600 - 100)
        self.assertEqual(by_id[2]["self_us"], 600 - 200)
        self.assertEqual(by_id["job-6"]["parent"], 1)  # escaped every call
        self.assertEqual(by_id["job-5"]["self_us"], 200 - 50)
        self.assertEqual(by_id["stage-9"]["kind"], "stage")


class Generators(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            t = Path(t)
            m1 = gen.gen_land_csv(t / "a", 7, 2, 300)
            m2 = gen.gen_land_csv(t / "b", 7, 2, 300)
            m3 = gen.gen_land_csv(t / "c", 8, 2, 300)
            self.assertEqual(digest(t / "a"), digest(t / "b"))
            self.assertNotEqual(digest(t / "a"), digest(t / "c"))
            strip = [{k: v for k, v in e.items() if k != "path"}
                     for e in m1]
            self.assertEqual(strip, [{k: v for k, v in e.items()
                                      if k != "path"} for e in m2])
            p1 = gen.gen_land_parquet(t / "pa", 7, 2, 300)
            gen.gen_land_parquet(t / "pb", 7, 2, 300)
            self.assertEqual(digest(t / "pa"), digest(t / "pb"))
            self.assertEqual(p1[0]["rows"], 300)
            self.assertGreater(p1[0]["bytes"], 0)

    def test_manifest_plants_every_reason_and_branch(self):
        with tempfile.TemporaryDirectory() as t:
            e = gen.gen_land_csv(Path(t), 3, 1, 300)[0]
        reasons = {d[3] for d in e["diffs"]}
        self.assertEqual(reasons, {"TYPE MISMATCH", "MISSING", "DEPRECATED"})
        types = {ty for _, ty in e["columns"]}
        self.assertEqual(types, {"bool", "int4", "int8", "float8", "date",
                                 "timestamp", "varchar(256)",
                                 "varchar(65535)", "notype"})
        self.assertEqual(len(e["column_ddl"]),
                         sum(d[3] == "MISSING" for d in e["diffs"]))


class WrongAnswerCounts(unittest.TestCase):
    def entry_and_op(self):
        with tempfile.TemporaryDirectory() as t:
            e = gen.gen_land_csv(Path(t), 5, 1, 200)[0]
        diffs = [list(d) for d in reversed(e["diffs"])]   # any row order
        out = {"metadata": [list(c) for c in e["columns"]],
               "table_ddl": e["table_ddl"], "diffs": diffs,
               "column_ddl": "\n".join(reversed(e["column_ddl"])) or None}
        return e, {"name": "f", "ok": True, "out": out}

    def test_right_answer_passes(self):
        e, op = self.entry_and_op()
        self.assertEqual(metrics.land_failures(op, e), [])

    def test_planted_wrong_answer_is_a_failure(self):
        e, good = self.entry_and_op()
        _, bad = self.entry_and_op()
        bad["out"]["metadata"][0][1] = "varchar(256)"     # wrong type
        _, err = self.entry_and_op()
        err = {"name": "f", "ok": False, "error": "boom"}
        ops = [good, bad, good, err]
        failed = metrics.count_failed(
            ops, lambda op: bool(metrics.land_failures(op, e)))
        self.assertEqual(failed, 2)
        self.assertEqual(failed / len(ops), 0.5)


class GateList(unittest.TestCase):
    def test_every_operator_module_has_a_query(self):
        rows = run.gate_list()
        modules = run.operator_modules(Path(run.HERE).parent)
        self.assertEqual(len(modules), 20)
        self.assertEqual({m for _, m, _ in rows} - {"core"}, set(modules))
        self.assertEqual(len({q for q, _, _ in rows}), len(rows))
        self.assertTrue(all(why for _, _, why in rows))

    def test_every_listed_query_is_declared(self):
        # the driver also refuses to start on an unknown name; this
        # catches it without a JVM
        src = (Path(run.HERE).parent / "src/main/scala/graft/SparkEntry.scala"
               ).read_text()
        body = src[src.index("def queries"):src.index("def oracleSql")]
        declared = set(re.findall(r'^\s*"(q\d+_\w+)"\s*->', body, re.M))
        self.assertEqual([q for q, _, _ in run.gate_list()
                          if q not in declared], [])


if __name__ == "__main__":
    unittest.main()
