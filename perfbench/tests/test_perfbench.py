"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The listener test builds the program first (about half a minute when the
build is stale) and starts a small local Spark.
"""
import hashlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def scratch():
    os.makedirs(build.BUILD, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=build.BUILD, prefix="test-")


def tree_digest(path):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()


def reply_digest(rows):
    """The JVM's digest of a JSON reply (`Canon.ofJson`), for the tests."""
    total = 0
    for row in rows:
        text = check.SEP.join(f"{k}={str(v).lower() if isinstance(v, bool) else v}"
                              for k, v in sorted(row.items()) if v is not None)
        total += int(hashlib.md5(text.encode()).hexdigest()[:8], 16)
    return {"rows": len(rows), "hash": total}


class StatsTest(unittest.TestCase):
    def test_percentile_is_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile(v, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_percentile_needs_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertTrue(stats.supported(100, 90))
        self.assertFalse(stats.supported(99, 90))
        self.assertTrue(stats.supported(1000, 99))
        self.assertFalse(stats.supported(999, 99))
        self.assertFalse(stats.supported(0, 50))

    def test_quartile_spread(self):
        v = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, q2, q3 = statistics.quantiles(v, n=4)
        self.assertAlmostEqual(stats.quartile_spread(v), (q3 - q1) / q2)

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "op", "op": "a", "start_ms": 0, "end_ms": 10},
            {"id": 2, "parent": 1, "name": "x", "op": "a", "start_ms": 1, "end_ms": 3},
            {"id": 3, "parent": 1, "name": "x", "op": "a", "start_ms": 2, "end_ms": 5},
            {"id": 4, "parent": 1, "name": "y", "op": "a", "start_ms": 8, "end_ms": 12},
        ]
        self.assertEqual(stats.self_times(spans)[1], 4)
        means = stats.layer_means(spans)
        self.assertEqual(means["x"], 5)  # both x spans of op a
        self.assertEqual(means["op"], 4)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for workload in ["serve_rules", "batch_rules", "pipeline_heavy"]:
            with scratch() as d:
                gen.generate(workload, 7, os.path.join(d, "a"))
                gen.generate(workload, 7, os.path.join(d, "b"))
                gen.generate(workload, 8, os.path.join(d, "c"))
                a, b, c = (tree_digest(os.path.join(d, x)) for x in "abc")
                self.assertEqual(a, b, workload)
                self.assertNotEqual(a, c, workload)

    def test_serve_mix_is_fixed_by_quota(self):
        with scratch() as d:
            mix = gen.generate("serve_rules", 3, d)
            reqs = [json.loads(l) for l in open(os.path.join(d, "requests.jsonl"))]
        self.assertEqual(mix["share_invalid"], 0.05)
        self.assertEqual(mix["share_aggregating"], 0.25)
        self.assertTrue(all(1 <= r["rows"] <= gen.MAX_ROWS for r in reqs))
        ops = {c["Operator"] for r in reqs if r["shape"] == "filter"
               for c in json.loads(r["rule"])["Conditions"]["Conditions"]}
        self.assertEqual(ops, set(gen.FILTER_OPS))


class CheckTest(unittest.TestCase):
    USERS = [
        {"Id": "u0", "NationalIdNumber": "12345678901", "LoginName": "alice1", "RegNo": "0000042",
         "Title": "Manager", "CompanyCode": "C1", "IsActive": True},
        {"Id": "u1", "NationalIdNumber": None, "LoginName": "bob2", "RegNo": "7",
         "Title": "", "CompanyCode": "C1", "IsActive": False},
        {"Id": "u2", "NationalIdNumber": "1234a678901", "LoginName": None, "RegNo": "X9",
         "Title": None, "CompanyCode": "C2", "IsActive": None},
    ]

    def expected_and_rows(self, rule):
        cols = sorted(gen.USER_COLS)
        sql = gen.rule_sql(rule, "src", cols, gen.USER_KINDS)
        with scratch() as d:
            with open(os.path.join(d, "requests.jsonl"), "w") as f:
                f.write(json.dumps({"id": 0, "shape": "x", "rows": 3, "rule": json.dumps(rule),
                                    "users": json.dumps(self.USERS), "sql": sql}) + "\n")
            expected = check.expect_serve(d)[0]
        import duckdb
        import pyarrow as pa
        con = duckdb.connect()
        con.register("src", pa.Table.from_pylist(self.USERS))
        rel = con.sql(sql)
        rows = [dict(zip(rel.columns, r)) for r in rel.fetchall()]
        return expected, rows

    def test_right_reply_passes_and_wrong_replies_fail(self):
        rule = {"Conditions": {"LogicalOperator": "OR", "Conditions": [
            {"Property": "RegNo", "Operator": "GreaterThan", "Value": 10},
            {"Property": "Title", "Operator": "NullOrEmpty", "Value": None}]}}
        expected, rows = self.expected_and_rows(rule)
        self.assertEqual(expected["rows"], 3)
        right = {"status": 200, **reply_digest(rows)}
        self.assertIsNone(check.mismatch(expected, right))
        wrong_value = [dict(r) for r in rows]
        wrong_value[0]["RegNo"] = "43"
        self.assertIsNotNone(check.mismatch(expected, {"status": 200, **reply_digest(wrong_value)}))
        self.assertIsNotNone(check.mismatch(expected, {"status": 200, **reply_digest(rows[1:])}))
        self.assertIsNotNone(check.mismatch(expected, {"status": 400, "rows": None, "hash": None,
                                                       "error": "Bad"}))

    def test_argmax_mirrors_numeric_order_of_number_like_strings(self):
        rule = {"GroupBy": ["CompanyCode"],
                "Aggregation": {"AggregateProperty": "RegNo", "AggregateFunction": "Max"}}
        _, rows = self.expected_and_rows(rule)
        self.assertEqual(sorted(r["Id"] for r in rows), ["u0", "u2"])  # "0000042" > "7"

    def test_invalid_rule_expects_400(self):
        with scratch() as d:
            with open(os.path.join(d, "requests.jsonl"), "w") as f:
                f.write(json.dumps({"id": 0, "shape": "invalid", "rows": 1, "rule": "{}",
                                    "users": json.dumps(self.USERS[:1]), "sql": None}) + "\n")
            expected = check.expect_serve(d)[0]
        self.assertIsNone(check.mismatch(expected, {"status": 400, "rows": None, "hash": None}))
        self.assertIsNotNone(check.mismatch(expected, {"status": 200, "rows": 0, "hash": 0}))


class ListenerTest(unittest.TestCase):
    def test_op_with_two_jobs_is_charged_two_jobs(self):
        build.build()
        with scratch() as d:
            r = subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData"] + build.ADD_OPENS +
                               ["-Djava.io.tmpdir=" + d, "-cp", build.runtime_classpath(),
                                "perfbench.SelfTest", d], capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])
        self.assertIn("selftest ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
