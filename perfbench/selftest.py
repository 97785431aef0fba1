"""Self-tests of the benchmark's own machinery; no JVM needed.

Usage (from the repository root): python3 perfbench/selftest.py

* the generators are byte-identical for a seed and differ across seeds;
* the pipeline check passes a result that matches the generated inputs and
  fails one whose final row, or whose expected input, is perturbed;
* the oracle check passes a matching query dump and fails a perturbed one.
"""
import glob
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        h.update(os.path.relpath(p, d).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class Tmp(unittest.TestCase):
    def setUp(self):
        os.makedirs(build.build_dir(), exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="selftest-", dir=build.build_dir())

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def path(self, *p):
        return os.path.join(self.tmp, *p)


class GeneratorTest(Tmp):
    def test_weather_is_a_function_of_the_seed(self):
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            gen.weather(self.path(name), seed, 12)
        self.assertEqual(digest(self.path("a")), digest(self.path("b")))
        self.assertNotEqual(digest(self.path("a")), digest(self.path("c")))

    def test_weather_shape(self):
        plan = gen.weather(self.path("w"), 3, 40)
        with open(self.path("w", "0.json")) as f:
            doc = json.load(f)
        self.assertEqual(len(doc["hourly"]["time"]), gen.HOURS)
        self.assertTrue(any(p["has_old"] for p in plan))
        self.assertTrue(any(p["replay"] >= 0 for p in plan))

    def test_tables_are_a_function_of_the_seed(self):
        for name, seed in (("a", 1), ("b", 1), ("c", 2)):
            gen.tables(self.path(name), 0.001, seed)
        self.assertEqual(digest(self.path("a")), digest(self.path("b")))
        self.assertNotEqual(digest(self.path("a")), digest(self.path("c")))

    def test_query_order_is_a_function_of_the_seed(self):
        names = [f"q{i}" for i in range(40)]
        self.assertEqual(gen.query_order(names, 5), gen.query_order(names, 5))
        self.assertNotEqual(gen.query_order(names, 5), gen.query_order(names, 6))
        self.assertEqual(sorted(gen.query_order(names, 5)), sorted(names))


class PipelineCheckTest(Tmp):
    """A hand-built harness result for one pass over the generated days."""

    def result(self, inputs):
        want = check.expected_rows(inputs)
        dates = sorted(want)
        rows = [[int(d[:4]), int(d[5:7]), int(d[8:]), *want[d]] for d in dates]
        with open(os.path.join(inputs, "days.tsv")) as f:
            plan = [line.split("\t") for line in f]
        replays = [p[1] for p in plan if int(p[3]) >= 0]
        ops = [{"kind": "day", "name": d, "pass": 1} for d in dates] + \
              [{"kind": "replay", "name": d, "pass": 1} for d in replays]
        return {"ops": ops, "errors": {}, "check": {
            "stage_rows_after_upsert": [0] * len(ops), "staged_rows": [1] * len(ops),
            "passes": [{"pass": 1, "dates": dates, "final": rows,
                        "silver_rows": {d: check.HOURS for d in dates},
                        "gold_rows": {d: 1 for d in dates}}]}}

    def setUp(self):
        super().setUp()
        gen.weather(self.path("in"), 11, 10)
        self.res = self.result(self.path("in"))

    def failed(self):
        return check.pipeline(self.res, self.path("in"))[0]

    def test_matching_result_passes(self):
        self.assertEqual(self.failed(), 0)

    def test_perturbed_final_row_fails(self):
        self.res["check"]["passes"][0]["final"][3][5] += 0.1
        self.assertEqual(self.failed(), 1)

    def test_perturbed_expected_input_fails(self):
        with open(self.path("in", "days.tsv")) as f:
            idx = next(line.split("\t")[0] for line in f if int(line.split("\t")[3]) < 0)
        p = self.path("in", f"{idx}.json")
        with open(p) as f:
            doc = json.load(f)
        temps = doc["hourly"]["temperature_2m"]
        i = max(range(len(temps)), key=lambda k: temps[k] if temps[k] is not None else -1e9)
        temps[i] += 5.0
        with open(p, "w") as f:
            json.dump(doc, f)
        self.assertEqual(self.failed(), 1)

    def test_stale_stage_rows_fail(self):
        self.res["check"]["stage_rows_after_upsert"][0] = 1
        self.assertEqual(self.failed(), 1)

    def test_missing_silver_rows_fail(self):
        d = self.res["check"]["passes"][0]["dates"][0]
        self.res["check"]["passes"][0]["silver_rows"][d] = 167
        self.assertEqual(self.failed(), 1)


class OracleCheckTest(Tmp):
    def setUp(self):
        super().setUp()
        gen.tables(self.path("data"), 0.001, 1)
        self.dump = self.path("dump")
        os.makedirs(os.path.join(self.dump, "qx"))
        with open(os.path.join(self.dump, "oracle_sql.json"), "w") as f:
            json.dump({"qx": "SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n "
                             "FROM nation GROUP BY n_regionkey"}, f)
        self.out = pd.DataFrame({"n_regionkey": pd.Series(range(5), dtype="int32"),
                                 "n": pd.Series([5] * 5, dtype="int64")})

    def write(self, cache=None):
        self.out.to_parquet(os.path.join(self.dump, "qx", "part-0.parquet"))
        return check.oracle_failures(self.path("data"), self.dump, cache)

    def test_matching_output_passes(self):
        self.assertEqual(self.write(), {})

    def test_perturbed_output_fails(self):
        self.out.loc[2, "n"] = 6
        self.assertEqual(list(self.write()), ["qx"])

    def test_cached_oracle_answers_still_catch_a_perturbed_output(self):
        cache = self.path("cache")
        self.assertEqual(self.write(cache), {})
        self.assertEqual(len(os.listdir(cache)), 1)
        self.out.loc[2, "n"] = 6
        self.assertEqual(list(self.write(cache)), ["qx"])

    def test_perturbed_output_counts_as_failed_ops(self):
        self.out.loc[2, "n"] = 6
        self.write()
        res = {"ops": [{"kind": "query", "name": "qx"}, {"kind": "query", "name": "qx"},
                       {"kind": "query", "name": "qy"}],
               "errors": {}, "check": {"without_oracle": []}}
        self.assertEqual(check.queries(res, self.path("data"), self.dump)[:2], (2, 3))


if __name__ == "__main__":
    os.chdir(os.path.join(HERE, ".."))
    unittest.main()
