"""Self-tests of the benchmark harness: seeded generation and the output
checkers. No engine is started. Run with

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

# orders-shaped rows: (o_orderkey, o_custkey, o_orderstatus, cents, o_orderpriority)
ORDERS = [(k, k * 7 % 1000, "OFP"[k % 3], 10_000 + k * 13 % 90_000,
           ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][k % 5])
          for k in range(20_000)]


class SeededGeneration(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(gen.statements(7), gen.statements(7))
        self.assertEqual(gen.kernel_order(7), gen.kernel_order(7))
        self.assertEqual(gen.lifecycle(7, ORDERS), gen.lifecycle(7, ORDERS))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(gen.statements(7), gen.statements(8))
        self.assertNotEqual(gen.lifecycle(7, ORDERS)[0], gen.lifecycle(8, ORDERS)[0])
        orders = {tuple(gen.kernel_order(s)) for s in range(1, 6)}
        self.assertGreater(len(orders), 1)

    def test_statement_mix_and_registration(self):
        st, ends = gen.statements(3)
        rounds = [st[a:b] for a, b in zip([len(gen.SOURCES)] + ends, ends)]
        mix = lambda r: sorted((s["kind"], s["src"]) for s in r)
        self.assertEqual(mix(rounds[1]), mix(rounds[2]))  # same work, seeded order
        self.assertNotEqual([s["kind"] for s in rounds[1]], [s["kind"] for s in rounds[2]])
        registered = set()
        for s in st:
            if s["kind"] == "ddl":
                registered.add(s["table"])
            elif "table" in s:
                self.assertIn(s["table"], registered, s["sql"])
        kinds = {s["kind"] for s in st}
        self.assertTrue({"ddl", "view", "schema", "select", "info_schema", "regex",
                         "history", "detail", "partitions", "url", "explain"} <= kinds)
        formats = {gen.SOURCES[s["src"]]["fmt"] for s in st if s["kind"] == "ddl"}
        self.assertEqual(formats, {"PARQUET", "CSV", "JSON", "ARROW", "DELTA"})

    def test_commit_mix(self):
        plan, expected = gen.lifecycle(5, ORDERS)
        kinds = [c["kind"] for c in plan["commits"]]
        self.assertEqual(kinds, gen.COMMITS)
        self.assertEqual(len(expected), len(kinds))
        self.assertEqual({"append", "merge", "delete", "update", "compact"}, set(kinds))


class Checkers(unittest.TestCase):
    def test_kernel_digest_rejects_altered_and_missing_row(self):
        cols = ["b", "a"]
        rows = [(1, "x"), (2, "y"), (3, "z")]
        good = check.digest(cols, list(reversed(rows)))  # order-insensitive
        self.assertEqual(good, check.digest(cols, rows))
        self.assertNotEqual(good, check.digest(cols, [(1, "x"), (2, "Y"), (3, "z")]))
        self.assertNotEqual(good, check.digest(cols, rows[:2]))

    def test_materialized_oracle_same_result(self):
        sql = ("WITH a AS (SELECT range AS x FROM range(10)),\n"
               "    b AS (SELECT x, CAST(x AS DOUBLE) / 2 AS h FROM a)\n"
               "SELECT count(*) AS n, sum(h) AS s FROM b JOIN a USING (x)")
        m = check.materialized(sql)
        self.assertIn("a AS MATERIALIZED (", m)
        self.assertIn("b AS MATERIALIZED (", m)
        self.assertIn("CAST(x AS DOUBLE)", m)
        con = duckdb.connect()
        n, d = check.digest(["n", "s"], con.sql(sql).fetchall())
        self.assertEqual(check.oracle_expectation(con, sql), {"n": n, "digest": d})

    def test_interactive_rejects_altered_and_missing_row(self):
        con = duckdb.connect()
        sources = {"s": {"duck": "(SELECT * FROM (VALUES (1, 'x'), (1, 'y'), (2, 'z')) v(a, b))",
                         "family": "t"}}
        chk = check.Interactive(con, "/nowhere", {}, sources)
        st = {"kind": "select", "table": "t1", "src": "s",
              "sql": "SELECT a, count(*) AS n FROM t1 GROUP BY a ORDER BY a"}
        self.assertIsNone(chk.check(st, {"rows": [[1, 2], [2, 1]], "n": 2}))
        self.assertIsNotNone(chk.check(st, {"rows": [[1, 2], [2, 5]], "n": 2}))
        self.assertIsNotNone(chk.check(st, {"rows": [[1, 2]], "n": 1}))

    def test_lifecycle_rejects_altered_and_missing_row(self):
        plan, expected = gen.lifecycle(2, ORDERS)
        model = gen.Model(r for r in ORDERS[:100])
        rows = dict(model.rows)
        good = model.digest()
        k = next(iter(rows))
        altered = gen.Model(list(rows.values())[1:] + [(k, rows[k][1], rows[k][2],
                                                       rows[k][3] + 1, rows[k][4])])
        missing = gen.Model(list(rows.values())[1:])
        self.assertNotEqual(good, altered.digest())
        self.assertNotEqual(good, missing.digest())
        read = {"kind": "read", "after": 0, "digest": expected[0]}
        self.assertIsNone(check.check_lifecycle(read, expected))
        bad = dict(read, digest=[expected[0][0] - 1] + expected[0][1:])
        self.assertIsNotNone(check.check_lifecycle(bad, expected))

    def test_model_matches_full_recount(self):
        plan, expected = gen.lifecycle(4, ORDERS)
        # replay the plan on a plain dict and recount from scratch
        table = {r[0]: r for r in ORDERS if r[0] % plan["base"]["mod"] == plan["base"]["res"]}
        for c, want in zip(plan["commits"], expected):
            if c["kind"] in ("append", "merge"):
                table.update((r[0], tuple(r)) for r in c["rows"])
            elif c["kind"] == "delete":
                table = {k: r for k, r in table.items() if not c["lo"] <= k < c["hi"]}
            elif c["kind"] == "update":
                for k, r in list(table.items()):
                    if c["lo"] <= k < c["hi"] and r[1] % c["mod"] == c["res"]:
                        table[k] = (k, r[1], "U", r[3] + c["add"], r[4])
            self.assertEqual(gen.Model(table.values()).digest(), want)


class Reporting(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        res = {"layers": {}, "ops": []}
        printed = run.per_layer(res, [])
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         {k: run.unit_of(k) for k in printed})

    def test_quantile(self):
        self.assertEqual(run.quantile([3, 1, 2], 0.5), 2)
        self.assertAlmostEqual(run.quantile([0, 10], 0.9), 9.0)

    def test_self_time_subtracts_children(self):
        # [id, parent, op, name, start_us, end_us]
        spans = [[1, 0, 0, "op.statement", 0, 10_000],
                 [2, 1, 0, "adtcontext.sql", 1_000, 4_000],
                 [3, 1, 0, "exec.collect", 4_000, 9_000],
                 [4, 3, 0, "plan.planning", 5_000, 6_000]]
        st = run.self_times(spans)
        self.assertAlmostEqual(st["harness"], 2.0)
        self.assertAlmostEqual(st["adtcontext"], 3.0)
        self.assertAlmostEqual(st["exec"], 4.0)
        self.assertAlmostEqual(st["plan"], 1.0)


if __name__ == "__main__":
    unittest.main()
