"""Tests of the benchmark's own pieces.

    python3 -m unittest graftbench/test_graftbench.py

The generator and output-format tests take seconds. The pass-protocol
test runs the recsys workload once, traced (about a minute after the
build); set GRAFTBENCH_SKIP_RUN=1 to skip it.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest
import unittest.mock

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import lake  # noqa: E402
import run  # noqa: E402

SOURCE = os.path.join(run.data_dir(), "sf0.001")


def table_digest(con, path):
    """Order-sensitive digest of a parquet file's rows."""
    return con.execute(
        f"SELECT count(*), md5(string_agg(CAST(t AS VARCHAR), '\n')) "
        f"FROM (SELECT t FROM read_parquet('{path}') t)").fetchone()


@unittest.skipUnless(os.path.isdir(SOURCE), f"source data {SOURCE} not present")
class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.lakes = {}
        for name, seed in [("a", 7), ("b", 7), ("c", 8)]:
            out = os.path.join(cls.tmp.name, name)
            lake.generate(SOURCE, out, seed)
            cls.lakes[name] = out
        cls.con = duckdb.connect()

    @classmethod
    def tearDownClass(cls):
        cls.con.close()
        cls.tmp.cleanup()

    def test_same_seed_same_lake(self):
        for t in lake.TABLES:
            a = table_digest(self.con, f"{self.lakes['a']}/{t}.parquet")
            b = table_digest(self.con, f"{self.lakes['b']}/{t}.parquet")
            self.assertEqual(a, b, t)

    def test_other_seed_other_labels(self):
        a = table_digest(self.con, f"{self.lakes['a']}/customer.parquet")
        c = table_digest(self.con, f"{self.lakes['c']}/customer.parquet")
        self.assertNotEqual(a, c)

    def test_row_counts_and_key_ranges_kept(self):
        for name, _, refs in lake.DOMAINS:
            union = " UNION ".join(
                f"SELECT {c} AS k FROM read_parquet('{{0}}/{t}.parquet')" for t, c in refs)
            q = f"SELECT min(k), max(k), count(DISTINCT k) FROM ({union})"
            src = self.con.execute(q.format(SOURCE)).fetchone()
            self.assertEqual(src, self.con.execute(q.format(self.lakes["a"])).fetchone(), name)
            for t, col in refs:
                q = (f"SELECT count(*), count({col}), count(DISTINCT {col}), "
                     f"min({col}) >= {src[0]} AND max({col}) <= {src[1]} "
                     f"FROM read_parquet('{{}}/{t}.parquet')")
                want = self.con.execute(q.format(SOURCE)).fetchone()
                self.assertEqual(want, self.con.execute(q.format(self.lakes["a"])).fetchone(),
                                 f"{name}: {t}.{col}")

    def test_references_stay_consistent(self):
        # Every order line still joins to its order, every order to its
        # customer, and the join fan-out is unchanged.
        q = ("SELECT count(*) FROM read_parquet('{0}/lineitem.parquet') l "
             "JOIN read_parquet('{0}/orders.parquet') o ON l_orderkey = o_orderkey "
             "JOIN read_parquet('{0}/customer.parquet') c ON o_custkey = c_custkey "
             "JOIN read_parquet('{0}/part.parquet') p ON l_partkey = p_partkey")
        self.assertEqual(self.con.execute(q.format(SOURCE)).fetchone(),
                         self.con.execute(q.format(self.lakes["a"])).fetchone())

    def test_values_other_than_keys_unchanged(self):
        q = ("SELECT sum(CAST(l_extendedprice AS DECIMAL(18, 2))), sum(l_quantity), "
             "count(DISTINCT l_shipdate), "
             "(SELECT count(DISTINCT text) FROM read_parquet('{0}/documents.parquet')) "
             "FROM read_parquet('{0}/lineitem.parquet')")
        self.assertEqual(self.con.execute(q.format(SOURCE)).fetchone(),
                         self.con.execute(q.format(self.lakes["a"])).fetchone())


class KeyMapTest(unittest.TestCase):
    DOMAINS = [("user", None, [("events", "user_id")]),
               ("customer", "user", [("customer", "c_custkey")])]

    def key_maps(self, user_ids, custkeys):
        with tempfile.TemporaryDirectory() as d:
            con = duckdb.connect()
            for t, c, ids in [("events", "user_id", user_ids),
                              ("customer", "c_custkey", custkeys)]:
                con.execute(f"COPY (SELECT unnest(?::BIGINT[]) AS {c}) "
                            f"TO '{d}/{t}.parquet' (FORMAT PARQUET)", [ids])
            with unittest.mock.patch.object(lake, "DOMAINS", self.DOMAINS):
                return lake.key_maps(con, d, 3)

    def test_inner_domain_ids_stay_aligned(self):
        maps = self.key_maps([2, 4], [1, 2, 3, 4, 5])
        self.assertEqual({v: maps["customer"][v] for v in (2, 4)}, maps["user"])
        self.assertEqual(set(maps["customer"].values()), {1, 2, 3, 4, 5})

    def test_inner_id_outside_the_domain_is_refused(self):
        with self.assertRaises(ValueError):
            self.key_maps([2, 9], [1, 2, 3, 4, 5])


class OutputTest(unittest.TestCase):
    HARNESS = {"setup_s": 9.5, "heap_live_mb": 310.0, "passes": [
        {"kind": "warmup", "wall_s": 9.0},
        {"kind": "rebuild", "wall_s": 4.0},
        {"kind": "warm", "wall_s": 2.0},
        {"kind": "rebuild", "wall_s": 5.0},
        {"kind": "warm", "wall_s": 2.5},
        {"kind": "warm", "wall_s": 9.0}]}

    def test_end_to_end_names_every_metric_with_its_unit(self):
        values = run.end_to_end(self.HARNESS)
        block = run.metric_block(values, run.units("end_to_end"))
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual(set(block), {m["name"] for m in spec["end_to_end"]})
        for m in spec["end_to_end"]:
            self.assertEqual(block[m["name"]]["unit"], m["unit"])
        self.assertEqual(block["setup_s"]["value"], 9.5)
        self.assertEqual(block["warm_s"]["value"], 2.5)      # median of warm passes
        self.assertEqual(block["rebuild_s"]["value"], 4.5)   # median of rebuild passes
        self.assertEqual(block["heap_peak_mb"]["value"], 310.0)

    def test_every_workload_is_declared(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))


@unittest.skipIf(os.environ.get("GRAFTBENCH_SKIP_RUN") == "1", "GRAFTBENCH_SKIP_RUN=1")
@unittest.skipUnless(os.path.isdir(SOURCE), f"source data {SOURCE} not present")
class PassProtocolTest(unittest.TestCase):
    def test_recsys_traced_run(self):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "recsys",
             "--seed", "1", "--seconds", "5", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], detail)
        m = result["metrics"]
        self.assertEqual(set(m), set(run.units("per_layer")))
        for name, unit in run.units("per_layer").items():
            self.assertEqual(m[name]["unit"], unit)
        # Warm passes reuse every memoized artifact; rebuild passes build them.
        self.assertEqual(m["memo.builds"]["value"], 0)
        self.assertGreater(m["rebuild.memo.builds"]["value"], 0)
        builds = [(p["kind"], p["memo_builds"]) for p in detail["passes"]]
        self.assertTrue(all(n == 0 for kind, n in builds if kind in ("warm", "warm_untraced")),
                        builds)
        self.assertTrue(all(n > 0 for kind, n in builds if kind == "rebuild"), builds)
        self.assertTrue(os.path.exists(os.path.join(ROOT, detail["trace_file"])))


if __name__ == "__main__":
    unittest.main()
