#!/usr/bin/env python3
"""Tests of the benchmark's input generator.

    python3 perfbench/test_gen.py

The same seed must give the same tables, byte for byte, and the tables
must pass the program's own fixture-contract check
(`graft.sources.Tables.assertFixtureContract`) with the column types of
the sf0.1 test fixtures.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

TMP = os.path.join(run.WORK, "test")
# assertFixtureContract of the sf0.1 test fixtures
FIXTURE_CONTRACT = {
    "region": "r_regionkey:int,r_name:string",
    "nation": "n_nationkey:int,n_name:string,n_regionkey:int",
    "customer": "c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double,"
                "c_mktsegment:string",
    "supplier": "s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double",
    "part": "p_partkey:bigint,p_name:string,p_brand:string,p_type:string,p_size:int,"
            "p_retailprice:double",
    "orders": "o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,"
              "o_totalprice:double,o_orderdate:timestamp_ntz,o_orderpriority:string",
    "lineitem": "l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int,"
                "l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double,"
                "l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz",
    "events": "event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string,"
              "value:double,props:string",
    "documents": "doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint",
    "embeddings": "vec_id:bigint,embedding:array<float>,label:int",
}


class GenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(TMP, ignore_errors=True)
        base = gen.base_tables()
        cls.scaled = gen.scale_out(base, 2)
        for name, seed in (("a", 5), ("b", 5), ("c", 6)):
            gen.write(cls.scaled, os.path.join(TMP, name), seed=seed, parts=4)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(TMP, ignore_errors=True)

    def test_same_seed_same_tables(self):
        self.assertEqual(gen.digest(os.path.join(TMP, "a")),
                         gen.digest(os.path.join(TMP, "b")))

    def test_seed_changes_layout_not_rows(self):
        a, c = gen.digest(os.path.join(TMP, "a")), gen.digest(os.path.join(TMP, "c"))
        self.assertNotEqual(a["lineitem"], c["lineitem"])
        self.assertEqual(a["region"], c["region"])

    def test_scaled_joins_stay_valid(self):
        t = {n: self.scaled[n] for n in ("customer", "part", "orders", "lineitem")}

        def keys(table, col):
            return set(t[table][col].to_pylist())
        orders = keys("orders", "o_orderkey")
        self.assertEqual(len(orders), t["orders"].num_rows)
        self.assertLessEqual(keys("lineitem", "l_orderkey"), orders)
        self.assertLessEqual(keys("lineitem", "l_partkey"), keys("part", "p_partkey"))
        self.assertLessEqual(keys("orders", "o_custkey"), keys("customer", "c_custkey"))

    def test_fixture_contract(self):
        cp = run.build()
        cmd = ["java", *[a for p in run.JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
               "-cp", cp, "perfbench.Contract", os.path.join(TMP, "a")]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        self.assertEqual(json.loads(out.stdout.strip().splitlines()[-1]), FIXTURE_CONTRACT)


if __name__ == "__main__":
    unittest.main()
