#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 benchmark/test_benchmark.py

- The same seed gives identical input contents and another seed changes
  them (content checksums computed in DuckDB from the parquet).
- The md5 audit passes a hashed export write, catches a write without
  the hash, and a count() of the hashed plan indeed drops the hash.
- The summary line's percentile and unit helpers behave as documented.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

import duckdb  # noqa: E402


def checksum(table_dir: Path) -> tuple:
    files = sorted(str(f) for f in table_dir.glob("*.parquet"))
    listing = "[" + ",".join(f"'{f}'" for f in files) + "]"
    con = duckdb.connect()
    try:
        return con.execute(f"SELECT count(*), sum(hash(t)::HUGEINT) FROM read_parquet({listing}) t").fetchone()
    finally:
        con.close()


class SelfTest(unittest.TestCase):
    work: Path
    result: dict

    @classmethod
    def setUpClass(cls):
        build.build()
        cls.work = build.BUILD / "work" / f"selftest-{os.getpid()}"
        shutil.rmtree(cls.work, ignore_errors=True)
        (cls.work / "tmp").mkdir(parents=True)
        opens = [x for p in run.JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(cls.work / "tmp"),
                   SPARK_GRAFT_CHECKPOINT_DIR=str(cls.work / "tmp"))
        subprocess.run(["java", "-Xmx2g", "-XX:-UsePerfData", *opens,
                        f"-Djava.io.tmpdir={cls.work / 'tmp'}",
                        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                        "-cp", build.classpath(), "graftbench.SelfTest", str(cls.work),
                        str(cls.work / "result.json")],
                       check=True, env=env, cwd=str(cls.work),
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=600)
        cls.result = json.loads((cls.work / "result.json").read_text())

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def tables(self, seed: int, rep: int) -> dict:
        root = self.work / f"seed-{seed}-{rep}"  # <part>/<table>.parquet
        return {str(t.relative_to(root)): checksum(t) for t in sorted(root.glob("*/*.parquet"))}

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        first, again, other = self.tables(7, 0), self.tables(7, 1), self.tables(8, 0)
        self.assertEqual(len(first), 5)  # lineitem, events, changelog, documents, embeddings
        self.assertEqual(first, again)
        for name in first:
            self.assertNotEqual(first[name], other[name], name)

    def test_md5_audit(self):
        self.assertEqual(self.result["audited_writes"], 2)
        self.assertEqual(self.result["hashed_write_flagged"], 0)
        self.assertEqual(self.result["plain_write_flagged"], 1)
        self.assertFalse(self.result["count_keeps_md5"])


class Helpers(unittest.TestCase):
    def test_percentile(self):
        self.assertEqual(run.percentile([3.0], 90), 3.0)
        self.assertAlmostEqual(run.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 50), 3.0)
        self.assertAlmostEqual(run.percentile(list(range(11)), 90), 9.0)

    def test_per_layer_names_every_metric(self):
        m = run.per_layer({"layer": {"sinks.write_s": 1.5, "not.a_metric": 2.0}})
        self.assertEqual(list(m), [x["name"] for x in run.SPEC["per_layer"]])
        self.assertEqual(m["sinks.write_s"], {"value": 1.5, "unit": "s"})
        self.assertEqual(m["sinks.files"], {"value": 0.0, "unit": "count"})


if __name__ == "__main__":
    unittest.main()
