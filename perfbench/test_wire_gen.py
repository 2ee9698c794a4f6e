#!/usr/bin/env python3
"""The wire generator and the curate corpus are functions of the seed.

Run from the repository root:  python3 perfbench/test_wire_gen.py
(builds the program and harness first if the cached build is stale).
"""
import filecmp
import os
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import corpus  # noqa: E402
import run  # noqa: E402


def stage(classes, harness, jars, out, seed):
    cp = ":".join([classes, harness, os.path.join(run.HERE, "resources")] + jars)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xmx1g", "-cp", cp, "perfbench.Wire", out, str(seed)],
                   check=True, capture_output=True)
    return sorted(os.path.relpath(os.path.join(base, f), out)
                  for base, _, files in os.walk(out) for f in files)


class SeededInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.jars = run.spark_jars()
        cls.classes, cls.harness = run.build(cls.jars, time.monotonic() + 880)
        os.makedirs(run.BUILD, exist_ok=True)
        cls.tmp = tempfile.mkdtemp(prefix="wiregen-", dir=run.BUILD)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def test_same_seed_gives_byte_identical_wire_files(self):
        a, b, c = (os.path.join(self.tmp, d) for d in ("a", "b", "c"))
        files = stage(self.classes, self.harness, self.jars, a, 7)
        self.assertEqual(files, stage(self.classes, self.harness, self.jars, b, 7))
        self.assertTrue(any(f.endswith(".parquet") for f in files))
        for f in files:
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)
        stage(self.classes, self.harness, self.jars, c, 8)
        self.assertFalse(all(filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)
                             for f in files if f.endswith(".parquet")))

    def test_same_seed_gives_identical_corpus(self):
        a, b = os.path.join(self.tmp, "ca"), os.path.join(self.tmp, "cb")
        corpus.write(a, 3, 300, 100, 1000)
        corpus.write(b, 3, 300, 100, 1000)
        for name in ("documents", "embeddings", "events"):
            f = f"{name}.parquet"
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)


if __name__ == "__main__":
    unittest.main()
