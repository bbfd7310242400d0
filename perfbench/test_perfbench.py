#!/usr/bin/env python3
"""Tests of the benchmark itself, run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The generator test takes seconds after the build; the corruption tests run
one corpus build and one bill match (about a minute and a half).
"""
import json
import os
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402


def digest(workload, seed):
    classes, jars = build.ensure()
    out = subprocess.run(
        ["java", "-XX:-UsePerfData", "-cp", f"{classes}{os.pathsep}{jars / '*'}",
         "perfbench.CorpusGen",
         workload, str(seed)],
        check=True, capture_output=True, text=True).stdout
    return out.strip().splitlines()[-1]


def run(*args):
    res = subprocess.run([sys.executable, str(build.ROOT / "perfbench" / "run.py"), *args],
                         cwd=build.ROOT, capture_output=True, text=True)
    return res.returncode, json.loads(res.stdout.strip().splitlines()[-1])


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_digest_other_seed_other_digest(self):
        for workload in ("billmatch-kmeans", "corpus-build"):
            first = digest(workload, 7)
            self.assertRegex(first, "^[0-9a-f]{64}$")
            self.assertEqual(first, digest(workload, 7))
            self.assertNotEqual(first, digest(workload, 8))


class CorruptedOutputTest(unittest.TestCase):
    """A corrupted output is a failed call: reported, and never timed."""

    def check_corrupt(self, workload):
        code, result = run("--workload", workload, "--seed", "3", "--seconds", "1",
                           "--trace", "0", "--corrupt")
        self.assertEqual(code, 1)
        self.assertFalse(result["correct"])
        self.assertEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 1)
        self.assertEqual(result["metrics"], {})  # its time was not banked

    def test_swapped_top_k_rows(self):
        self.check_corrupt("billmatch-kmeans")

    def test_repeated_corpus_row(self):
        self.check_corrupt("corpus-build")


if __name__ == "__main__":
    unittest.main()
