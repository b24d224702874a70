"""Determinism self-tests for the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

Each test runs the benchmark itself (perfbench/run.py), so the first one
also builds it. Checked:
  * the same seed generates identical inputs and a different seed
    different inputs (run.py prints the input digest: the bytes of every
    JSON file and the rows of every parquet part);
  * the contention-immune counts of a traced run -- Spark jobs, stages,
    tasks and checkpoints, rows written per layer and shuffle bytes per
    layer -- repeat exactly across two runs with the same seed.
Timings are not compared: they move with the host.
"""
import json
import os
import re
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "run.py")


def counted(name):
    """Whether a per-layer metric is a count that must repeat exactly."""
    return (name.endswith(".rows_out") or name.endswith(".shuffle_mb") or
            name in ("spark.jobs", "spark.stages", "spark.tasks", "spark.checkpoints"))


def run(workload, seed):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                        "--seconds", "1", "--trace", "1"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise AssertionError(f"{workload} seed {seed} failed:\n{p.stdout[-3000:]}\n{p.stderr[-3000:]}")
    digest = re.search(r"input_digest: ([0-9a-f]+)", p.stdout).group(1)
    return digest, json.loads(p.stdout.strip().splitlines()[-1])["metrics"]


class Determinism(unittest.TestCase):
    def check(self, workload):
        d1, m1 = run(workload, 11)
        d2, m2 = run(workload, 11)
        d3, _ = run(workload, 12)
        self.assertEqual(d1, d2, "same seed, different inputs")
        self.assertNotEqual(d1, d3, "different seeds, same inputs")
        for name in sorted(m1):
            if counted(name):
                self.assertEqual(m1[name]["value"], m2[name]["value"], f"{workload} {name}")

    def test_medallion(self):
        self.check("medallion")

    def test_curation(self):
        self.check("curation")


if __name__ == "__main__":
    unittest.main()
