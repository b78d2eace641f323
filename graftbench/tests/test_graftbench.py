"""Tests of the graft benchmark. Each starts Spark JVMs; together they take
about three minutes. Run from the repository root:

  python3 -m unittest discover -s graftbench/tests -v
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402  (graftbench/run.py)

OUT = os.path.abspath(os.path.join(".bench_out", "tests"))


def bench(workload, seed):
    """Runs the benchmark once; returns (result, output dir)."""
    p = subprocess.run([sys.executable, "graftbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "0"],
                       capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-2000:])
    return (json.loads(p.stdout.splitlines()[-1]),
            os.path.join(".bench_out", workload, f"seed{seed}-trace0"))


def read_tsv(path):
    with open(path) as f:
        return [line.rstrip("\n").split("\t") for line in f]


class SinkFidelity(unittest.TestCase):
    def test_noop_sink_runs_verify_plan_and_keeps_what_count_prunes(self):
        classes = run.build()
        scratch = os.path.join(OUT, "fidelity")
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(os.path.join(scratch, "tmp"))
        p = subprocess.run(run.java_command(classes, os.path.join(scratch, "tmp"), "graftbench.Fidelity",
                                            [run.testdata(), scratch]),
                           capture_output=True, text=True, timeout=600)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])
        self.assertEqual(p.stdout.count("PASS"), 6, p.stdout)


class Seeds(unittest.TestCase):
    def test_two_seeds_run_the_same_keys_with_identical_fingerprints(self):
        (r1, d1), (r2, d2) = bench("relational", 1), bench("relational", 2)
        self.assertTrue(r1["correct"] and r2["correct"])
        p1, p2 = read_tsv(os.path.join(d1, "passes.tsv")), read_tsv(os.path.join(d2, "passes.tsv"))
        keys = sorted(p1[0][1].split(","))
        for passes in (p1, p2):
            for _, order in passes:
                self.assertEqual(sorted(order.split(",")), keys)
        self.assertNotEqual([o for _, o in p1], [o for _, o in p2])
        self.assertEqual(read_tsv(os.path.join(d1, "fingerprints.tsv")),
                         read_tsv(os.path.join(d2, "fingerprints.tsv")))


class BareDirectory(unittest.TestCase):
    def test_fails_without_printing_a_result(self):
        bare = os.path.join(OUT, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy("BENCHMARK.json", bare)
        shutil.copytree("graftbench", os.path.join(bare, "graftbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        with open("BENCHMARK.json") as f:
            cmd = json.load(f)["command"]
        p = subprocess.run(cmd + ["--workload", "relational", "--seed", "1",
                                  "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertFalse([l for l in p.stdout.splitlines() if l.startswith("{")])


if __name__ == "__main__":
    unittest.main()
