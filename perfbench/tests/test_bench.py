"""Tests of the benchmark itself.

Run from the root of a checkout (each test starts one or two benchmark
runs of about a minute):

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
SCRATCH = os.path.join(ROOT, ".bench_build", "tests")

# Counts that must repeat exactly from one traced pass to the next.
COUNTS = ("scheduler.jobs", "scheduler.stages", "scheduler.one_task_stages",
          "scheduler.tasks", "queries.construct_jobs")
# On `construct` d2's candidate loop may run a few more or fewer jobs from
# pass to pass; counts stay within this share.
CONSTRUCT_TOLERANCE = 0.10


def read_json(path):
    with open(path) as fh:
        return json.load(fh)


def bench(*args, cwd=ROOT, script=RUN):
    proc = subprocess.run([sys.executable, script, *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    m = re.search(r"record: (\S+)", proc.stderr)
    record = read_json(m.group(1)) if m else None
    return proc, result, record


def traced_counts(record):
    return [{k: p["layers"][k] for k in COUNTS} for p in record["passes"] if p["traced"]]


class CountsRepeat(unittest.TestCase):
    def test_analytics_counts_repeat_exactly(self):
        _, result, record = bench("--workload", "analytics", "--seed", "5",
                                  "--seconds", "1", "--trace", "1")
        self.assertTrue(result["correct"])
        counts = traced_counts(record)
        self.assertGreaterEqual(len(counts), 2)
        for c in counts[1:]:
            self.assertEqual(c, counts[0])

    def test_construct_counts_repeat_within_tolerance(self):
        _, result, record = bench("--workload", "construct", "--seed", "5",
                                  "--seconds", "1", "--trace", "1")
        self.assertTrue(result["correct"])
        counts = traced_counts(record)
        self.assertGreaterEqual(len(counts), 2)
        for c in counts[1:]:
            for k in COUNTS:
                self.assertLessEqual(abs(c[k] - counts[0][k]),
                                     CONSTRUCT_TOLERANCE * counts[0][k], k)


class OutputCheck(unittest.TestCase):
    def test_wrong_reference_digest_fails_the_run(self):
        os.makedirs(SCRATCH, exist_ok=True)
        refs = read_json(os.path.join(ROOT, "perfbench", "refs", "sf0.01.json"))
        refs["digests"]["d2_ngram_jaccard"] = "0:0000000000000000"
        path = os.path.join(SCRATCH, "wrong_refs.json")
        with open(path, "w") as fh:
            json.dump(refs, fh)
        _, result, record = bench("--workload", "construct", "--seed", "5",
                                  "--seconds", "1", "--trace", "0", "--refs", path)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"] / result["attempted"], 0)
        self.assertEqual({f["query"] for f in record["failures"]}, {"d2_ngram_jaccard"})

    def test_refuses_to_run_without_the_program(self):
        bare = os.path.join(SCRATCH, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        proc, result, _ = bench("--workload", "analytics", "--seed", "1", "--seconds", "1",
                                "--trace", "0", cwd=bare,
                                script=os.path.join(bare, "perfbench", "run.py"))
        self.assertNotEqual(proc.returncode, 0)
        self.assertEqual(proc.stdout.strip(), "")
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
