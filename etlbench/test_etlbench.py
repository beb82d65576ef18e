"""The benchmark's own tests, at the tiny input size.

Run from the repository root:
    python3 -m unittest discover -s etlbench -p 'test_*.py'
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(*args, cwd=ROOT, script=RUN):
    p = subprocess.run([sys.executable, script, "--seconds", "1", *args], cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    return p.returncode, p.stdout.splitlines()


def result(*args):
    code, lines = run("--size", "tiny", *args)
    assert code == 0 and lines, f"run {args} exited {code}"
    return json.loads(lines[-1])


def digest(workload, seed):
    code, lines = run("--size", "tiny", "--workload", workload, "--seed", str(seed),
                      "--stage-only", "1")
    assert code == 0, f"staging {workload} exited {code}"
    return [l for l in lines if l.startswith("[etlbench] input digest")][-1]


class MetricsTest(unittest.TestCase):
    def check_metrics(self, res, spec):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(list(res["metrics"]), [m["name"] for m in spec])
        for m in spec:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(res["metrics"][m["name"]]["value"], (int, float))

    def test_every_end_to_end_metric_with_its_unit(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = result("--workload", w, "--seed", "5", "--trace", "0")
                self.check_metrics(res, SPEC["end_to_end"])
                for m in ("setup_s", "run_s", "op_p50_s", "op_tail_s"):
                    self.assertGreater(res["metrics"][m]["value"], 0, m)

    def test_every_per_layer_metric_with_its_unit(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = result("--workload", w, "--seed", "5", "--trace", "1")
                self.check_metrics(res, SPEC["per_layer"])
                self.assertGreater(res["metrics"]["bench.trace_overhead"]["value"], 0)
                self.assertGreater(res["metrics"]["spark.jobs"]["value"], 0)
                # the corpus layers are measured on analyst_queries' traced run
                if w == "analyst_queries":
                    self.assertGreater(res["metrics"]["state.fold_s"]["value"], 0)
                    self.assertGreater(res["metrics"]["web.gzip_mb_s"]["value"], 0)
                if w == "jobs_etl":
                    self.assertGreater(res["metrics"]["jobs.rows_out"]["value"], 0)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in ("jobs_etl", "analyst_queries", "corpus_ingest"):
            with self.subTest(workload=w):
                self.assertEqual(digest(w, 3), digest(w, 3))

    def test_other_seed_other_bytes(self):
        for w in ("jobs_etl", "corpus_ingest"):
            with self.subTest(workload=w):
                self.assertNotEqual(digest(w, 3), digest(w, 4))


class PlantedWrongAnswerTest(unittest.TestCase):
    def test_planted_wrong_answer_fails(self):
        for w in WORKLOADS + ["corpus_ingest"]:
            with self.subTest(workload=w):
                res = result("--workload", w, "--seed", "5", "--plant-wrong", "1")
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)


class BareDirectoryTest(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("target"))
            code, lines = run("--workload", WORKLOADS[0], cwd=d,
                              script=os.path.join(d, "etlbench", "run.py"))
            self.assertNotEqual(code, 0)
            self.assertFalse(any(l.startswith('{"correct"') for l in lines))


if __name__ == "__main__":
    unittest.main()
