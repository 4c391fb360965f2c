"""Benchmark-side tests. From the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

`TracedCounts` runs every gated workload's traced run twice, which takes a
few minutes on a 4-core box; the other tests take seconds.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

ROOT = HERE.parent
# sizes drawn per record (chaptered bills, budget listings), not fixed
DRAWN = {"digest", "pages", "budget_bills"}


def benchmark_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def digest(workload: str, seed: int) -> dict:
    program, harness = build.build(ROOT)
    tmp = ROOT / build.STATE / "test" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        out = subprocess.run(
            ["java", "-cp", f"{harness}:{program}:{build.spark_jars()}/*",
             "perfbench.Main", "digest", workload, str(seed), str(tmp)],
            check=True, capture_output=True, text=True).stdout
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return json.loads(out.strip().splitlines()[-1])


def bench(workload: str, seed: int, trace: int) -> dict:
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "20", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if done.returncode != 0:
        raise AssertionError(f"{workload} exited {done.returncode}:\n"
                             f"{done.stderr[-4000:]}")
    return json.loads(done.stdout.strip().splitlines()[-1])


class Inputs(unittest.TestCase):
    def test_seed_determines_inputs(self):
        for w in run.WORKLOADS:
            a, again, other = digest(w, 7), digest(w, 7), digest(w, 8)
            self.assertEqual(a, again, f"{w}: one seed, two different inputs")
            self.assertNotEqual(a["digest"], other["digest"],
                                f"{w}: two seeds, one input")
            self.assertEqual({k: v for k, v in a.items() if k not in DRAWN},
                             {k: v for k, v in other.items() if k not in DRAWN},
                             f"{w}: seeds change input sizes")


class Contract(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        b = benchmark_json()
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in b["per_layer"]], run.PER_LAYER)
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.WORKLOADS))

    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            done = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "legis_etl",
                 "--seed", "1", "--seconds", "20", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(done.returncode, 0)
            self.assertEqual(done.stdout.strip(), "")


class TracedCounts(unittest.TestCase):
    """Two traced runs of one seed check their outputs correct, give
    identical jobs and tasks for every span, and shuffle bytes within
    SHUFFLE_SLACK. Spark names every written file with a random UUID, and
    the listing order of a partition's files follows the names, so rows
    can reach a compressed shuffle block in another order: the
    `ivfPqProbeIndex` span has moved by 62 of 177k bytes between runs."""

    SHUFFLE_SLACK = 1e-3

    def test_counts_repeat(self):
        for w in (x["name"] for x in benchmark_json()["workloads"]):
            first, second = bench(w, 3, 1), bench(w, 3, 1)
            for r in (first, second):
                self.assertTrue(r["correct"], w)
                self.assertEqual(r["failed"], 0, w)
            a, b = ({n: m["value"] for n, m in r["metrics"].items()}
                    for r in (first, second))
            counted = [n for n in a if n.rsplit(".", 1)[-1] in ("jobs", "tasks")]
            self.assertTrue(any(a[n] > 0 for n in counted), w)
            self.assertEqual({n: a[n] for n in counted},
                             {n: b[n] for n in counted}, w)
            moved = {n: (a[n], b[n]) for n in a if n.endswith(".shuffle_bytes")
                     and abs(a[n] - b[n]) > self.SHUFFLE_SLACK * max(a[n], b[n])}
            self.assertEqual(moved, {}, w)


if __name__ == "__main__":
    unittest.main()
