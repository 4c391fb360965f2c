#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload, one client, fixed work.

    python3 perfbench/run.py --workload legis_etl --seed 1 --seconds 30 --trace 0

Run from the repository root. Builds the program from the checked-out
sources (perfbench/build.py), generates the workload's inputs from the
seed, runs the untimed set-up and warm-up, times a fixed schedule of calls
into graft's public functions, checks the outputs, and prints one JSON
object as the last line of standard output. `--trace 0` prints the
end-to-end metrics; `--trace 1` prints the per-layer metrics of a traced
run. `--seconds` is accepted for the command-line contract only: every
run does the same fixed amount of work. Exits non-zero, without a result
line, when the program cannot be built or run; exits 1 after printing the
result when a correctness check or an operation failed. See
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("legis_etl", "curate_batch", "index_serve")
TIMEOUT_S = 170
HEAP = "2g"

END_TO_END = [
    ("setup_s", "s"),
    ("items_per_s", "1/s"),
    ("op_p50_geomean_ms", "ms"),
    ("peak_rss_mb", "MB"),
]

SPANS = [
    "sources.Fixtures.billsJson",
    "sources.Fixtures.peopleJson",
    "sources.Fixtures.sbudFromPdf",
    "operators.FullText.corpusFromBinary",
    "operators.BillSearch.search",
    "operators.LegislatorCounts.counts",
    "operators.FullText.search",
    "operators.TrainPrep.writeCdcIndex",
    "operators.TextDedup.minhashPairs",
    "operators.TrainPrep.cdcStripAgainst",
    "operators.TextStats.qualityFeatures",
    "operators.Curate.curateV8With",
    "operators.Curate.trainShardsFromEmit",
    "operators.TextDedup.writeDedupIndex",
    "operators.TextDedup.appendDedupIndex",
    "operators.TextDedup.deleteDedupIndex",
    "operators.TextDedup.compactDedupIndex",
    "operators.TextDedup.dedupProbeIndex",
    "operators.Similarity.writeIvfPqIndex",
    "operators.Similarity.appendIvfPqIndex",
    "operators.Similarity.deleteIvfPqIndex",
    "operators.Similarity.ivfPqProbeIndex",
]
SPAN_COUNTERS = [("wall_ms", "ms"), ("jobs", "count"), ("tasks", "count"),
                 ("task_cpu_ms", "ms"), ("shuffle_bytes", "bytes")]
PER_LAYER = [(f"{s}.{c}", u) for s in SPANS for c, u in SPAN_COUNTERS] + [
    ("spark.plan_ms", "ms", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("jvm.gc_ms", "ms", "lower"),
    ("spark.core_util", "ratio", "higher"),
    ("spark.cache.live_bytes", "bytes", "lower"),
    ("index.files", "count", "lower"),
    ("index.bytes_per_live_doc", "bytes", "lower"),
    ("compact.bytes_rewritten", "ratio", "lower"),
    ("ann.recall_at_10", "ratio", "higher"),
    ("memo.builds", "count", "lower"),
    ("curate.kernels_over_pass", "ratio", "lower"),
    ("trace.items_per_s", "1/s", "higher"),
    ("trace.overhead", "ratio", "lower"),
]
PER_LAYER = [m if len(m) == 3 else (m[0], m[1], "lower") for m in PER_LAYER]


def java_cmd(work, program, harness, jars, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dperfbench.program={program}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{harness}:{program}:{jars}/*", "perfbench.Main"] + args


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()

    root = Path.cwd()
    if not (root / build.PROGRAM_SRC / "graft").is_dir():
        sys.stderr.write(f"perfbench: no program sources under {root}; "
                         "run from the repository root\n")
        return 2
    program, harness = build.build(root)
    jars = build.spark_jars()

    state = root / build.STATE
    work = state / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    log = work / "jvm.log"
    env = dict(os.environ, GRAFT_FIXTURES=str(work / "legiscan"),
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = java_cmd(work, program, harness, jars,
                   ["run", a.workload, str(a.seed), str(a.trace), str(work),
                    str(result), str(state / "traces")])
    try:
        t_launch = time.time()
        with open(log, "wb") as out:
            proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                    cwd=work, env=env)
            try:
                rc = proc.wait(timeout=max(10, TIMEOUT_S - (t_launch - t0)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not result.exists():
            tail = log.read_bytes()[-6000:].decode(errors="replace")
            sys.stderr.write(f"{tail}\nperfbench: JVM exited with {rc}\n")
            return 3
        res = json.loads(result.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # set-up: process start (this script) to the first timed operation
    res["setup_s"] = res["first_op_epoch_ms"] / 1000.0 - t0
    sys.stderr.write(json.dumps({k: v for k, v in res.items()
                                 if k != "per_layer"}, indent=1) + "\n")
    if a.trace:
        layer = res["per_layer"]
        metrics = {n: {"value": layer.get(n) or 0.0, "unit": u}
                   for n, u, _ in PER_LAYER}
    else:
        metrics = {n: {"value": res[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
