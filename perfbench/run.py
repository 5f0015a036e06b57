"""Benchmark of the validation engine, driven from outside the program.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness
(perfbench/build.py), runs one workload in two fresh JVMs with an explicit
heap (one generates and writes the inputs, one runs the ops), recounts
the op's verdicts with DuckDB (perfbench/check.py) and prints one JSON
line: correct, attempted, failed and the metrics —
end-to-end ones untraced, per-layer ones with --trace 1 (whose spans go to
.bench_work/trace/). Exits non-zero without a result when the build or the
run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402

WORKLOADS = ("suite_partitioned", "nightly_append", "config_all_families")
HEAP = "2g"
RUN_TIMEOUT_S = 170
# C1 alone, with room for its code: the 48 MB code cache C1 gets by
# default fills during the config workload, and the JIT then stops
OPS_JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]
# the JDK 17 module opens Spark needs outside spark-submit
OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    classes = build.build(root, build.out_dir(root))
    bench = os.path.join(root, ".bench_work")
    work = os.path.join(bench, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(bench, "trace", "%s-seed%d.spans.jsonl" % (a.workload, a.seed))
    # the throughput collector: with G1 the suite's op time read 10-20%
    # higher and spread wider between JVMs
    java = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dspark.ui.enabled=false"]
    for p in OPENS:
        java += ["--add-opens", p + "=ALL-UNNAMED"]
    java += ["-cp", classes + ":" + os.path.join(build.SPARK_JARS, "*")]
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--spans", spans,
            "--config", os.path.join(HERE, "all_families.yaml")]
    # config overrides and a Spark scratch directory outside the checkout
    # must not reach the run
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("VALIDATOR_") and k != "SPARK_LOCAL_DIRS"}

    setup = os.path.join(work, "setup.json")
    out = os.path.join(work, "result.json")
    t0 = time.time()
    try:
        # set-up under the default tiered JIT; the ops in a fresh JVM
        # limited to the C1 compiler (README: "Why the ops run under C1")
        for phase, jit, dest in (("setup", [], setup), ("ops", OPS_JIT, out)):
            left = RUN_TIMEOUT_S - (time.time() - t0)
            proc = subprocess.run(java[:1] + jit + java[1:] + [
                "perfbench.Main", "--phase", phase, "--setup", setup, "--out", dest] + args,
                stdout=sys.stderr, stderr=sys.stderr, env=env, cwd=work, timeout=left)
            if proc.returncode != 0 or not os.path.exists(dest):
                sys.exit("run: %s phase exited with %d" % (phase, proc.returncode))
        res = json.load(open(out))
        shutil.copy(out, os.path.join(bench, "last-%s-trace%d.json" % (a.workload, a.trace)))
        t1 = time.time()
        problems = check.check(res["manifest"]) if res["manifest"] else ["no successful op"]
        if res.get("nightly_manifest"):
            problems += ["nightly cycle: " + x for x in check.check(res["nightly_manifest"])]
        print("run: harness %.1f s, check %.1f s, %d warm-up ops" % (
            t1 - t0, time.time() - t1, res["warmup_ops"]), file=sys.stderr)
        if not res["warmup_settled"]:
            print("run: warm-up ended at its cap before two consecutive ops agreed",
                  file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("check: " + p, file=sys.stderr)
    metrics = res["metrics"]
    declared = json.load(open(os.path.join(root, "BENCHMARK.json")))
    units = {m["name"]: m["unit"] for m in declared["per_layer" if a.trace else "end_to_end"]}
    print(json.dumps({
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in metrics},
    }))


if __name__ == "__main__":
    main()
