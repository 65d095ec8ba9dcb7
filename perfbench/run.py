"""graft benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload semantic_cold --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the library and the JVM program
(perfbench/build.py), generates the seeded inputs (perfbench/gen.py), runs
the JVM program, checks every op's output (perfbench/check.py) and prints, as
the last line, {"correct", "attempted", "failed", "metrics"}: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. The line before
it stamps what was measured. Exits non-zero when any op failed.
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
import gen  # noqa: E402
import stats  # noqa: E402

# Simulated provider: fixed wait per round trip plus a wait per item.
ROUND_TRIP_US = 400
ITEM_US = 50

# Corpus sizes per workload. The semantic working set (at most 2 cached
# ops x docs = 4,000 entries, plus 100 reduce groups per run) stays far
# below LlmCache's 100,000-entry bound.
WORKLOADS = {
    "semantic_cold": {"docs": 2000, "vecs": 0},
    "curation_docs": {"docs": 200, "vecs": 300},
}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def git_commit():
    """HEAD of the checkout, or "unknown" when the checkout is not a git
    repository (git must not walk up into a parent repository)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(build.ROOT))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                           text=True, timeout=10, env=env)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    classes = build.build()
    started = time.time()
    work = os.path.join(build.OUT_ROOT, "runs", f"{a.workload}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    # Set-up starts here: the inputs, then the JVM (perfbench.Main), which
    # adds its own part from JVM start until the warm-up pass is done.
    inputs = os.path.join(work, "inputs")
    t0 = time.time()
    inputs_stamp = gen.generate(a.seed, w["docs"], w["vecs"], inputs)
    gen_s = time.time() - t0

    out = os.path.join(work, "record.json")
    cores = os.cpu_count() or 1
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
              "perfbench.Main", "--workload", a.workload, "--dir", inputs,
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
              "--cores", str(cores),
              "--rt-us", str(ROUND_TRIP_US), "--item-us", str(ITEM_US)])
    budget = max(30.0, 170.0 - (time.time() - started))
    try:
        r = subprocess.run(cmd, cwd=build.ROOT, timeout=budget)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"JVM program did not finish within {budget:.0f} s")
    if r.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"JVM program failed with exit code {r.returncode}")
    with open(out) as fh:
        record = json.load(fh)
    record["setup_s"] += gen_s

    failed = check.check(record, inputs)
    attempted = len(record["ops"])
    failed_ops = stats.failed_ops(record, failed)
    if a.trace:
        metrics = stats.per_layer(record, failed, cores)
    else:
        metrics = stats.end_to_end(record, failed, w["docs"])
    lat = [o["latency_s"] for o in stats.timed_ops(record, failed) if not o["traced"]]
    t = stats.tail(lat)
    stamp = dict(record["stamp"], workload=a.workload, seed=a.seed, seconds=a.seconds,
                 trace=a.trace, commit=git_commit(), build=os.path.basename(classes),
                 inputs=inputs_stamp, provider={"round_trip_us": ROUND_TRIP_US, "item_us": ITEM_US},
                 plan_control=record["plan_control"],
                 passes=len(record["passes"]), measured_s=record["measured_s"],
                 failed_ops_ratio=failed_ops / attempted if attempted else 0.0,
                 op_tail_s=({"percentile": t[0], "value": t[1], "n": t[2]} if t else None),
                 failures=failed)
    print(json.dumps({"stamp": stamp}))
    if not failed:  # keep the record; keep the rest only to inspect a failure
        for d in ("inputs", "refs", "spark-local", "warehouse", "tmp"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": failed_ops,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
