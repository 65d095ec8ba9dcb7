"""Paired benchmark runs of two source trees: a parent and a change.

    python3 tools/bench_pairs.py --parent ../parent --change . \
        --workload semantic_cold --seeds 1-10 [--seconds 15] [--log runs.jsonl] [--layers]

For each seed it runs `perfbench/run.py --trace 0` once in each tree,
alternating which tree goes first, and reads the result from each run's last
line. Then, for every end-to-end metric that `BENCHMARK.json` declares, it
prints each side's median and quartiles, the pairs the change won (ties count
for neither), and each side's quartile spread against the spread limit: the
metric's bound times the parent's median. A gain needs the change to win at
least nine pairs in ten and the medians to differ by more than the parent's
quartile spread. It also prints whether the runs are disjoint: every change
run better than every parent run. A metric whose spread is over the limit
counts as moved only then, and as unresolved otherwise. The metrics, their
direction and their bounds come from the
parent tree's BENCHMARK.json. Every run is printed, and with `--log`
appended to a file as one JSON line.

With `--layers`, after the pairs it runs `--trace 1` once in each tree on the
first seed and prints the layer metrics that place a change (`LAYERS`) side by
side. The script writes nothing in either tree but what `perfbench/run.py`
writes under `.bench_build/`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


# Per-layer metrics that say which layer a change moved.
LAYERS = ("api.build_jobs", "api.build_s", "exec.jobs", "exec.s", "codegen.classes")


def run_once(tree, workload, seed, seconds, trace=0):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"{tree}: seed {seed} printed no result (exit {r.returncode})")
    return {"exit": r.returncode, "correct": result.get("correct"),
            "attempted": result.get("attempted"), "failed": result.get("failed"),
            "metrics": {k: v["value"] for k, v in result.get("metrics", {}).items()}}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def disjoint(parent, change, better):
    """True when every change run is better than every parent run."""
    if better == "lower":
        return max(change) < min(parent)
    return min(change) > max(parent)


def report(metric, runs):
    name, better, bound = metric["name"], metric["better"], metric["bound"]
    pairs = [(p["metrics"].get(name), c["metrics"].get(name)) for p, c in runs]
    pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
    if not pairs:
        print(f"{name}: not reported")
        return
    par, chg = [p for p, _ in pairs], [c for _, c in pairs]
    won = sum((c < p) if better == "lower" else (c > p) for p, c in pairs)
    lost = sum((c > p) if better == "lower" else (c < p) for p, c in pairs)
    (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(par), quartiles(chg)
    limit = bound * abs(pmed)
    gain = won >= 0.9 * len(pairs) and abs(cmed - pmed) > pq3 - pq1
    print(f"{name} ({better} is better, {len(pairs)} pairs)")
    print(f"  parent median {pmed:.4g}  quartiles {pq1:.4g} .. {pq3:.4g}  spread {pq3 - pq1:.4g}")
    print(f"  change median {cmed:.4g}  quartiles {cq1:.4g} .. {cq3:.4g}  spread {cq3 - cq1:.4g}")
    print(f"  change won {won}, lost {lost}; median change {100 * (cmed - pmed) / pmed:+.1f}%"
          if pmed else f"  change won {won}, lost {lost}")
    print(f"  spread limit {limit:.4g} ({bound:g} x parent median): "
          f"parent {'within' if pq3 - pq1 < limit else 'OVER'}, "
          f"change {'within' if cq3 - cq1 < limit else 'OVER'}")
    print(f"  gain (>= 9/10 pairs won, median moved by more than the parent's spread): "
          f"{'yes' if gain else 'no'}")
    print(f"  disjoint (every change run {'below' if better == 'lower' else 'above'} "
          f"every parent run: change {min(chg):.4g} .. {max(chg):.4g}, "
          f"parent {min(par):.4g} .. {max(par):.4g}): "
          f"{'yes' if disjoint(par, chg, better) else 'no'}")


def logged(run, log, **tags):
    """Prints a run as one JSON line and appends it to the log, if any."""
    line = dict(run, **tags)
    print(json.dumps(line), flush=True)
    if log:
        with open(log, "a") as fh:
            fh.write(json.dumps(line) + "\n")
    return run


def layers(trees, workload, seed, seconds, log):
    got = {side: logged(run_once(tree, workload, seed, seconds, trace=1), log,
                        side=side, seed=seed, workload=workload, trace=1)
           for side, tree in trees.items()}
    print(f"\nlayers (--trace 1, seed {seed}; median over traced passes)")
    print(f"  {'metric':<18}{'parent':>12}{'change':>12}")
    for name in LAYERS:
        p, c = (got[side]["metrics"].get(name) for side in ("parent", "change"))
        if p is None or c is None:
            print(f"  {name:<18}{'not reported':>24}")
        else:
            print(f"  {name:<18}{p:>12.4g}{c:>12.4g}")
    for side in trees:
        ok = got[side]["correct"] and not got[side]["failed"]
        print(f"  {side}: traced run {'correct' if ok else 'with a failed op or check'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="source tree of the parent commit")
    ap.add_argument("--change", required=True, help="source tree of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=float, default=None,
                    help="timed window per run (default: BENCHMARK.json's run_seconds)")
    ap.add_argument("--log", help="append every run to this file as JSON lines")
    ap.add_argument("--layers", action="store_true",
                    help="then one traced run per tree on the first seed, layer by layer")
    a = ap.parse_args()
    with open(os.path.join(a.parent, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    trees = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}

    runs = []
    for i, seed in enumerate(seed_range(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            got[side] = logged(run_once(trees[side], a.workload, seed, seconds), a.log,
                               side=side, seed=seed, workload=a.workload)
        runs.append((got["parent"], got["change"]))

    print()
    for side, k in (("parent", 0), ("change", 1)):
        bad = [r for r in (pair[k] for pair in runs) if not r["correct"] or r["failed"]]
        print(f"{side}: {len(runs)} runs, {len(bad)} with a failed op or check")
    for metric in bench["end_to_end"]:
        report(metric, runs)
    if a.layers:
        layers(trees, a.workload, seed_range(a.seeds)[0], seconds, a.log)
    return 0


if __name__ == "__main__":
    sys.exit(main())
