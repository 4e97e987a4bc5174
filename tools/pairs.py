#!/usr/bin/env python3
"""Paired parent/change runs of one benchmark workload.

    python3 tools/pairs.py --workload tsdb_rpc --rev HEAD~1 --pairs 10 --seed 901

The change is this checkout; the parent is REV, checked out into a
temporary `git worktree` that is removed on exit (on failure and on
SIGINT/SIGTERM too). `--rev HEAD` on a clean checkout is an A/A run: both
sides hold the same tree, so any gap it reports is the setup's own bias
(a fresh worktree against this checkout). Pair i runs `perfbench/run.py
--seed SEED+i` once on each side, alternating which side goes first. Before the pairs, each side
runs once untimed, so its build and class-data-sharing archive exist
before any counted run.

For every end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, the parent's IQR (q3 - q1), the change's wins / ties /
losses over the pairs, and whether a gain claim holds: at least nine
tenths of the pairs won, ties counting for neither, and the medians
differing by more than the parent's IQR in the better direction. It also
prints the median relative change against the metric's bound, a
no-regression verdict, and each side's failed-op share and incorrect runs.
The verdict is `worse` when the change's median is worse than the
parent's by more than the bound; otherwise `unresolved` when the parent's
IQR is wider than bound x parent median and not every change run beats
every parent run; otherwise `ok`. After the table it prints each side's
value of every metric run by run, in pair order.

Every run lasts BENCHMARK.json's run_seconds. Nothing is written into the
repository apart from the benchmark's own gitignored build directory.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          capture_output=True, text=True).stdout.strip()


def run_once(checkout, workload, seed, seconds):
    """One perfbench run; its JSON result, or None when it failed."""
    # each checkout builds into its own .bench_build: a shared build dir
    # would make every build delete the other side's classes
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    try:
        p = subprocess.run(cmd, cwd=checkout, env=env, capture_output=True, text=True,
                           timeout=900)
    except subprocess.TimeoutExpired:
        return None
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-2000:])
        return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(metrics, runs):
    pairs = [(p, c) for p, c in runs if p is not None and c is not None]
    print("pairs with both sides finished: %d of %d" % (len(pairs), len(runs)))
    for side, i in (("parent", 0), ("change", 1)):
        done = [r[i] for r in runs if r[i] is not None]
        bad = sum(1 for r in done if not r.get("correct"))
        att = sum(r.get("attempted", 0) for r in done)
        fail = sum(r.get("failed", 0) for r in done)
        print("%s: %d runs finished, %d incorrect, failed ops %d of %d (%.4f)" % (
            side, len(done), bad, fail, att, fail / att if att else 0.0))
    if not pairs:
        return
    print("%-16s %22s %22s %9s %9s %8s %7s %-5s %s" % (
        "metric", "parent med [q1, q3]", "change med [q1, q3]", "par IQR",
        "W/T/L", "change", "bound", "claim", "verdict"))
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["metrics"][name]["value"] for p, _ in pairs]
        chg = [c["metrics"][name]["value"] for _, c in pairs]
        pm, cm = statistics.median(par), statistics.median(chg)
        (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
        wins = sum(1 for a, b in zip(par, chg) if (b < a if lower else b > a))
        ties = sum(1 for a, b in zip(par, chg) if a == b)
        gain = (pm - cm) if lower else (cm - pm)
        # a pair with a failed side counts as run but not won
        claim = wins >= 0.9 * len(runs) and gain > p3 - p1
        rel = (cm - pm) / pm if pm else 0.0
        bound = m.get("bound", 0.0)
        beats_all = max(chg) < min(par) if lower else min(chg) > max(par)
        if (rel if lower else -rel) > bound:
            verdict = "worse"
        elif p3 - p1 > bound * abs(pm) and not beats_all:
            verdict = "unresolved"
        else:
            verdict = "ok"
        print("%-16s %22s %22s %9.4g %9s %+7.1f%% %7.2f %-5s %s" % (
            name, "%.4g [%.4g, %.4g]" % (pm, p1, p3), "%.4g [%.4g, %.4g]" % (cm, c1, c3),
            p3 - p1, "%d/%d/%d" % (wins, ties, len(pairs) - wins - ties), 100 * rel,
            bound, "holds" if claim else "no", verdict))
    # the runs behind each median, so one slow run that leaves a verdict
    # `unresolved` shows without re-running; "-" marks a failed run
    print("per-run values, pair order:")
    for m in metrics:
        for side, i in (("parent", 0), ("change", 1)):
            print("%-16s %-6s %s" % (m["name"], side, " ".join(
                "%.4g" % r[i]["metrics"][m["name"]]["value"] if r[i] is not None else "-"
                for r in runs)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--rev", required=True, help="the parent revision")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=901, help="seed of the first pair")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    rev = git("rev-parse", "--verify", a.rev + "^{commit}")
    # SIGTERM unwinds like SIGINT, so the worktree is removed either way
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix="pairs-")
    parent = os.path.join(tmp, "parent")
    runs = []
    try:
        git("worktree", "add", "--detach", parent, rev)
        sides = {"parent": parent, "change": ROOT}
        for side, path in sides.items():
            print("warm-up %s (%s)" % (side, path), flush=True)
            if run_once(path, a.workload, a.seed - 1, seconds) is None:
                raise SystemExit("pairs: the %s warm-up run failed" % side)
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            res = {side: run_once(sides[side], a.workload, seed, seconds) for side in order}
            runs.append((res["parent"], res["change"]))
            print("pair %d seed %d (%s first): %s" % (i + 1, seed, order[0], "  ".join(
                "%s p50=%s" % (s, r["metrics"]["latency_p50_ms"]["value"] if r else "FAILED")
                for s, r in (("parent", res["parent"]), ("change", res["change"])))),
                flush=True)
    finally:
        subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", parent],
                       capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "-C", ROOT, "worktree", "prune"], capture_output=True)
    print("workload %s, parent %s, change %s" % (a.workload, rev[:12], ROOT))
    report(bench["end_to_end"], runs)


if __name__ == "__main__":
    main()
