#!/usr/bin/env python3
"""Interleaved parent/change A/B of one benchmark workload.

    python3 tools/ab.py PARENT CHANGE --workload W --pairs N --seed S
                        [--scale tiny] [--trace 0|1] [--work DIR]

PARENT and CHANGE are commits of this repository. Each is exported with
`git archive` into its own directory under DIR (a fresh temporary
directory, removed afterwards, unless --work names one to keep and reuse),
so the two sides share no build, fixture or scratch path. For each pair
the unchanged `python3 perfbench/run.py` runs once on each side with the
same seed, `--seconds` from BENCHMARK.json, alternating which side runs
first. The first run on a side also builds it.

Per metric it prints each side's median and quartiles, the change/parent
ratio of the medians against the metric's BENCHMARK.json bound, the pairs
the change won, and whether the medians differ by more than the parent's
interquartile range. `--trace 1` compares the per-layer metrics instead
(they have no bounds). `--scale tiny` is the smoke test.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git"] + list(args), cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout.strip()


def export(rev, work):
    """A directory holding the tree of commit `rev`, made once per commit."""
    sha = git("rev-parse", "--verify", rev + "^{commit}")
    d = os.path.join(work, sha)
    done = os.path.join(d, ".ab_export")
    if not os.path.isfile(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", d], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit("ab: git archive %s failed" % sha)
        open(done, "w").close()
    return sha, d


def run_once(d, args, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(seconds),
           "--trace", str(args.trace), "--scale", args.scale]
    r = subprocess.run(cmd, cwd=d, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        sys.exit("ab: run failed in %s (exit %d)" % (d, r.returncode))
    out = json.loads(lines[-1])
    return {k: m["value"] for k, m in out["metrics"].items()}, out["failed"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(bench, trace, runs, failed):
    metrics = bench["per_layer" if trace else "end_to_end"]
    n = len(runs["parent"])
    print("| metric | parent median [q1, q3] | change median [q1, q3] | change/parent "
          "| bound | change wins | medians apart > parent IQR |")
    print("|---|---|---|---|---|---|---|")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        pq, cq = quartiles(p), quartiles(c)
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        if "bound" in m:
            worse = ratio - 1 if lower else 1 - ratio
            bound = "%.2f (%s)" % (m["bound"], "ok" if worse <= m["bound"] else "WORSE")
        else:
            bound = "-"
        wins = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        apart = abs(cq[1] - pq[1]) > pq[2] - pq[0]
        print("| %s | %.4g [%.4g, %.4g] | %.4g [%.4g, %.4g] | %.3f | %s | %d/%d | %s |" % (
            name, pq[1], pq[0], pq[2], cq[1], cq[0], cq[2], ratio, bound, wins, n,
            "yes" if apart else "no"))
    print("failed operations: parent %d, change %d" % (failed["parent"], failed["change"]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--work", help="directory for the exports, kept for reuse")
    args = ap.parse_args()

    work = args.work or tempfile.mkdtemp(prefix="graft-ab-")
    os.makedirs(work, exist_ok=True)
    try:
        sides = dict(zip(["parent", "change"],
                         (export(r, work) for r in (args.parent, args.change))))
        with open(os.path.join(sides["parent"][1], "BENCHMARK.json")) as f:
            bench = json.load(f)
        runs = {"parent": [], "change": []}
        failed = {"parent": 0, "change": 0}
        for i in range(args.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                values, nfail = run_once(sides[side][1], args, bench["run_seconds"])
                runs[side].append(values)
                failed[side] += nfail
            print("pair %d/%d done (%s first)" % (i + 1, args.pairs, order[0]),
                  file=sys.stderr, flush=True)
        print("A/B %s: parent %s, change %s, seed %d, %d pairs, scale %s, trace %d" % (
            args.workload, sides["parent"][0][:10], sides["change"][0][:10], args.seed,
            args.pairs, args.scale, args.trace))
        if args.pairs:
            report(bench, args.trace, runs, failed)
        print(json.dumps({"runs": runs, "failed": failed}))
    finally:
        if not args.work:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
