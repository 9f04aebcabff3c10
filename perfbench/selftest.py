#!/usr/bin/env python3
"""Tiny-size self-test of the ingestion benchmark.

    python3 perfbench/selftest.py

From the root of a checkout: runs every workload end to end at the tiny
input size, untraced and traced, and checks that each run's output check
passes and that the printed metric names and units are exactly those of
BENCHMARK.json. It also checks that the generator is byte-identical for a
seed, and that the runner fails without printing a result where the
program's sources are absent. Exits non-zero on the first failure.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench", "selftest")

sys.dont_write_bytecode = True  # nothing but .bench_build/ changes in the checkout
sys.path.insert(0, HERE)
import gen  # noqa: E402


def check(cond, msg):
    if not cond:
        print("selftest FAILED: " + msg)
        sys.exit(1)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    shutil.rmtree(WORK, ignore_errors=True)

    for w in gen.SIZES:
        dirs = [os.path.join(WORK, "gen-%s-%d" % (w, i)) for i in range(3)]
        for d, seed in zip(dirs, [5, 5, 6]):
            gen.generate(w, seed, d, "tiny")
        check(same_tree(dirs[0], dirs[1]), "%s: same seed, different bytes" % w)
        check(not same_tree(dirs[0], dirs[2]), "%s: seeds 5 and 6 gave the same inputs" % w)

    # a directory holding only BENCHMARK.json and the benchmark's files
    bare = os.path.join(WORK, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    r = subprocess.run(bench["command"] + ["--workload", bench["workloads"][0]["name"],
                                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    check(r.returncode != 0 and '"metrics"' not in r.stdout,
          "runner did not fail without the program's sources")

    for w in gen.SIZES:
        for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
            r = subprocess.run(bench["command"] + [
                "--workload", w, "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--scale", "tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            tag = "%s --trace %d" % (w, trace)
            check(r.returncode == 0, "%s exited %d: %s" % (tag, r.returncode, r.stderr[-2000:]))
            out = json.loads(r.stdout.strip().splitlines()[-1])
            check(sorted(out) == ["attempted", "correct", "failed", "metrics"],
                  "%s: result keys %s" % (tag, sorted(out)))
            check(out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1,
                  "%s: output check failed: %s" % (tag, r.stdout.strip().splitlines()[-2][:3000]))
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            check(got == want, "%s: metrics %s differ from BENCHMARK.json %s" % (
                tag, sorted(set(got) ^ set(want)), key))
            check(all(isinstance(v["value"], (int, float)) for v in out["metrics"].values()),
                  "%s: a metric value is not a number" % tag)
            print("ok  %s" % tag)
    shutil.rmtree(WORK, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
