#!/usr/bin/env python3
"""Measure the REFERENCE validator's single-node throughput on a large
generated ODE NDJSON file, for the BASELINE.md comparison.

Reuses gen_fixtures' record builder + suite so the input is exactly the
shape the goldens use; writes the same file for the Spark side
(`sbt "runMain graft.Tools validate-bench"`) to consume.

Usage: python3 tools/bench_reference.py [n_records]
"""
import json
import os
import queue
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_fixtures as gf  # noqa: E402  (sets up the reference shim)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 100000
OUT = "/root/repo/target/refbench"
T = "2020-11-04T0{0}:00:00.000Z"


def records(n):
    # clean bundles of 10, varied generators — the a1-style happy path
    for i in range(n):
        bundle, rid = divmod(i, 10)
        yield gf.rec(i, bundle, rid, 10,
                     "2020-11-04T01:00:%02d.123Z" % (i % 60),
                     "2020-11-04T02:00:%02d.456Z" % (i % 60))


def main():
    os.makedirs(OUT, exist_ok=True)
    path = f"{OUT}/data.json"
    with open(path, "w") as f:
        for r in records(N):
            f.write(json.dumps(r, separators=(",", ":")) + "\n")
    print(f"wrote {N} records to {path}")

    from odevalidator.validator import TestCase
    tc = TestCase(f"{gf.ROOT}/odejson/suite.ini")
    lines = [ln for ln in open(path) if ln.strip()]

    t0 = time.time()
    q = queue.Queue()
    for ln in lines:
        q.put(ln)
    results = tc.validate_queue(q)
    dt = time.time() - t0
    n_val = sum(len(r.field_validations) for r in results)
    print(json.dumps({
        "engine": "reference(py, 1 thread)", "records": len(lines),
        "validations": n_val, "seconds": round(dt, 3),
        "records_per_sec": round(len(lines) / dt, 1)}))


if __name__ == "__main__":
    main()
