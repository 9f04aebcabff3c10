#!/usr/bin/env python3
"""Ingestion benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the
benchmark's JVM harness from source (cached under .bench_build/ by a hash
of the sources), writes the workload's inputs with perfbench/gen.py,
drives the program on local[N] (N = usable cores) through perfbench.Main,
checks every output against what the generator built, and prints one
JSON object as the last line of stdout: the check verdict, attempted and
failed operations, and every end-to-end metric (--trace 0) or every
per-layer metric of the separate traced run (--trace 1). The line before
it holds details: per-pass numbers, the fault mix and check messages.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170.0
BUILD_TIMEOUT_S = 850.0
JVM_HEAP = "3g"

sys.dont_write_bytecode = True  # nothing but .bench_build/ changes in the checkout
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = sorted(gen.SIZES)

END_TO_END = {
    "setup_s": "s",
    "records_per_s": "1/s",
    "object_latency_p50_s": "s",
    "peak_rss_mb": "MB",
}

LAYER_STAGES = ["ingest", "rules", "sequential", "aggregate", "sinks"]
PER_LAYER = {"session.build_s": "s", "config.load_s": "s"}
for _l in LAYER_STAGES:
    PER_LAYER[_l + ".construct_s"] = "s"
    PER_LAYER[_l + ".catalyst_s"] = "s"
for _l in ["ingest", "rules", "sequential"]:
    for _m, _u in [("exec_s", "s"), ("jobs", "count"), ("tasks", "count"),
                   ("task_cpu_s", "s"), ("gc_s", "s")]:
        PER_LAYER["%s.%s" % (_l, _m)] = _u
PER_LAYER.update({"aggregate.exec_s": "s", "aggregate.shuffle_write_mb": "MB"})
for _l in LAYER_STAGES:
    PER_LAYER[_l + ".spill_mb"] = "MB"
PER_LAYER.update({
    "sinks.parquet_s": "s",
    "rules.fenced": "flag",
    "sequential.chunked": "flag",
    "sinks.es_s": "s",
    "sinks.cw_s": "s",
    "sinks.es_requests": "count",
    "sinks.es_docs_per_request": "count",
    "sinks.http_failures": "count",
    "streaming.construct_s": "s",
    "streaming.catalyst_s": "s",
    "streaming.batches": "count",
    "streaming.jobs_per_batch": "count",
    "streaming.objects_per_batch": "count",
    "streaming.query_planning_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.backlog_objects_max": "count",
    "streaming.generator_lag_max_s": "s",
    "jvm.heap_after_gc_peak_mb": "MB",
    "trace.overhead_ratio": "ratio",
    "trace.unattributed_share": "ratio",
})

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# program's build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/*.properties", "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build():
    """Classpath of the harness plus the program, rebuilt when sources change."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no program sources next to perfbench/ (build.sbt, src/main)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if (os.path.isfile(cp_file) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out; see " + log)
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if "perfbench" in ln and ".jar" in ln
          and not ln.startswith("[")]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed; see " + log)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def run_jvm(classpath, args, run_dir, work, result, seconds, deadline):
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # A fixed heap keeps the resident peak steady: without -Xms it follows
    # the collector's heap-sizing decisions and spread 20% from run to run.
    # What the program keeps on the heap is jvm.heap_after_gc_peak_mb.
    cmd += ["-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--input", os.path.join(run_dir, "input"),
            "--work", work, "--seconds", str(seconds),
            "--trace", str(args.trace), "--cpus", str(cpus),
            "--suite", os.path.join(HERE, "suite.ini"), "--result", result]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("JVM run exceeded the time limit; see " + log)
    if r.returncode != 0 or not os.path.isfile(result):
        sys.stderr.write("".join(open(log).readlines()[-60:]))
        fail("JVM run failed (exit %d); see %s" % (r.returncode, log))
    with open(result) as f:
        return json.load(f), cpus


def median(xs):
    return statistics.median(xs) if xs else 0.0


TOTAL_KEYS = ["num_messages_total", "num_validations", "num_errors",
              "num_error_messages", "num_valid", "verdict"]


def check_pass(p, expected):
    """Problems found in one batch pass's outputs (empty when correct)."""
    problems = []
    exp = {o["key"]: o for o in expected["objects"]}
    got = {r["key"]: r for r in p["file_totals"]}
    if set(got) != set(exp):
        problems.append("file_totals objects: %d missing, %d unexpected" % (
            len(set(exp) - set(got)), len(set(got) - set(exp))))
    for k in sorted(set(got) & set(exp)):
        for c in TOTAL_KEYS:
            if got[k][c] != exp[k][c]:
                problems.append("%s %s: got %s, expected %s" % (k, c, got[k][c], exp[k][c]))
    errors = sum(o["num_errors"] for o in exp.values())
    occurrences = sum(p["histogram"].values())
    if occurrences != errors:
        problems.append("error_histogram occurrences %d != %d: %s" % (
            occurrences, errors, sorted(p["histogram"].items())[:10]))
    seq = sum(o["sequential_rows"] for o in exp.values())
    if p["sequential_rows"] != seq:
        problems.append("sequential rows %d != %d" % (p["sequential_rows"], seq))
    meta = {m["key"]: m for m in p["metadata"]}
    if set(meta) != set(exp) or len(meta) != len(p["metadata"]):
        problems.append("metadata keys differ from the objects written")
    for k in sorted(set(meta) & set(exp)):
        parts = k.split("/")
        m = meta[k]
        if (m["MessageCount"] != exp[k]["lines"] or m["DataProvider"] != parts[1]
                or m["DataType"] != parts[2]):
            problems.append("metadata %s: %s" % (k, m))
    return problems


def batch_report(res, expected):
    passes = res["passes"]
    walls = res["pass_walls_s"]
    problems = [check_pass(p, expected) for p in passes]
    failed = sum(1 for p in problems if p)
    records = expected["records"]
    metrics = {
        "records_per_s": median([records / w for w in walls]),
        # every object of a pass is done when the pass's last sink write returns
        "object_latency_p50_s": median(walls),
    }
    details = {"pass_walls_s": walls, "records": records,
               "objects": len(expected["objects"]),
               "problems": [m for p in problems for m in p][:20]}
    return len(passes), failed, metrics, details


def stream_report(run, expected):
    exp = {o["key"].rsplit("/", 1)[1]: o for o in expected["objects"]}
    limit = run["latency_limit_s"]
    rate = expected["stream_rate_per_s"]
    problems = []
    if run["error"]:
        problems.append("query failed: %s" % run["error"])
    lat_ok = []
    failed = 0
    for name, lat, doc in zip(run["objects"], run["latencies_s"], run["docs"]):
        bad = None
        if lat is None or doc is None:
            bad = "missing"
        elif lat > limit:
            bad = "late (%.2f s)" % lat
        else:
            d = json.loads(doc)
            wrong = [c for c in TOTAL_KEYS if d.get(c) != exp[name][c]]
            if d.get("object") != name or wrong:
                bad = "doc %s, expected %s" % (
                    {c: d.get(c) for c in wrong}, {c: exp[name][c] for c in wrong})
        if bad:
            failed += 1
            problems.append("%s: %s" % (name, bad))
        else:
            lat_ok.append(lat)
    n = len(run["objects"])
    sums = run["cw_value_sums"]
    if (sums.get("dot-sdc-waze-curated-bucket-metric") != n
            or sums.get("dot-sdc-cv-submissions-bucket-metric") != 10 * n):
        problems.append("CloudWatch datums %s for %d objects" % (sums, n))
        failed = n
    # rows over the time the query spent in micro-batches: Spark's
    # processedRowsPerSecond over the run (the arrival rate is fixed)
    batch_s = sum(b[2] for b in run["batch_log"])
    metrics = {
        "records_per_s": sum(b[0] for b in run["batch_log"]) / batch_s if batch_s else 0.0,
        "object_latency_p50_s": median(lat_ok),
    }
    details = {"objects": n, "rate_per_s": rate, "latencies_s": run["latencies_s"],
               "batch_log": run["batch_log"], "problems": problems[:20]}
    return n, failed, metrics, details


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: the self-test's input size")
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    classpath = build()
    # the first run in a checkout also builds; its own budget starts after
    deadline = max(deadline, time.time() + 150.0)

    run_dir = os.path.join(BUILD, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    expected = gen.generate(args.workload, args.seed, os.path.join(run_dir, "input"),
                            args.scale)
    res, cpus = run_jvm(classpath, args, run_dir, work,
                        os.path.join(run_dir, "result.json"), args.seconds, deadline)

    if args.workload == "stream_trickle":
        attempted, failed, e2e, details = stream_report(res["stream"], expected)
    else:
        attempted, failed, e2e, details = batch_report(res, expected)
    setup = res["setup"]
    e2e["setup_s"] = setup["setup_s"]
    e2e["peak_rss_mb"] = res["peak_rss_mb"]
    details["heap_after_gc_peak_mb"] = res["heap_after_gc_peak_mb"]
    details.update(workload=args.workload, seed=args.seed, cpus=cpus,
                   setup=setup, fault_mix=expected["fault_mix"],
                   fault_shares=expected["fault_shares"])

    if args.trace:
        tr = res["trace"]
        layer = {k: tr.get(k, 0) for k in PER_LAYER}
        layer["session.build_s"] = setup["session_build_s"]
        layer["config.load_s"] = setup["config_load_s"]
        layer["jvm.heap_after_gc_peak_mb"] = res["heap_after_gc_peak_mb"]
        if "trace.stream" in tr:
            a2, f2, _, d2 = stream_report(tr["trace.stream"], expected)
            attempted += a2
            failed += f2
            details["traced_problems"] = d2["problems"]
        details["trace_wall_s"] = tr.get("trace.wall_s")
        details["trace_ladders"] = tr.get("trace.ladders")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    print(json.dumps({"details": details}))
    print(json.dumps({"correct": failed == 0 and not details["problems"],
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
