#!/usr/bin/env python3
"""Seeded input generator for the ingestion benchmark.

    python3 perfbench/gen.py --workload NAME --seed N --out DIR [--scale tiny]

Writes ODE NDJSON objects under DIR plus DIR/expected.json, which holds
what the pipeline must report for every object. The expectations follow
from how each record is built (one fault at most per record), through the
rules of perfbench/suite.ini:

- every well-formed record carries 19 scalar rules and 2 list rules over
  its 2-element `rsus` list, so 23 validations;
- an enum fault (`sanitized` = "Maybe"), a range fault (latitude 95.5) or a
  timestamp fault (unparseable `odeReceivedAt`) fails exactly one of them
  and leaves the sequential checks untouched (a null timestamp compares
  as unknown, never as out of order);
- a serial gap (serialNumber + 2 inside a bundle) fails exactly one
  sequential check, unless a record of the same object raised the
  serialNumber skip flag (rxMsg or sanitized=True records do);
- a corrupt line is an extra, unparseable line: it keeps every field
  null, and an all-null record gets CORRUPT_VALIDATIONS verdicts from
  this suite, CORRUPT_ERRORS of them failing; it takes no serial or
  record id away from the records around it;
- skip-flag records (rxMsg, sanitized=True) pass every rule; a TMC
  record fails exactly one, `request.ode.version`: the suite's TMC branch
  expects the number 3 and the record schema reads the field as a string,
  which never equals a number.

Per object the sequential result counts as one more message: its
failures, or one passing sentinel when it has none.

The same seed gives byte-identical files (gzip members carry mtime 0).
"""
import argparse
import gzip
import json
import os
import random
import time

VALIDATIONS_PER_RECORD = 23
CORRUPT_VALIDATIONS = 23
CORRUPT_ERRORS = 20
BUNDLE_SIZE = 5
PROVIDERS = ["thea", "wydot", "nycdot"]
TYPES = ["BSM", "TIM"]

# Per-record fault shares of the faulty workloads, many_small_gz and
# stream_trickle (one fault at most per record).
FAULT_SHARES = {"corrupt": 0.002, "enum": 0.003, "range": 0.003,
                "timestamp": 0.003, "serial_gap": 0.002}
# Share of their objects that carry one skip-flag record each.
SKIP_OBJECT_SHARE = {"tmc": 0.04, "rxmsg": 0.04, "sanitized": 0.04}

# Input sizes. "tiny" is the self-test size.
SIZES = {
    "giant_plain": {"full": {"objects": 1, "records": 40000},
                    "tiny": {"objects": 1, "records": 2000}},
    "many_small_gz": {"full": {"objects": 160, "records": 250},
                      "tiny": {"objects": 12, "records": 40}},
    "stream_trickle": {"full": {"objects": 30, "records": 40},
                       "tiny": {"objects": 6, "records": 20}},
}
# One stream object lands every STREAM_INTERVAL_S seconds. A micro-batch
# costs about 4-5 s on 4 cores whether it holds 1 object or 20, so at this
# interval each object gets a micro-batch of its own and the query idles
# between them: latency is the per-batch fixed cost, not queueing.
STREAM_INTERVAL_S = 6.0
# Warm-up objects for the stream's set-up, written under warmup/ (the batch
# workloads warm up on their own input).
STREAM_WARMUP = {"objects": 2, "records": 40}

PAYLOAD_BITS = 1024  # 256 hex digits per record


def iso(ms):
    """Epoch milliseconds -> 'YYYY-MM-DDTHH:MM:SS.mmmZ' (UTC)."""
    t = time.gmtime(ms // 1000)
    return "%04d-%02d-%02dT%02d:%02d:%02d.%03dZ" % (
        t.tm_year, t.tm_mon, t.tm_mday, t.tm_hour, t.tm_min, t.tm_sec, ms % 1000)


RECORD = (
    '{"metadata":{"recordGeneratedAt":"%(gen)s","recordGeneratedBy":"%(by)s",'
    '"recordType":"%(type)s","sanitized":"%(sanitized)s","schemaVersion":6,'
    '"payloadType":"us.dot.its.jpo.ode.model.OdeBsmPayload",'
    '"logFileName":"%(type)s_%(tag)s.log","odeReceivedAt":"%(received)s",'
    '"serialId":{"streamId":"%(stream)s","bundleSize":%(bsize)d,'
    '"bundleId":%(bundle)d,"recordId":%(rid)d,"serialNumber":%(serial)d},'
    '"receivedMessageDetails":{"locationData":{"latitude":"%(lat)s",'
    '"elevation":"%(elev)s"},"rxSource":"RSU"},'
    '"request":{"ode":{"version":"%(version)s"},%(tmc)s'
    '"rsus":{"rsus":[{"rsuTarget":"10.0.%(net)d.1","rsuIndex":1},'
    '{"rsuTarget":"10.0.%(net)d.2","rsuIndex":2}]}}},"payload":"%(payload)0256x"}')
TMC_REQUEST = ('"sdw":{"recordId":"R%08d"},'
               '"snmp":{"deliverystart":"2019-05-14 19:00:00"},')


def record(rng, gen_ms, serial, bundle_id, record_id, stream_id, tag,
           kind, fault):
    tmc = kind == "tmc"
    sanitized = "True" if kind == "sanitized" else "False"
    return RECORD % {
        "gen": iso(gen_ms),
        "by": "TMC" if tmc else "OBU",
        "type": "rxMsg" if kind == "rxmsg" else "bsmLogDuringEvent",
        "sanitized": "Maybe" if fault == "enum" else sanitized,
        "tag": tag,
        "received": ("not-a-timestamp" if fault == "timestamp"
                     else iso(gen_ms + 10000)),
        "stream": stream_id, "bsize": BUNDLE_SIZE, "bundle": bundle_id,
        "rid": record_id, "serial": serial,
        "lat": "95.5" if fault == "range" else "%.6f" % rng.uniform(-89.0, 89.0),
        "elev": "" if rng.random() < 0.5 else "%.1f" % rng.uniform(-400.0, 6000.0),
        "version": "3" if tmc else "2",
        "tmc": TMC_REQUEST % serial if tmc else "",
        "net": serial % 250,
        "payload": rng.getrandbits(PAYLOAD_BITS),
    }


def build_object(rng, n_records, start_ms, tag, faulty):
    """One object's lines and its expected totals.

    `faulty` objects draw record faults from FAULT_SHARES and may carry one
    skip-flag record; clean objects are all well-formed OBU records."""
    skip_kind = None
    if faulty:
        u = rng.random()
        acc = 0.0
        for k, share in SKIP_OBJECT_SHARE.items():
            acc += share
            if u < acc:
                skip_kind = k
                break
    skip_at = rng.randrange(n_records) if skip_kind else -1
    skips_serial = skip_kind in ("rxmsg", "sanitized")

    lines = []
    counts = {"records": 0, "corrupt": 0, "enum": 0, "range": 0,
              "timestamp": 0, "serial_gap": 0, "tmc": 0, "rxmsg": 0,
              "sanitized": 0}
    field_errors = 0
    error_messages = 0
    seq_errors = 0
    serial = rng.randrange(1000, 10 ** 9)
    bundle_id = rng.randrange(0, 10 ** 6)
    stream_id = "s-%d" % rng.randrange(10 ** 6)
    for i in range(n_records):
        record_id = i % BUNDLE_SIZE
        if i > 0 and record_id == 0:
            bundle_id += 1
        fault = None
        if faulty and i != skip_at:
            u = rng.random()
            acc = 0.0
            for f, share in FAULT_SHARES.items():
                acc += share
                if u < acc:
                    fault = f
                    break
        if fault == "corrupt":
            # an extra unparseable line; the record below still follows
            lines.append("#corrupt %s %d" % (iso(start_ms + i * 100), serial))
            counts["corrupt"] += 1
            fault = None
        if fault == "serial_gap" and record_id == 0:
            fault = None  # pairs across bundles are never compared
        if i > 0:
            serial += 2 if fault == "serial_gap" else 1
        kind = skip_kind if i == skip_at else "obu"
        lines.append(record(rng, start_ms + i * 100, serial, bundle_id,
                            record_id, stream_id, tag, kind, fault))
        counts["records"] += 1
        if kind != "obu":
            counts[kind] += 1
        if kind == "tmc":
            field_errors += 1
            error_messages += 1
        if fault in ("enum", "range", "timestamp"):
            counts[fault] += 1
            field_errors += 1
            error_messages += 1
        elif fault == "serial_gap":
            counts["serial_gap"] += 1
            if not skips_serial:
                seq_errors += 1

    n_lines = counts["records"] + counts["corrupt"]
    field_errors += CORRUPT_ERRORS * counts["corrupt"]
    error_messages += counts["corrupt"] if CORRUPT_ERRORS else 0
    totals = {
        "num_messages_total": n_lines + 1,
        "num_validations": VALIDATIONS_PER_RECORD * counts["records"]
        + CORRUPT_VALIDATIONS * counts["corrupt"] + max(seq_errors, 1),
        "num_errors": field_errors + seq_errors,
        "num_error_messages": error_messages + (1 if seq_errors else 0),
    }
    totals["num_valid"] = totals["num_messages_total"] - totals["num_error_messages"]
    totals["sequential_rows"] = max(seq_errors, 1)
    totals["verdict"] = "PASSED" if totals["num_errors"] == 0 else "FAILED"
    data = ("\n".join(lines) + "\n").encode("utf-8")
    return data, n_lines, totals, counts


def key_for(rng, prefix, i, start_ms, ext):
    import datetime
    day = datetime.datetime(1970, 1, 1) + datetime.timedelta(milliseconds=start_ms)
    return "cv/%s/%s/%s/%s-%05d.%s" % (
        rng.choice(PROVIDERS), rng.choice(TYPES), day.strftime("%Y/%m/%d"), prefix, i, ext)


def write_objects(rng, workload, out, subdir, size, base_ms, prefix):
    stream = workload == "stream_trickle"
    gz = workload != "giant_plain"
    faulty = workload != "giant_plain"
    objects = []
    mix = {}
    for i in range(size["objects"]):
        start_ms = base_ms + i * 3600000
        if stream:
            # every stream object lands in one watched prefix
            key = "cv/thea/BSM/2019/05/14/%s-%05d.json.gz" % (prefix, i)
        else:
            key = key_for(rng, prefix, i, start_ms, "json.gz" if gz else "json")
        data, n_lines, totals, counts = build_object(
            rng, size["records"], start_ms, "f%05d" % i, faulty)
        if gz:
            data = gzip.compress(data, compresslevel=6, mtime=0)
        rel = subdir + "/" + key
        path = os.path.join(out, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
        for k, v in counts.items():
            mix[k] = mix.get(k, 0) + v
        objects.append(dict(key=key, path=rel, lines=n_lines,
                            bytes=len(data), **totals))
    return objects, mix


def generate(workload, seed, out, scale="full"):
    # the workload name is mixed into the seed so workloads never share inputs
    rng = random.Random("%s:%d" % (workload, seed))
    base_ms = 1557860710123 + rng.randrange(0, 86400000)  # 2019-05-14
    stream = workload == "stream_trickle"
    faulty = workload != "giant_plain"
    if stream:
        write_objects(rng, workload, out, "warmup", STREAM_WARMUP, base_ms, "warm")
    objects, mix = write_objects(rng, workload, out,
                                 "stage" if stream else "objects",
                                 SIZES[workload][scale], base_ms, "obj")
    expected = {
        "workload": workload,
        "seed": seed,
        "scale": scale,
        "objects": objects,
        "records": sum(o["lines"] for o in objects),
        "fault_mix": mix,
        "fault_shares": FAULT_SHARES if faulty else {},
        "skip_object_shares": SKIP_OBJECT_SHARE if faulty else {},
    }
    if stream:
        expected["stream_rate_per_s"] = 1.0 / STREAM_INTERVAL_S
        expected["landing_dir"] = "landing/cv/thea/BSM/2019/05/14"
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", default="full", choices=["full", "tiny"])
    a = ap.parse_args()
    e = generate(a.workload, a.seed, a.out, a.scale)
    print(json.dumps({"objects": len(e["objects"]), "records": e["records"],
                      "fault_mix": e["fault_mix"]}))


if __name__ == "__main__":
    main()
