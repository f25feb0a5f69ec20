#!/usr/bin/env python3
"""Round-trip check of the bench's two JSON surfaces (r13 verdict #8).

The driver's only reliable machine numbers are (a) the one-line JSON the
bench prints to stdout (it keeps ~the last 2000 chars of the log) and
(b) the per-query artifact file the bench writes. Every BENCH_r01..r13
driver record has `parsed: null` — a driver-side parse gap — so any
format drift on OUR side must be caught in-repo before it ships.

Usage:
  tools/check_bench_json.py ARTIFACT.json [SWEEP_LOG]

Checks:
  - the artifact parses, carries metric/value/unit/n_queries/queries/
    failed/stat/sf, n_queries == len(queries), no query outside `failed`
    has a negative time, and value ~= sum of the non-failed per-query
    seconds;
  - if a sweep log is given, its LAST stdout line starting with
    '{"metric"' parses, is <= 2000 chars (the driver's stdout window),
    carries the same total/n_queries as the artifact, and its "full"
    field names an existing file.

Exit 0 = both surfaces round-trip; nonzero with a reason otherwise.
"""
import json
import math
import os
import sys


def fail(msg):
    print(f"check_bench_json: FAIL — {msg}")
    sys.exit(1)


def load_artifact(path):
    try:
        with open(path) as f:
            doc = json.load(f)
    except Exception as e:
        fail(f"artifact {path} does not parse: {e}")
    for k in ("metric", "value", "unit", "n_queries", "queries", "failed",
              "stat", "sf"):
        if k not in doc:
            fail(f"artifact {path} missing key {k!r}")
    q = doc["queries"]
    if doc["n_queries"] != len(q):
        fail(f"artifact {path}: n_queries={doc['n_queries']} but "
             f"len(queries)={len(q)}")
    failed = set(doc["failed"])
    negative = sorted(k for k, v in q.items() if k not in failed and v < 0)
    if negative:
        fail(f"artifact {path}: negative time for queries not in failed: "
             f"{negative}")
    total = sum(v for k, v in q.items() if k not in failed)
    if not math.isclose(total, doc["value"], rel_tol=1e-6, abs_tol=0.01):
        fail(f"artifact {path}: value={doc['value']} != sum(queries)={total}")
    return doc


def main():
    if len(sys.argv) < 2:
        fail("usage: check_bench_json.py ARTIFACT.json [SWEEP_LOG]")
    art_path = sys.argv[1]
    art = load_artifact(art_path)
    print(f"check_bench_json: artifact {art_path} OK "
          f"({art['n_queries']} queries, {art['value']:.1f} s, "
          f"stat={art['stat']})")

    if len(sys.argv) > 2:
        log_path = sys.argv[2]
        line = None
        with open(log_path, errors="replace") as f:
            for raw in f:
                s = raw.strip()
                # sbt prefixes stdout with "[info] "
                if s.startswith("[info] "):
                    s = s[len("[info] "):]
                if s.startswith('{"metric"'):
                    line = s
        if line is None:
            fail(f"no stdout JSON line found in {log_path}")
        if len(line) > 2000:
            fail(f"stdout line is {len(line)} chars (> 2000: the driver's "
                 "log window would truncate it)")
        try:
            doc = json.loads(line)
        except Exception as e:
            fail(f"stdout line does not parse: {e}")
        for k in ("metric", "value", "n_queries", "slowest", "failed",
                  "full", "stat", "sf"):
            if k not in doc:
                fail(f"stdout line missing key {k!r}")
        if doc["n_queries"] != art["n_queries"]:
            fail(f"stdout n_queries={doc['n_queries']} != artifact "
                 f"{art['n_queries']}")
        if not math.isclose(float(doc["value"]), art["value"],
                            rel_tol=1e-4, abs_tol=0.01):
            fail(f"stdout value={doc['value']} != artifact {art['value']}")
        full = doc["full"]
        base = os.path.dirname(os.path.abspath(art_path))
        if not (os.path.exists(full) or os.path.exists(
                os.path.join(base, os.path.basename(full)))):
            fail(f"stdout 'full' field names missing file {full}")
        print(f"check_bench_json: stdout line OK ({len(line)} chars, "
              f"full={full})")
    sys.exit(0)


if __name__ == "__main__":
    main()
