#!/usr/bin/env python3
"""Record the reference values the registry workloads check against.

    python3 perfbench/record.py --workload registry-sf0.1

Runs every pooled registered query once to warm up and once timed, and
writes perfbench/expected/<workload>.json: each query's row count and
schema (the output check) and its warm time (the cost ranking that
benchlib.query_sample stratifies on). Run it on the commit whose answers
are taken as correct; the files in the repository were recorded from the
commit that added the benchmark.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import run

# Queries left out of the pool: they write under /tmp, outside the checkout.
EXCLUDED = ("q28_export_roundtrip", "q29_export_manifest", "q50_format_sources")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w for w, s in run.WORKLOADS.items() if s["mode"] == "registry"])
    a = ap.parse_args()
    spec = run.WORKLOADS[a.workload]
    run.build()
    work = os.path.join(run.ROOT, ".bench_work", "record-" + a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    listing = os.path.join(work, "all.txt")
    subprocess.run(["java", "-cp", run.CLASSES + os.pathsep + os.path.join(run.SPARK_JARS, "*"),
                    "graftbench.Main", "list", "--out", listing], check=True)
    names = [q for q in open(listing).read().split() if q not in EXCLUDED]
    qfile = os.path.join(work, "queries.txt")
    with open(qfile, "w") as fh:
        fh.write("\n".join(names) + "\n")
    raw = run.run_jvm(work, "registry", ["--sf", spec["sf"], "--queries", qfile,
                                         "--passes", "1", "--trace", "0"], 3600)
    timed = [q for q in raw["queries"] if q["pass"] == "timed1"]
    bad = [q["name"] for q in timed if not q.get("ok")]
    if bad:
        sys.exit("queries failed: %s" % bad)
    queries = {q["name"]: {"rows": q["rows"], "schema": q["schema"],
                           "seconds": round(q["wall_s"], 4)} for q in timed}
    out = {
        "sf": spec["sf"],
        "excluded": list(EXCLUDED),
        "queries": queries,
    }
    path = os.path.join(run.HERE, spec["expected"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("wrote %s: %d queries" % (path, len(queries)))


if __name__ == "__main__":
    main()
