#!/usr/bin/env python3
"""Benchmark of the graft engine: the VerA Postgres -> Parquet export and the
registered-query workload on sf0.1.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source (perfbench/build.sbt). The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The raw record
and the traced run's span and layer records are left in
.bench_work/<workload>/. Exits non-zero when an output check fails.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import concurrent.futures
import glob
import hashlib
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

CORES = os.cpu_count() or 4
PG_BIN = "/usr/lib/postgresql/15/bin"
SPARK_JARS = "/opt/spark/jars"
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "source.sha256")

# The export rotates files at the reference's rows-per-file divided by the
# program's own DEBUG factor (Export.runFromEnv), and each table holds
# FILES_PER_TABLE files' worth of rows, so every table spans several files
# and ends in a partial one.
ROTATION_DIVISOR = 100
FILES_PER_TABLE = 2.5
REFERENCE_ROWS_PER_FILE = {
    "code": 100000, "contracts": 1000000, "contract_deployments": 1000000,
    "compiled_contracts": 10000, "compiled_contracts_sources": 1000000,
    "sources": 10000, "verified_contracts": 1000000,
}
SQL_COUNT = {
    "code": "n_code", "contracts": "n_contracts", "contract_deployments": "n_deployments",
    "compiled_contracts": "n_compiled", "compiled_contracts_sources": "n_ccs",
    "sources": "n_sources", "verified_contracts": "n_verified",
}

# Run sizes: the warm seconds of one export round and of one query on a
# 4-core box, which set how many fill --seconds. Like graft.Bench, a run keeps
# the fastest of its timed passes: a registry run makes one warm-up pass and
# PASSES timed passes over its queries and keeps each query's fastest; an
# export run makes one warm-up round and at least MIN_ROUNDS timed rounds
# and keeps the fastest, since the first timed round is often still warming
# up and the host's noise comes in bursts that can slow a whole round.
PASSES = 2
MIN_ROUNDS = 3
WORKLOADS = {
    "export-vera": {"mode": "export", "seconds_per_round": 7.5},
    "registry-sf0.1": {"mode": "registry", "sf": "/root/testdata/sf0.1",
                       "expected": "expected/registry-sf0.1.json", "seconds_per_query": 1.0},
}

# A fixed heap. When the heap may grow, G1 decides how far from how long its
# recent pauses took, and peak_rss_mb varied by 15-20% between runs of the
# same registry input; with the heap fixed it varies by 2-4%, but it then
# mostly shows this heap size.
JAVA_OPTS = [
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
] + [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build():
    """Compile the program and the harness unless the sources are unchanged."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no program sources under %s/src/main/scala: run from a checkout" % ROOT)
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and harness with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


# --------------------------------------------------------------- postgres

def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Postgres:
    """A throwaway PG 15 cluster inside the work directory, TCP on loopback
    only. The server refuses to run as root, so as root it runs in a user
    namespace mapped to an unprivileged id."""

    def __init__(self, work):
        self.data = os.path.join(work, "pgdata")
        self.port = free_port()
        self.wrap = []
        if os.geteuid() == 0:
            self.wrap = ["unshare", "-U", "--map-user=1000", "--map-group=1000"]
        self.running = False

    def _run(self, args, **kw):
        return subprocess.run(self.wrap + args, check=True, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True, **kw)

    def start(self):
        shutil.rmtree(self.data, ignore_errors=True)
        self._run([PG_BIN + "/initdb", "-D", self.data, "-A", "trust", "-U", "graft",
                   "-E", "UTF8", "--no-sync"])
        opts = ("-p %d -c listen_addresses=127.0.0.1 -c unix_socket_directories='' "
                "-c fsync=off -c synchronous_commit=off -c full_page_writes=off "
                "-c max_connections=%d" % (self.port, 2 * CORES + 5))
        self._run([PG_BIN + "/pg_ctl", "-D", self.data, "-l", self.data + ".log",
                   "-o", opts, "-w", "start"])
        self.running = True

    def stop(self):
        if self.running:
            subprocess.run(self.wrap + [PG_BIN + "/pg_ctl", "-D", self.data, "-m", "immediate",
                                        "-w", "stop"],
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            self.running = False
        shutil.rmtree(self.data, ignore_errors=True)

    def psql(self, sql):
        subprocess.run([PG_BIN + "/psql", "-h", "127.0.0.1", "-p", str(self.port), "-U", "graft",
                        "-d", "postgres", "-q", "-v", "ON_ERROR_STOP=1", "-f", "-"],
                       input=sql, check=True, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)

    def load(self, seed, counts):
        """Generate the seeded VerA tables: the shared prelude, then the table
        sections concurrently (at most CORES connections), then the rest."""
        with open(os.path.join(HERE, "sql", "vera_generate.sql")) as fh:
            sql = fh.read().replace("@seed@", str(int(seed)))
        for table, var in SQL_COUNT.items():
            sql = sql.replace("@%s@" % var, str(int(counts[table])))
        head, rest = sql.split("\n-- @table ", 1)
        body, tail = rest.split("\n-- @after\n", 1)
        sections = ["-- " + s for s in body.split("\n-- @table ")]
        self.psql(head)
        with concurrent.futures.ThreadPoolExecutor(CORES) as ex:
            list(ex.map(self.psql, sections))
        self.psql(tail)


def table_rows():
    rpf = {t: r // ROTATION_DIVISOR for t, r in REFERENCE_ROWS_PER_FILE.items()}
    return {t: int(FILES_PER_TABLE * r) for t, r in rpf.items()}


# -------------------------------------------------------------------- jvm

def jvm_timeout(seconds, trace):
    """Seconds the JVM may take: an allowance for the session start, warm-up
    and output checks, plus a multiple of the planned measured time, doubled
    in a traced run because it repeats the timed work with the instruments
    on."""
    return 90 + 3 * seconds * (1 + trace)


def run_jvm(work, mode, args, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "raw.json")
    cmd = (["java"] + JAVA_OPTS + ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
           "-cp", CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*"), "graftbench.Main", mode]
           + args + ["--out", out, "--cores", str(CORES)])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail("the JVM did not finish within %d s (log: %s)" % (timeout, logf.name))
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail("the JVM exited with %d" % rc)
    with open(out) as fh:
        return json.load(fh)


# -------------------------------------------------------------- workloads

def registry_queries(spec, seed, seconds):
    with open(os.path.join(HERE, spec["expected"])) as fh:
        expected = json.load(fh)
    costs = {q: v["seconds"] for q, v in expected["queries"].items()}
    count = max(4, round(seconds / (PASSES * spec["seconds_per_query"])))
    return expected["queries"], benchlib.query_sample(costs, seed, count)


def run_registry(spec, seed, seconds, trace, work):
    expected, names = registry_queries(spec, seed, seconds)
    qfile = os.path.join(work, "queries.txt")
    with open(qfile, "w") as fh:
        fh.write("\n".join(names) + "\n")
    raw = run_jvm(work, "registry", ["--sf", spec["sf"], "--queries", qfile,
                                     "--passes", str(PASSES), "--trace", str(trace)],
                  jvm_timeout(len(names) * PASSES * spec["seconds_per_query"], trace))
    ran = raw["queries"]
    problems, failed = [], 0
    for q in ran:
        p = benchlib.check_query(q, expected)
        problems += p
        failed += bool(p)
    log("%s: %d of %d pooled queries, %d timed passes" % (spec["sf"], len(names), len(expected),
                                                        PASSES))
    # a query's time is its fastest timed pass
    best = {}
    for q in ran:
        if q["pass"].startswith("timed") and q.get("ok"):
            best[q["name"]] = min(best.get(q["name"], q["wall_s"]), q["wall_s"])
    walls = [best[n] for n in names if n in best]
    result = {
        "setup_s": raw["session_start_s"] + raw["warmup_s"],
        "work_s": sum(walls),
        "walls": walls,
    }
    return raw, result, len(ran), failed, problems


def run_export(spec, seed, seconds, trace, work):
    counts = table_rows()
    pg = Postgres(work)
    try:
        setups = []
        for rep in range(3):
            t0 = time.monotonic()
            if rep:
                pg.stop()
            pg.start()
            pg.load(seed, counts)
            setups.append(time.monotonic() - t0)
        rounds = max(MIN_ROUNDS, round(seconds / spec["seconds_per_round"]))
        planned = rounds * spec["seconds_per_round"]
        raw = run_jvm(work, "export", ["--pg-port", str(pg.port), "--divisor",
                                       str(ROTATION_DIVISOR), "--rounds", str(rounds),
                                       "--work", work, "--trace", str(trace)],
                      jvm_timeout(planned, trace))
    finally:
        pg.stop()
    source = {s["table"]: s for s in raw["source"]}
    problems = []
    for t, n in counts.items():
        if source[t]["rows"] != n:
            problems.append("%s: source has %d rows, generated %d" % (t, source[t]["rows"], n))
    read_back = {}
    for f in raw["files"]:
        d, name = os.path.split(f["path"])
        read_back.setdefault((d, f["table"]), {})[name] = f
    attempted = failed = 0
    out_bytes = []
    for rnd in raw["rounds"]:
        d = rnd["dir"]
        listed = {}
        round_bytes = 0
        for path in glob.glob(os.path.join(d, "*.parquet")):
            m = benchlib.PARQUET.match(os.path.basename(path))
            listed.setdefault(m.group(1) if m else "?", []).append(os.path.basename(path))
            round_bytes += os.path.getsize(path)
        out_bytes.append(round_bytes)
        try:
            with open(os.path.join(d, "manifest.json")) as fh:
                manifest = json.load(fh)["files"]
        except (OSError, ValueError, KeyError):
            manifest = {}
        if list(manifest) != list(source):
            problems.append("%s: manifest tables %s" % (d, list(manifest)))
        for t in source:
            attempted += 1
            p = benchlib.check_table(t, source[t], read_back.get((d, t), {}),
                                     listed.get(t, []), manifest.get(t))
            if p:
                failed += 1
                problems += ["%s: %s" % (rnd["round"], x) for x in p]
        stray = set(listed) - set(source)
        if stray:
            problems.append("%s: unexpected files %s" % (d, sorted(stray)))
    if problems and not failed:
        failed = 1
    walls = [r["wall_s"] for r in raw["rounds"] if r["round"].startswith("r")]
    result = {
        "setup_s": benchlib.median(setups) + raw["session_start_s"] + raw["warmup_s"],
        "work_s": min(walls),
        "walls": walls,
        "out_mb": benchlib.median(out_bytes) / 1e6,
    }
    log("%d rows in Postgres (%s); %.2f MB of parquet per round" % (
        sum(counts.values()), ", ".join("%s %d" % kv for kv in counts.items()), result["out_mb"]))
    return raw, result, attempted, failed, problems


# ------------------------------------------------------------- per-layer

PER_LAYER = [
    ("vera.PgWire.fetch_s", "s"), ("vera.PgWire.rows_per_s", "1/s"),
    ("vera.PgWire.scan_task_skew", "ratio"), ("vera.Normalize.s", "s"),
] + [("vera.Export.table_s." + t, "s") for t in REFERENCE_ROWS_PER_FILE] + [
    ("vera.Export.index_write_s", "s"), ("vera.Export.jobs", "count"),
    ("vera.Export.stages", "count"), ("vera.Export.tasks", "count"),
    ("vera.Export.shuffle_write_mb", "MB"), ("vera.Export.shuffle_read_mb", "MB"),
    ("vera.Export.executor_cpu_s", "s"),
    ("vera.Export.gc_s", "s"), ("vera.Export.core_busy_frac", "fraction"),
    ("vera.Export.write_tasks", "count"), ("vera.Export.fs_renames", "count"),
    ("vera.Export.fs_list_calls", "count"), ("vera.Export.manifest_s", "s"),
    ("vera.Export.out_mb", "MB"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("queries.build_share", "fraction"), ("queries.build_fs_read_ops", "count"),
    ("spark.analysis_s", "s"), ("spark.optimization_s", "s"), ("spark.planning_s", "s"),
    ("spark.exec_s", "s"), ("spark.exec_jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.shuffle_write_mb", "MB"),
    ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"), ("spark.core_busy_frac", "fraction"),
    ("spark.scheduler_delay_s", "s"),
    ("driver.no_job_s", "s"), ("log.error_lines", "count"), ("trace.overhead_frac", "fraction"),
]


def span_records(raw):
    """Spans with their Spark jobs, self times and the operation they belong
    to, plus the job list of each span."""
    spans = {s["id"]: dict(s) for s in raw["spans"]}
    jobs_of = {}
    for j in raw["jobs"]:
        if j["group"].startswith("gb-") and j["end_ns"] > 0:
            jobs_of.setdefault(int(j["group"][3:]), []).append(j)
    children = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append(s)
    for s in spans.values():
        kids = [(c["start_ns"], c["end_ns"]) for c in children.get(s["id"], [])]
        kids += [(j["start_ns"], j["end_ns"]) for j in jobs_of.get(s["id"], [])]
        s["self_s"] = benchlib.self_time(s["start_ns"], s["end_ns"], kids) / 1e9
        s["dur_s"] = (s["end_ns"] - s["start_ns"]) / 1e9
        s["jobs"] = [j["id"] for j in jobs_of.get(s["id"], [])]
    return spans, jobs_of, children


def job_totals(jobs):
    return {
        "jobs": len(jobs), "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in jobs) / 1e6,
        "shuffle_read_mb": sum(j["shuffle_read_bytes"] for j in jobs) / 1e6,
        "spill_mb": sum(j["spill_bytes"] for j in jobs) / 1e6,
        "executor_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "run_s": sum(j["run_ms"] for j in jobs) / 1e3,
        "gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "scheduler_delay_s": sum(j["scheduler_delay_ms"] for j in jobs) / 1e3,
        "write_tasks": sum(j["write_tasks"] for j in jobs),
    }


def no_job_s(span, jobs):
    """Time inside `span` with no Spark job running."""
    return benchlib.self_time(span["start_ns"], span["end_ns"],
                              [(j["start_ns"], j["end_ns"]) for j in jobs]) / 1e9


def layers_registry(raw, m):
    spans, jobs_of, children = span_records(raw)
    traced = [q for q in raw["queries"] if q["pass"] == "traced" and q.get("ok")]
    timed = [q for q in raw["queries"] if q["pass"] == "timed%d" % PASSES and q.get("ok")]
    records = []
    for q in traced:
        b, e, s = spans[q["build_span"]], spans[q["exec_span"]], spans[q["span"]]
        bj, ej = jobs_of.get(b["id"], []), jobs_of.get(e["id"], [])
        qes = [x for x in raw["query_executions"] if e["start_ns"] <= x["start_ns"] <= e["end_ns"]]
        rec = {"query": q["name"], "wall_s": s["dur_s"], "self_s": s["self_s"],
               "build_s": b["dur_s"], "build_self_s": b["self_s"], "build_jobs": len(bj),
               "build_fs_read_ops": q["build_fs"]["opens"] + q["build_fs"]["lists"]
               + q["build_fs"]["statuses"],
               "exec_s": e["dur_s"], "exec_self_s": e["self_s"],
               "analysis_s": (q["build_analysis_ms"] + sum(x["analysis_ms"] for x in qes)) / 1e3,
               "optimization_s": sum(x["optimization_ms"] for x in qes) / 1e3,
               "planning_s": sum(x["planning_ms"] for x in qes) / 1e3,
               "no_job_s": no_job_s(s, bj + ej), "exec": job_totals(ej), "build": job_totals(bj)}
        records.append(rec)
    wall = sum(r["wall_s"] for r in records)
    exec_s = sum(r["exec_s"] for r in records)
    ex = job_totals([j for q in traced for j in jobs_of.get(q["exec_span"], [])])
    m.update({
        "queries.build_s": sum(r["build_s"] for r in records),
        "queries.build_jobs": sum(r["build_jobs"] for r in records),
        "queries.build_share": sum(r["build_s"] for r in records) / wall if wall else 0.0,
        "queries.build_fs_read_ops": sum(r["build_fs_read_ops"] for r in records),
        "spark.analysis_s": sum(r["analysis_s"] for r in records),
        "spark.optimization_s": sum(r["optimization_s"] for r in records),
        "spark.planning_s": sum(r["planning_s"] for r in records),
        "spark.exec_s": exec_s, "spark.exec_jobs": ex["jobs"], "spark.stages": ex["stages"],
        "spark.tasks": ex["tasks"], "spark.shuffle_write_mb": ex["shuffle_write_mb"],
        "spark.executor_cpu_s": ex["executor_cpu_s"],
        "spark.gc_s": ex["gc_s"],
        "spark.core_busy_frac": ex["run_s"] / (exec_s * CORES) if exec_s else 0.0,
        "spark.scheduler_delay_s": ex["scheduler_delay_s"],
        "driver.no_job_s": sum(r["no_job_s"] for r in records),
        "trace.overhead_frac": wall / sum(q["wall_s"] for q in timed) - 1.0,
    })
    return records, spans


def layers_export(raw, result, m):
    spans, jobs_of, children = span_records(raw)
    rounds = [r for r in raw["rounds"] if r["round"].startswith("t")]
    n = len(rounds)
    source_rows = sum(s["rows"] for s in raw["source"])
    by = {}  # (table, layer name) -> [span]
    records = []
    for r in rounds:
        for t in children.get(r["span"], []):
            kids = {c["name"]: c for c in children.get(t["id"], [])}
            for name, c in kids.items():
                by.setdefault((t["op"].split("/", 1)[-1], name), []).append(c)
            if t["name"] == "table":
                records.append({
                    "round": r["round"], "table": t["op"].split("/", 1)[1],
                    "wall_s": t["dur_s"], "self_s": t["self_s"],
                    "layers": {k: {"s": c["dur_s"], "self_s": c["self_s"],
                                   **job_totals(jobs_of.get(c["id"], []))}
                               for k, c in kids.items()},
                    "fs": r.get("fs." + t["op"].split("/", 1)[1], {})})
            else:
                by.setdefault(("", t["name"]), []).append(t)

    def total(layer):
        return sum(c["dur_s"] for (t, name), cs in by.items() if name == layer and t
                   for c in cs) / n

    fetch = [c for (t, name), cs in by.items() if name == "fetch" for c in cs]
    task_ms = [ms for c in fetch for j in jobs_of.get(c["id"], []) for ms in j["task_run_ms"]]
    exp_spans = [c for (t, name), cs in by.items() if name == "export" for c in cs]
    exp_jobs = [j for c in exp_spans for j in jobs_of.get(c["id"], [])]
    et = job_totals(exp_jobs)
    export_s = sum(c["dur_s"] for c in exp_spans)
    fs = [rec["fs"] for rec in records]
    manifest = sum(c["dur_s"] for c in by.get(("", "manifest"), [])) / n
    fetch_s = total("fetch")
    m.update({
        "vera.PgWire.fetch_s": fetch_s,
        "vera.PgWire.rows_per_s": source_rows / fetch_s if fetch_s else 0.0,
        "vera.PgWire.scan_task_skew": (max(task_ms) / benchlib.median(task_ms)
                                       if task_ms and benchlib.median(task_ms) else 0.0),
        "vera.Normalize.s": total("normalize") - fetch_s,
        "vera.Export.index_write_s": total("export") - total("normalize"),
        "vera.Export.jobs": et["jobs"] / n, "vera.Export.stages": et["stages"] / n,
        "vera.Export.tasks": et["tasks"] / n,
        "vera.Export.shuffle_write_mb": et["shuffle_write_mb"] / n,
        "vera.Export.shuffle_read_mb": et["shuffle_read_mb"] / n,
        "vera.Export.executor_cpu_s": et["executor_cpu_s"] / n,
        "vera.Export.gc_s": et["gc_s"] / n,
        "vera.Export.core_busy_frac": et["run_s"] / (export_s * CORES) if export_s else 0.0,
        "vera.Export.write_tasks": et["write_tasks"] / n,
        "vera.Export.fs_renames": sum(f.get("renames", 0) for f in fs) / n,
        "vera.Export.fs_list_calls": sum(f.get("lists", 0) for f in fs) / n,
        "vera.Export.manifest_s": manifest,
        "vera.Export.out_mb": result["out_mb"],
        "driver.no_job_s": sum(no_job_s(c, jobs_of.get(c["id"], [])) for c in exp_spans) / n,
        "trace.overhead_frac": (export_s / n + manifest) / benchlib.median(result["walls"]) - 1.0,
    })
    for t in REFERENCE_ROWS_PER_FILE:
        m["vera.Export.table_s." + t] = sum(c["dur_s"] for c in by.get((t, "export"), [])) / n
    return records, spans


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind so the JVM and the Postgres cluster are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = WORKLOADS[a.workload]
    if spec["mode"] == "registry" and not os.path.isdir(spec["sf"]):
        fail("input data %s is missing" % spec["sf"])
    build()
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    runner = run_export if spec["mode"] == "export" else run_registry
    raw, result, attempted, failed, problems = runner(spec, a.seed, a.seconds, a.trace, work)
    for p in problems[:20]:
        log("check failed: " + p)
    if a.trace:
        m = {name: 0.0 for name, _ in PER_LAYER}
        m["log.error_lines"] = raw.get("error_lines", 0)
        if spec["mode"] == "export":
            records, spans = layers_export(raw, result, m)
        else:
            records, spans = layers_registry(raw, m)
        units = dict(PER_LAYER)
        metrics = {k: {"value": m[k], "unit": units[k]} for k, _ in PER_LAYER}
        with open(os.path.join(work, "trace.json"), "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "layers": records,
                       "spans": sorted(spans.values(), key=lambda s: s["id"]),
                       "metrics": metrics}, fh)
    else:
        walls = result["walls"]
        tail = benchlib.tail_percentile(walls)
        log("%s seed %d: operation p50 %.4f s (n=%d)%s" % (
            a.workload, a.seed, benchlib.median(walls), len(walls),
            ", p%g %.4f s (n=%d)" % tail if tail else "; too few samples for a higher percentile"))
        metrics = {
            "setup_s": {"value": result["setup_s"], "unit": "s"},
            "work_s": {"value": result["work_s"], "unit": "s"},
            "peak_rss_mb": {"value": raw["vm_hwm_kb"] / 1024.0, "unit": "MB"},
        }
    for d in ("out", "warmup"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    correct = failed == 0 and not problems
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
