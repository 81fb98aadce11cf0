#!/usr/bin/env python3
"""Archival-run benchmark: one command per workload run.

    python3 runbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the JVM half
of the benchmark from source (scalac from the Spark distribution's jars,
into ``.bench_build/``), generates the seeded inputs, runs one JVM with
``local[4]``, checks every output against DuckDB, and prints one JSON
line as the last line of stdout: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). See README.md in this directory.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
def spark_home():
    """$SPARK_HOME, else the pyspark package (a Spark home of its own)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    try:
        import pyspark
        return os.path.dirname(pyspark.__file__)
    except ImportError:
        return ""


SPARK_JARS = os.path.join(spark_home(), "jars")
CPUS = 4
JVM_TIMEOUT_S = 160

WORKLOADS = ("archive_initial", "archive_incremental", "query_mix")
# The query mix: one or two queries per library family. Left out for the
# time budget (each run must fit its share of an hour): q28_hll_distinct,
# ss21_ivfpq_topk, g6_personalized_pr, er13_phonetic_blocking and
# dd30_prefix_join, 2-8 s each. Left out because their DuckDB oracles do not finish
# on one host: g13_betweenness and g7_hits (exhausted 12.5 GiB of DuckDB
# memory) and g3_kcore (filled the disk with DuckDB temp files).
QUERIES = ["q1_agg", "dd2_ngram_jaccard", "dd6_dedup_clusters",
           "tx3_fingerprint", "mm11_phash_neardup"]
FAMILIES = {"q": "relational", "dd": "dedup", "ss": "similarity", "er": "er",
            "g": "graph", "tx": "text", "mm": "multimodal"}
SINKS = {"archive_initial": ["parquet", "csv", "sql"],
         "archive_incremental": ["parquet", "csv", "sql", "jdbc"]}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
KEEP_STORES = 4


def fail(msg):
    print(f"runbench: {msg}", file=sys.stderr)
    sys.exit(1)


# --- build --------------------------------------------------------------------
def build():
    """Compile the program's sources and the benchmark's JVM half into one
    class directory named after the sources' digest; reuse it if present."""
    main = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True))
    if not main:
        fail(f"no program sources under {ROOT}/src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS} (set SPARK_HOME)")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = f"{BUILD}/classes-{h.hexdigest()[:16]}"
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    r = subprocess.run(["java", "-Xss16m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
                       + main + bench, capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
    try:
        os.rename(tmp, out)
    except OSError:  # built concurrently by another run
        shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(f"{BUILD}/classes-*"):
        if old != out and ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return out


# --- inputs -------------------------------------------------------------------
def inputs(workload, seed):
    sys.path.insert(0, HERE)
    import gen
    data = f"{BUILD}/data-{gen.version()}"
    for old in glob.glob(f"{BUILD}/data-*"):
        if old != data:
            shutil.rmtree(old, ignore_errors=True)
    base = gen.ensure_base(f"{data}/base")
    if workload == "query_mix":
        return base, None, None
    store = f"{data}/store-{seed}"
    summary = gen.ensure_store(base, store, seed)
    os.utime(store)
    stores = sorted(glob.glob(f"{data}/store-*[0-9]"), key=os.path.getmtime)
    for old in stores[:-KEEP_STORES]:
        shutil.rmtree(old, ignore_errors=True)
    print(json.dumps({"store": {t: {k: v[k] for k in ("rows", "bytes", "marked")}
                                for t, v in summary["tables"].items()}}))
    return base, store, summary


# --- JVM ----------------------------------------------------------------------
def run_jvm(classes, args, work):
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS +
           # a fixed set of JIT compiler threads, so their processor time
           # can be told apart from the program's (ArchBench.jitSeconds)
           ["-Xmx3g", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse", f"-Dderby.system.home={tmp}",
            f"-Dderby.stream.error.file={tmp}/derby.log",
            "-cp", f"{classes}:{SPARK_JARS}/*", "graftbench.ArchBench"] + args +
           ["--work", work, "--out", f"{work}/raw.json"])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS))
    env.pop("SPARK_GRAFT_MASTER", None)
    env.pop("SPARK_GRAFT_TABLE_PARALLELISM", None)
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s")
        finally:  # also on SIGTERM or an interrupt: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            tail = f.read()[-4000:]
        fail(f"benchmark JVM exited {rc}:\n{tail}")
    with open(f"{work}/raw.json") as f:
        return json.load(f)


# --- metrics ------------------------------------------------------------------
def med(xs):
    return statistics.median(xs) if xs else 0.0


def work_cpu(rep):
    """Processor time of one repetition's work: every JVM thread but the
    JIT compiler's. Steal time is not charged to it, so it holds steady on
    a shared host where wall time swings with the host's load; the JIT
    share is left out because it falls from one repetition to the next as
    the JVM warms up."""
    return rep["cpu_s"] - rep["jit_s"]


def table_size(live, table):
    """Rows and data bytes of one live table (a parquet file or dir)."""
    import pyarrow.parquet as pq
    path = f"{live}/{table}.parquet"
    files = [path] if os.path.isfile(path) else glob.glob(f"{path}/*.parquet")
    return (sum(pq.read_metadata(f).num_rows for f in files),
            sum(os.path.getsize(f) for f in files))


def span_layers(spans, run):
    """The spans of one traced run and the self time per span name."""
    mine = [s for s in spans if s["run"] == run]
    child = {}
    for s in mine:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur_s"]
    selfs = {}
    for s in mine:
        selfs[s["name"]] = selfs.get(s["name"], 0.0) + s["dur_s"] - child.get(s["id"], 0.0)
    return mine, selfs


def innermost(mine, t_ms):
    """Name of the innermost span open at ``t_ms`` (ms since epoch)."""
    best = None
    for s in mine:
        if s["start_ms"] <= t_ms <= s["start_ms"] + s["dur_s"] * 1e3:
            best = s  # spans are recorded in start order: a later match is nested deeper
    return best["name"] if best else None


def spark_metrics(rep):
    jobs = rep["jobs"]
    tot = lambda k: sum(j.get(k, 0.0) for j in jobs)
    spans = sorted((j["start_ms"], j["end_ms"]) for j in jobs if j["end_ms"] >= 0)
    covered, reach = 0, rep["start_ms"]
    for s, e in spans:
        s = max(s, reach)
        if e > s:
            covered, reach = covered + e - s, e
    wall = rep["wall_s"]
    return {
        "spark.jobs": len(jobs), "spark.tasks": tot("tasks"), "spark.task_s": tot("task_s"),
        "spark.cpu_s": tot("cpu_s"), "spark.gc_s": tot("gc_s"),
        "spark.input_bytes": tot("input_bytes"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "spark.shuffle_fetch_wait_s": tot("shuffle_fetch_wait_s"),
        "spark.spill_bytes": tot("spill_bytes"),
        "spark.slot_util": tot("task_s") / (wall * CPUS) if wall > 0 else 0.0,
        "driver.gap_s": max(0.0, wall - covered / 1e3),
        "jvm.gc_s": rep["jvm_gc_s"],
        "memo.frames": rep["memo"]["frames"], "memo.builds": rep["memo"]["builds"],
        "memo.cached_mb": rep["memo"]["cached_mb"]}


def layer_names():
    """Every per-layer metric, in BENCHMARK.json order."""
    names = ["catalog.discover_s", "catalog.elect_s", "catalog.tables_elected",
             "catalog.schema_probes", "archiver.snapshot_s", "archiver.rows_scanned",
             "archiver.scan_per_archived", "archiver.jobs_per_table"]
    for k in ("parquet", "csv", "sql", "jdbc"):
        names += [f"sinks.{k}.s", f"sinks.{k}.rows_per_s"]
    names += ["sinks.write_amp", "sinks.bytes_per_row", "sinks.failures", "deleteback.s",
              "deleteback.rewrite_amp"]
    names += [f"query.{q}.s" for q in QUERIES]
    names += [f"operators.{f}.s" for f in dict.fromkeys(family(q) for q in QUERIES)]
    names += ["job.wall_s", "job.rows_per_s", "host.steal_s", "memo.frames", "memo.cached_mb",
              "memo.builds", "spark.jobs", "spark.tasks",
              "spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.input_bytes",
              "spark.shuffle_write_bytes", "spark.shuffle_fetch_wait_s", "spark.spill_bytes",
              "spark.slot_util", "driver.gap_s", "jvm.gc_s", "jvm.jit_cpu_s", "jvm.peak_rss_mb",
              "setup.session_s", "setup.register_s", "trace.wall_s",
              "trace.unattributed_s", "trace.overhead_s", "ops.failed_ratio"]
    return names


def unit(name):
    for suffix, u in (("rows_per_s", "rows/s"), ("_s", "s"), (".s", "s"),
                      ("bytes_per_row", "B/row"), ("_bytes", "B"), ("_mb", "MB"),
                      ("_amp", "ratio"), ("_per_archived", "ratio"), ("slot_util", "ratio"),
                      ("failed_ratio", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def family(q):
    """Library family of a query, from its name's letter prefix."""
    return FAMILIES[q[:len(q) - len(q.lstrip("abcdefghijklmnopqrstuvwxyz"))]]


def archive_layers(raw, rep, input_sizes):
    """Per-layer metrics of one traced archival repetition."""
    spans = raw["spans"]
    run = max(s["run"] for s in spans)
    mine, selfs = span_layers(spans, run)
    layer = lambda prefix: sum(v for k, v in selfs.items() if k.startswith(prefix))
    snapshot_jobs = [j for j in rep["jobs"]
                     if (innermost(mine, j["start_ms"]) or "").startswith("archiver:")]
    archived = sum(r["archived"] for r in rep["results"])
    ntables = max(1, len(rep["results"]))
    m = {"catalog.discover_s": selfs.get("catalog:discover", 0.0),
         "catalog.elect_s": selfs.get("catalog:probe", 0.0) + selfs.get("catalog:elect", 0.0),
         "catalog.tables_elected": rep["catalog"].get("elected", 0),
         "catalog.schema_probes": rep["catalog"].get("probes", 0),
         "archiver.snapshot_s": layer("archiver:"),
         "archiver.rows_scanned": sum(j.get("input_records", 0) for j in snapshot_jobs),
         "archiver.jobs_per_table": len(snapshot_jobs) / ntables}
    m["archiver.scan_per_archived"] = m["archiver.rows_scanned"] / archived if archived else 0.0
    rows_of = {r["table"]: r["archived"] for r in rep["results"]}
    for k in ("parquet", "csv", "sql", "jdbc"):
        calls = [c for c in rep["sinks"] if c["kind"] == k]
        secs = sum(c["seconds"] for c in calls)
        m[f"sinks.{k}.s"] = secs
        m[f"sinks.{k}.rows_per_s"] = (sum(rows_of[c["table"]] for c in calls if c["ok"]) / secs
                                      if secs else 0.0)
    # bytes the sinks' Spark write jobs wrote (a parquet merge rewrites the
    # whole archive), per byte of the archived rows as stored live
    written = sum(j.get("output_bytes", 0) for j in rep["jobs"]
                  if (innermost(mine, j["start_ms"]) or "").startswith("sinks:"))
    archived_bytes = sum(r["archived"] * input_sizes[r["table"]][1] / input_sizes[r["table"]][0]
                         for r in rep["results"] if input_sizes[r["table"]][0])
    m["sinks.write_amp"] = written / archived_bytes if archived_bytes else 0.0
    added = sum(rep["sink_bytes_added"].values())
    m["sinks.bytes_per_row"] = added / archived if archived else 0.0
    m["sinks.failures"] = sum(1 for c in rep["sinks"] if not c["ok"])
    m["deleteback.s"] = sum(d["s"] for d in rep["deleteback"])
    freed = sum(d["bytes_before"] - d["bytes_after"] for d in rep["deleteback"])
    m["deleteback.rewrite_amp"] = (sum(d["bytes_after"] for d in rep["deleteback"]) / freed
                                   if freed else 0.0)
    m["trace.unattributed_s"] = selfs.get("run", 0.0)
    return m


def mix_layers(raw, rep):
    """Per-layer metrics of one traced pass of the query mix."""
    spans = raw["spans"]
    run = max(s["run"] for s in spans)
    _, selfs = span_layers(spans, run)
    m = {f"query.{q['query']}.s": q["s"] for q in rep["queries"]}
    for q in rep["queries"]:
        k = f"operators.{family(q['query'])}.s"
        m[k] = m.get(k, 0.0) + selfs.get(f"operators:{q['query']}", 0.0)
    m["trace.unattributed_s"] = selfs.get("run", 0.0)
    return m


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fail-table", help="make the parquet sink throw for this table (tests)")
    a = ap.parse_args()

    classes = build()
    base, store, _ = inputs(a.workload, a.seed)
    work = f"{BUILD}/work/{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--base", base, "--store", store or base,
                "--queries", ",".join(QUERIES)]
        if a.fail_table:
            args += ["--fail-table", a.fail_table]
        raw = run_jvm(classes, args, work)
        result = evaluate(a, raw, base, store, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def evaluate(a, raw, base, store, work):
    sys.path.insert(0, HERE)
    import check
    reps = [r for r in raw["reps"] if r["traced"] == bool(a.trace)]
    untraced = [r for r in raw["reps"] if not r["traced"]]
    problems = []
    if a.workload == "query_mix":
        _, problems, nrows = check.check_queries(raw["out_dir"], base, QUERIES,
                                                 f"{BUILD}/oracle")
        for r in raw["reps"]:
            for q in r["queries"]:
                if q["error"]:
                    problems.append(f"{q['query']}: {q['error']}")
        # the oracle checks the written outputs; every timed pass must have
        # produced the same rows (fingerprint) as the checked output
        for r in raw["reps"]:
            for q in r["queries"]:
                if q["fingerprint"] is not None and \
                        q["fingerprint"] != raw["out_fingerprints"][q["query"]]:
                    problems.append(f"{q['query']}: a timed pass's fingerprint differs from "
                                    "the checked output's")
        attempted = len(QUERIES)
        failed = len({q["query"] for r in reps for q in r["queries"] if q["error"]})
        rows = sum(nrows.values())
        e2e = {"job_cpu_s": med([work_cpu(r) for r in untraced]),
               "rows_per_cpu_s": med([rows / work_cpu(r) for r in untraced])}
        wall = {"job.wall_s": med([r["wall_s"] for r in untraced]),
                "job.rows_per_s": med([rows / r["wall_s"] for r in untraced])}
        correct = not problems
    else:
        input_live = store if a.workload == "archive_initial" else f"{work}/day1/live"
        seed = None if a.workload == "archive_initial" else f"{work}/day1/parquet"
        last = raw["reps"][-1]
        ok, problems, moved = check.check_archive(last["dir"], input_live, seed,
                                                  raw["cut"], last["results"],
                                                  SINKS[a.workload])
        sig = lambda r: [(x["table"], x["archived"], x["deleted"], x["vetoed"])
                         for x in r["results"]]
        if any(sig(r) != sig(last) for r in raw["reps"]):
            problems.append("repetitions archived different rows")
        attempted = len(last["results"])
        failed = sum(1 for x in last["results"] if x["vetoed"])
        e2e = {"job_cpu_s": med([work_cpu(r) for r in untraced]),
               "rows_per_cpu_s": med([moved / work_cpu(r) for r in untraced])}
        wall = {"job.wall_s": med([r["wall_s"] for r in untraced]),
                "job.rows_per_s": med([moved / r["wall_s"] for r in untraced])}
        correct = ok and not problems
        if a.trace:
            sizes = {x["table"]: table_size(input_live, x["table"]) for x in last["results"]}
    if problems:
        print("check failed:\n  " + "\n  ".join(problems), file=sys.stderr)
    print(json.dumps({"reps": [{k: r[k] for k in ("traced", "wall_s", "cpu_s", "jit_s", "steal_s")}
                               for r in raw["reps"]]}))
    setup = raw["setup"]
    if not a.trace:
        metrics = {"setup_s": setup["setup_s"], **e2e}
        metrics = {k: {"value": v, "unit": {"setup_s": "s", "job_cpu_s": "s",
                                            "rows_per_cpu_s": "rows/cpu-s"}[k]}
                   for k, v in metrics.items()}
    else:
        traced = [r for r in raw["reps"] if r["traced"]][-1]
        m = spark_metrics(traced)
        m.update(mix_layers(raw, traced) if a.workload == "query_mix"
                 else archive_layers(raw, traced, sizes))
        m.update(wall)
        m.update({"host.steal_s": med([r["steal_s"] for r in untraced]),
                  "jvm.jit_cpu_s": med([r["jit_s"] for r in untraced]),
                  "jvm.peak_rss_mb": raw["jvm"]["peak_rss_mb"],
                  "setup.session_s": setup["session_s"], "setup.register_s": setup["register_s"],
                  "trace.wall_s": next(s["dur_s"] for s in raw["spans"]
                                       if s["name"] == "run" and s["parent"] == -1
                                       and s["run"] == max(x["run"] for x in raw["spans"])),
                  "trace.overhead_s": med([r["wall_s"] for r in reps]) -
                  med([r["wall_s"] for r in untraced]),
                  "ops.failed_ratio": failed / attempted if attempted else 0.0})
        metrics = {k: {"value": float(m.get(k, 0.0)), "unit": unit(k)} for k in layer_names()}
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": metrics}


if __name__ == "__main__":
    main()
