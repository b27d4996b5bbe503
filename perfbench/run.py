#!/usr/bin/env python3
"""The repository's benchmark: block catch-up, live ingest beside served
reads, and the analytics operators.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark (`perfbench/build.sbt`, which compiles `src/main` unchanged
next to `perfbench/src`) into `.bench_build/`; later runs reuse the build
while no source changed. Each run generates its inputs from the seed
(`gen.py`), runs one JVM with Spark sized from the host, checks every output,
and prints one JSON object as the last line of standard output.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json; `--trace 1`
reports the per-layer metrics, measured in a separate traced pass.
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

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170

# The block feed is sf0.1 (12,500 blocks over 1,500 accounts). The analytics
# tables are sf0.02: the listed queries cost nearly the same at sf0.1 on 4
# cores (fixed per-query work dominates), and the DuckDB oracle of every
# run stays cheap.
INGEST_SF = 0.1
ANALYTICS_SF = 0.02
# One query of every family: the small spread-taxed rows (scr hm un dx a4c
# qn), the pair-level dedup row md, and the cheapest oracle-checked row of
# the ann, mm and pack families; see perfbench/METRICS.md.
QUERIES = ["md", "dx", "scr", "hm", "un", "a4c", "qn", "vq8", "mav", "sr"]
FAMILIES = ["core", "rel", "dedup", "ann", "text", "mm", "pack"]

# Per workload: where latency_ms_p50 and latency_ms_tail come from (a
# sample series, summarised here, or a pair of values in seconds that the
# JVM computed), the value behind throughput_per_s, the tables the
# workload reads and their scale.
WORKLOADS = {
    "ingest": ("live.visible_ms", "ingest.blocks_per_s", ("events",), INGEST_SF),
    "analytics": (("analytics.geomean_s", "analytics.geomean_slowest_s"),
                  "analytics.queries_per_s", None, ANALYTICS_SF),
}

END_TO_END = [("setup_s", "s"), ("peak_rss_mb", "MB"), ("latency_ms_p50", "ms"),
              ("latency_ms_tail", "ms"), ("throughput_per_s", "1/s")]

JDBC_TABLES = ["summaries", "ati", "cti", "cis2_deltas", "cis2_tokens", "bindings"]
PER_LAYER = (
    [("sources.rows_fetched_per_feed_row", "ratio"), ("sources.fetch_calls", "count"),
     ("sources.fetch_ms", "ms"),
     ("streaming.batches", "count"), ("streaming.blocks_per_batch", "count"),
     ("streaming.latestOffset_ms", "ms"), ("streaming.queryPlanning_ms", "ms"),
     ("streaming.addBatch_ms", "ms"), ("streaming.walCommit_ms", "ms"),
     ("streaming.commitOffsets_ms", "ms"), ("streaming.fixed_ms_per_batch", "ms"),
     ("sink.jobs", "count"), ("sink.tasks", "count"), ("sink.shuffle_bytes", "B"),
     ("sink.task_run_ms", "ms")]
    + [(f"jdbc.{t}.{m}", u) for t in JDBC_TABLES
       for m, u in (("exec_calls", "count"), ("rows", "count"), ("exec_ms", "ms"),
                    ("rows_skipped", "count"))]
    + [("jdbc.statements_per_block", "count"), ("jdbc.commits", "count"),
       ("jdbc.commit_ms", "ms"), ("jdbc.connections_opened", "count"),
       ("jdbc.supply_cas_retries", "count"), ("jdbc.supply_insert_races", "count"),
       ("jdbc.busy_share", "ratio"), ("db.bytes_per_user_byte", "ratio"),
       ("serve.id_probe_ms", "ms"), ("serve.lookup_ms", "ms"), ("serve.plan_ms", "ms"),
       ("serve.jobs_per_page", "count"), ("serve.tasks_per_page", "count"),
       ("serve.bytes_read_per_page", "B"), ("serve.rows_scanned_per_row_returned", "ratio")]
    + [(f"analytics.{q}.wall_s", "s") for q in QUERIES]
    + [(f"analytics.{f}.s", "s") for f in FAMILIES]
    + [("analytics.plan_ms", "ms"), ("analytics.tasks", "count"),
       ("analytics.shuffle_bytes", "B"), ("analytics.spill_bytes", "B"),
       ("analytics.gc_ms", "ms"), ("analytics.cpu_util", "ratio"),
       ("spark.gc_ms", "ms"), ("spark.executor_cpu_ms", "ms"),
       ("ingest.parallel_speedup", "x"),
       ("trace.overhead_latency_pct", "%"), ("trace.overhead_throughput_pct", "%")])

with open(os.path.join(HERE, "jdk-opens.txt")) as _f:
    JDK_OPENS = _f.read().split()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ stats

def tail(values):
    """The highest percentile with at least ten samples beyond it, never
    below the median: (value, percentile, sample count)."""
    xs = sorted(values)
    n = len(xs)
    i = max(n - 11, n // 2)
    return xs[i], 100.0 * (i + 1) / n, n


def summary(values):
    t, pct, n = tail(values)
    return {"p50": statistics.median(values), "tail": t, "tail_pct": pct, "n": n}


# ------------------------------------------------------------------ build

def host():
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return cpus, f"{min(8, max(2, kb // 2097152))}g"


def source_stamp():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/main/**/*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile when a source changed since the last build; the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx3g"
        + f" -XX:-UsePerfData -Djava.io.tmpdir={BUILD}/tmp"))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(p.stdout)
    cps = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l]
    if p.returncode != 0 or not cps:
        raise SystemExit(f"build failed, see {BUILD}/build.log")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


# -------------------------------------------------------------------- run

def run_jvm(cp, workload, args, data, work, out, cpus, heap, budget_s):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # A fixed heap and young generation keep the heap's size, and with it
    # the peak RSS, from following the collector's adaptive sizing.
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g", "-XX:-UsePerfData"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
              f"-Dderby.stream.error.file={work}/derby.log",
              "-Dderby.system.durability=test", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", work, "--out", out, "--cpus", str(cpus),
              "--queries", ",".join(QUERIES)])
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"run exceeded {budget_s:.0f} s; see {out}/jvm.log")
    if code != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM exited with {code}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def oracle_check(data, out, res):
    """Each analytics result against DuckDB running the query's oracle SQL
    over the same generated tables, compared the way tools/compare.py
    compares them (sorted columns, canonical values, row multisets)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import compare
    import duckdb
    import pyarrow.parquet as pq
    adir = os.path.join(out, "analytics")
    with open(os.path.join(adir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(t)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    bad = []
    for q in QUERIES:
        files = glob.glob(os.path.join(adir, q, "*.parquet"))
        if not files or q not in oracle:
            bad.append(f"{q}: {'no output' if not files else 'no oracle SQL'}")
            continue
        tbl = pq.read_table(files)
        spark_cols = {c: tbl.column(c).to_pylist() for c in tbl.column_names}
        r = con.execute(oracle[q])
        names = [d[0] for d in r.description]
        rows = r.fetchall()
        duck_cols = {c: [row[i] for row in rows] for i, c in enumerate(names)}
        if (sorted(spark_cols) != sorted(duck_cols)
                or compare.rows_of(spark_cols, spark_cols) != compare.rows_of(duck_cols, duck_cols)):
            bad.append(f"{q}: differs from the oracle ({tbl.num_rows} vs {len(rows)} rows)")
    res["checks"].append({"name": "analytics.oracle", "ok": not bad})
    res["notes"].extend(bad)
    # A query that failed its check pass is already counted as failed.
    res["failed"] += sum(1 for b in bad if "no output" not in b)


def latency(workload, res, prefix=""):
    """(p50, tail) in ms of the workload's latency figures; `prefix`
    selects the traced pass. None when the run has none."""
    src = WORKLOADS[workload][0]
    if isinstance(src, tuple):
        vals = [res["detail"].get(prefix + k) for k in src]
        return None if None in vals else tuple(1000.0 * v for v in vals)
    xs = res["series"].get(prefix + src)
    if not xs:
        return None
    s = summary(xs)
    return s["p50"], s["tail"]


def metrics(workload, res, trace):
    detail, layers = res["detail"], res["layers"]
    thr_key = WORKLOADS[workload][1]
    if trace:
        vals = {k: float(layers.get(k, 0.0)) for k, _ in PER_LAYER}
        base, traced = latency(workload, res), latency(workload, res, "traced.")
        if base and traced:
            vals["trace.overhead_latency_pct"] = 100.0 * (traced[0] - base[0]) / base[0]
        if thr_key in detail and "traced." + thr_key in detail:
            b = detail[thr_key]
            vals["trace.overhead_throughput_pct"] = 100.0 * (b - detail["traced." + thr_key]) / b
        return {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER}
    p50, t = latency(workload, res) or (0.0, 0.0)
    vals = {"setup_s": res["setup"]["setup_s"], "peak_rss_mb": res["peak_rss_mb"],
            "latency_ms_p50": p50, "latency_ms_tail": t,
            "throughput_per_s": detail.get(thr_key, 0.0)}
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}


def report(workload, res):
    """One human-readable line of every named metric of the workload."""
    parts = {k: v for k, v in res["detail"].items() if not k.startswith("traced.")}
    for name, xs in res["series"].items():
        if xs and not name.startswith("traced."):
            s = summary(xs)
            stem = name[:-3] if name.endswith("_ms") else name
            parts[f"{stem}_ms_p50"] = s["p50"]
            parts[f"{stem}_ms_tail"] = s["tail"]
            parts[f"{stem}_ms_tail_pct"] = s["tail_pct"]
            parts[f"{stem}_ms_n"] = s["n"]
    parts["setup_s"] = res["setup"]["setup_s"]
    parts["peak_rss_mb"] = res["peak_rss_mb"]
    parts["ops.failed_ratio"] = res["failed"] / max(1, res["attempted"])
    print(f"[perfbench] {workload}: " + json.dumps({"metrics": parts, "env": res["env"],
                                                   "checks": res["checks"],
                                                   "notes": res["notes"][:20]}))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no program sources next to the benchmark (expected src/main/scala)")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    t_start = time.time()
    cpus, heap = host()

    tables, sf = WORKLOADS[args.workload][2:]
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    data = os.path.join(BUILD, "data", tag)
    work = os.path.join(BUILD, "work", tag)
    out = os.path.join(BUILD, "results", tag)
    for d in (data, work, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    try:
        gen.generate(data, args.seed, sf, tables or gen.TABLES)
        res = run_jvm(cp, args.workload, args, data, work, out, cpus, heap,
                      DEADLINE_S - (time.time() - t_start))
        if args.workload == "analytics":
            oracle_check(data, out, res)
    finally:
        shutil.rmtree(os.path.join(out, "analytics"), ignore_errors=True)
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
    res["env"].update({"host_cpus": cpus, "heap": heap,
                       "seed": args.seed, "scale_factor": sf})
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(res, f)
    report(args.workload, res)
    print(json.dumps({
        "correct": all(c["ok"] for c in res["checks"]) and res["failed"] == 0,
        "attempted": max(1, int(res["attempted"])),
        "failed": int(res["failed"]),
        "metrics": metrics(args.workload, res, args.trace)}))


if __name__ == "__main__":
    main()
