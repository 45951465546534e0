#!/usr/bin/env python3
"""JobInsight ETL benchmark: one workload, one seed, one result line.

    python3 etlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
library sources next to it with sbt (Spark comes from SPARK_HOME); later
runs reuse the build while the sources are unchanged. Inputs are generated
from the seed and cached. Everything a run writes goes under .bench_build/
in the checkout. The last line of standard output is the JSON result; the
lines before it print each metric with its unit and sample count.

See etlbench/README.md for the workloads, the metrics and how to read a trace.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build")
HEAP = "4g"
JOBS = 3_000  # day-0 distinct jobs
DAYS = 5  # daily batches replayed in a cycle
BATCH_FRAC = 0.025  # re-crawled share of known jobs per day
CURATION_SF = 0.01
# one query per curation family, and both as-of implementations
QUERIES = ["q_l13_winnow_neardup", "q_l21b_curation_e2e", "q_l63_pca_power",
           "q_a44_label_propagation", "q_w4_asof_join", "q_w4d_asof_native"]
FUNCTIONS = ["scan", "normalize_salary", "clean_title", "clean_company_name",
             "extract_location_info", "refine_location", "parse_last_update", "due_date",
             "time_remaining", "load_month", "parse_job_location"]
VIEWS = ["vw_current_jobs", "vw_job_locations", "vw_monthly_jobs", "vw_top_companies",
         "vw_top_locations", "vw_job_salary_filter", "vw_top10_hn"]
WORKLOADS = ("daily_incremental", "curation_mix")
# Paths the library writes to when misused from a checkout; a run must
# leave them as it found them.
GUARDED = ["target/tmp", "target/spark-warehouse", "spark-warehouse", "metastore_db", "derby.log"]
RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build
def source_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    jar = os.path.join(HERE, "target", "scala-2.13", "etlbench_2.13-0.1.0-SNAPSHOT.jar")
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == digest:
        return jar, digest
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                           cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                           timeout=max(60, deadline - time.time()))
    if p.returncode != 0 or not os.path.exists(jar):
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    return jar, digest


# ---------------------------------------------------------------- inputs
def inputs(kind, seed):
    if kind == "etl":
        key = f"etl-n{JOBS}-d{DAYS}-b{BATCH_FRAC}-s{seed}"
        make = lambda d: gen.gen_etl(d, seed, JOBS, DAYS, BATCH_FRAC)  # noqa: E731
    else:
        key = f"cur-sf{CURATION_SF}-s{seed}"
        make = lambda d: gen.gen_curation(d, seed, CURATION_SF)  # noqa: E731
    d = os.path.join(WORK, "inputs", key)
    if not os.path.exists(d):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.rename(tmp, d)
    return d


# ---------------------------------------------------------------- host
def host_shape():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_bytes = int(HEAP[:-1]) * (1 << 30)
    if heap_bytes > mem_kb * 1024:
        fail(f"heap {HEAP} exceeds physical memory ({mem_kb // 1024} MB)")
    sha = "none"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        sha = p.stdout.strip() or "none"
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "heap": HEAP, "git_sha": sha}


def snapshot_guarded():
    seen = {}
    for rel in GUARDED:
        top = os.path.join(ROOT, rel)
        if os.path.isfile(top):
            st = os.stat(top)
            seen[rel] = (st.st_size, st.st_mtime_ns)
        for d, _, fs in os.walk(top):
            for f in fs:
                p = os.path.join(d, f)
                st = os.stat(p)
                seen[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return seen


# ---------------------------------------------------------------- stats
def tail(values):
    """Highest percentile with at least ten samples above it, as (value,
    percentile, n); with fewer than 11 samples, the maximum (p100)."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0, n
    k = n - 11
    return v[k], round(100.0 * (k + 1) / n, 1), n


# ---------------------------------------------------------------- checks
def check_daily(op, truth):
    """Error text for one daily operation, or None: the written version
    against the generator's ground truth, zero validator violations, and
    every BI call of the refresh that followed it."""
    c = op["check"]
    if "error" in c:
        return c["error"]
    t = truth["days"][c["day"] - 1]
    d = c["digest"]
    want = {"jobs": t["jobs"], "dim_job_rows": t["dim_job_rows"], "facts": t["facts"],
            "facts_by_month": t["facts_by_month"]}
    got = {k: d[k] for k in want}
    if got != want:
        return f"day {c['day']}: got {got}, want {want}"
    bad = {k: v for k, v in c["validator"].items() if v != 0}
    if bad:
        return f"validator violations {bad}"
    for v in c["views"]:
        err = check_view(v, t)
        if err:
            return f"day {c['day']} {v['kind']} {v['params']}: {err}"
    return None


def check_view(v, t):
    k, p, rows = v["kind"], v["params"], v["rows"]
    if k == "vw_current_jobs":
        want = [t["bands"][p["band"]]]
        return None if rows == want else f"{rows} != {want}"
    if k == "vw_job_locations":
        return None if rows and all(r[1] > 0 for r in rows) else f"{rows}"
    if k == "vw_monthly_jobs":
        want = t["jobs_by_month"].get(p["month"], 0)
        return None if [r[2] for r in rows] == [want] else f"unique_jobs {rows} != {want}"
    if k == "vw_top_companies":
        ok = rows == v["full_prefix"] and len(rows) == p["n"] and v["full_job_count_sum"] == t["jobs"]
        return None if ok else f"top-{p['n']} or job total {v['full_job_count_sum']} wrong"
    if k == "vw_top_locations":
        return None if rows and rows == v["full_prefix"] else "not the prefix of the full ranking"
    if k == "vw_job_salary_filter":
        return None if rows[0][0] > 0 and rows[0][1] == 0 else f"{rows}"
    if k == "vw_top10_hn":
        ok = (len(rows) <= 10 and all(10 <= r[3] and r[4] <= 20 for r in rows)
              and [r[5] for r in rows] == sorted(r[5] for r in rows))
        return None if ok else f"{rows}"
    if k == "read_partitions":
        want = [[m, t["facts_by_month"][m]] for m in p["months"]]
        return None if rows == want else f"{rows} != {want}"
    return f"unknown call {k}"


def canon(df):
    """Order-insensitive digest of a result (column names sorted)."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if hasattr(v, "__len__") and not isinstance(v, (str, bytes)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("|".join(cell(v) for v in row) + "\n").encode())
    return f"{len(df)}:{h.hexdigest()}"


def check_curation(run_dir, input_dir, oracle_sql):
    """Each query's written result against its registry DuckDB oracle over
    the same inputs; oracle digests are cached with the inputs."""
    import duckdb
    import pandas as pd
    errs = []
    con = None
    for q in QUERIES:
        sql = oracle_sql.get(q)
        if sql is None:
            errs.append(f"{q}: no oracle")
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        cache = os.path.join(input_dir, f"oracle-{q}-{key}.txt")
        if os.path.exists(cache):
            want = open(cache).read()
        else:
            if con is None:
                con = duckdb.connect()
                con.execute(f"SET temp_directory='{os.path.join(run_dir, 'duck')}'")
                for f in sorted(os.listdir(input_dir)):
                    if f.endswith(".parquet"):
                        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                    f"read_parquet('{os.path.join(input_dir, f)}')")
            want = canon(con.execute(sql).df())
            with open(cache, "w") as f:
                f.write(want)
        d = os.path.join(run_dir, "results", q)
        parts = sorted(p for p in os.listdir(d) if p.endswith(".parquet")) if os.path.isdir(d) else []
        if not parts:
            errs.append(f"{q}: no result")
            continue
        got = canon(pd.concat([pd.read_parquet(os.path.join(d, p)) for p in parts], ignore_index=True))
        if got != want:
            errs.append(f"{q}: result {got[:24]} != oracle {want[:24]}")
    return errs


# ---------------------------------------------------------------- per-layer
def per_layer(r, rows_in, cores):
    spans = {s["id"]: s for s in r["spans"]}
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s)

    def cpu(s):  # inclusive: own driver CPU, own jobs' task CPU, children
        return s["driver_cpu_self_s"] + s["task_cpu_s"] + sum(cpu(c) for c in kids.get(s["id"], []))

    def subtree(s):
        yield s
        for c in kids.get(s["id"], []):
            yield from subtree(c)

    def root(s):
        while s["parent"] != -1:
            s = spans[s["parent"]]
        return s

    traced = [o for o in r["ops"] if o["phase"] == "traced"]
    traced_ids = {o["i"] for o in traced}
    op_roots = [s for s in spans.values() if s["name"] == "op" and s["op"] in traced_ids]
    timed_roots = op_roots + [s for s in spans.values() if s["name"] == "setup"]
    m = {}

    def put(name, value):
        m[name] = float(value)

    n_ops = max(1, len(op_roots))
    op_spans = [x for s in op_roots for x in subtree(s)]
    op_cpu = sum(cpu(s) for s in op_roots)
    op_wall = sum(s["wall_s"] for s in op_roots)
    put("spark.jobs_per_op", sum(x["jobs"] for x in op_spans) / n_ops)
    put("spark.tasks_per_op", sum(x["tasks"] for x in op_spans) / n_ops)
    put("spark.cpu_s_per_op", op_cpu / n_ops)
    put("spark.core_util", op_cpu / (op_wall * cores) if op_wall else 0.0)
    put("spark.gc_s_per_op", sum(o["gc_s"] for o in traced) / n_ops)
    put("spark.scheduler_delay_s_per_op", sum(x["scheduler_delay_s"] for x in op_spans) / n_ops)
    put("spark.shuffle_write_bytes_per_op", sum(x["shuffle_write_bytes"] for x in op_spans) / n_ops)
    put("spark.spill_bytes_per_op", sum(x["spill_bytes"] for x in op_spans) / n_ops)
    put("spark.pinned_mb", max((o["pinned_bytes"] for o in traced), default=0) / (1 << 20))
    untraced = [o["wall_s"] for o in r["ops"] if o["phase"] == "untraced"]
    put("trace.overhead_ratio",
        statistics.median([o["wall_s"] for o in traced]) / statistics.median(untraced) - 1)
    all_cpu = sum(cpu(s) for s in spans.values() if s["parent"] == -1)
    put("trace.untagged_cpu_share", r["untagged_task_cpu_s"] / all_cpu if all_cpu else 0.0)

    def named(n):
        """Spans called n under traced operations; under set-up only for
        the spans that run nowhere else (the day-0 build)."""
        ss = [s for s in spans.values() if s["name"] == n and root(s) in timed_roots]
        in_ops = [s for s in ss if root(s)["name"] == "op"]
        return in_ops or ss

    def share(n, f):
        ss = named(n)
        roots = {root(s)["id"]: root(s) for s in ss}
        base = sum(f(x) for x in roots.values())
        return sum(f(s) for s in ss) / base if base else 0.0

    def mean_count(n, k):
        vs = [s["counts"][k] for s in named(n) if k in s["counts"]]
        return sum(vs) / len(vs) if vs else 0.0

    etl_spans = ["app.raw_to_staging", "app.staging_to_dwh", "app.incremental_batch",
                 "dwh.dims", "dwh.dim_location", "dwh.facts", "dwh.bridge", "dwh.scd2",
                 "dwh.fact_merge", "dwh.bridge_rebuild", "io.write", "io.read", "quality.validator"]
    for n in etl_spans:
        put(f"{n}.cpu_share", share(n, cpu))
        put(f"{n}.wall_share", share(n, lambda s: s["wall_s"]))
    # star rows a view reads (the fact, plus the bridge where it joins
    # locations) per row the client receives
    bridged = {"vw_job_locations", "vw_top_locations", "vw_job_salary_filter", "vw_top10_hn"}
    for v in VIEWS:
        ss = named(f"views.{v}")
        put(f"views.{v}.wall_share", share(f"views.{v}", lambda s: s["wall_s"]))
        put(f"views.{v}.jobs", sum(x["jobs"] for s in ss for x in subtree(s)) / len(ss) if ss else 0)
        read = got = 0
        for o in traced:
            star = o["check"].get("star_rows", {})
            for call in o["check"].get("views", []):
                if call["kind"] == v:
                    read += star["fact"] + (star["bridge"] if v in bridged else 0)
                    got += len(call["rows"])
        put(f"views.{v}.rows_examined_per_row", read / max(1, got))
    for q in QUERIES:
        ss = named(f"queries.{q}")
        put(f"queries.{q}.wall_share", share(f"queries.{q}", lambda s: s["wall_s"]))
        put(f"queries.{q}.cpu_share", share(f"queries.{q}", cpu))
        put(f"queries.{q}.jobs", sum(x["jobs"] for s in ss for x in subtree(s)) / len(ss) if ss else 0)

    # each function alone over the pinned raw batch, against what the
    # whole raw_to_staging chain costs per call
    stg = named("app.raw_to_staging")
    stg_cpu = sum(cpu(s) for s in stg) / len(stg) if stg else 0.0
    fn_spans = [s for s in spans.values() if s["name"].startswith("functions.")]
    for s in sorted(fn_spans, key=lambda s: s["name"]):
        put(f"{s['name']}.cpu_share", cpu(s) / stg_cpu if stg_cpu else 0.0)
    for fn in FUNCTIONS:
        m.setdefault(f"functions.{fn}.cpu_share", 0.0)
    put("functions.rows", max((s["counts"].get("rows", 0) for s in fn_spans), default=0))

    put("app.raw_to_staging.rows_in", sum(rows_in.get(root(s)["op"], 0) for s in stg) / len(stg)
        if stg else 0)
    put("app.raw_to_staging.rows_out", mean_count("app.raw_to_staging", "rows_out"))
    for n in ["dwh.dims", "dwh.dim_location", "dwh.facts", "dwh.bridge"]:
        put(f"{n}.rows", mean_count(n, "rows"))
    for n in ["dwh.dims", "dwh.facts", "dwh.bridge"]:
        ss = named(n)
        put(f"{n}.shuffle_bytes", sum(s["shuffle_write_bytes"] for s in ss) / len(ss) if ss else 0)
    for k in ["rows_new", "rows_changed", "rows_unchanged"]:
        put(f"dwh.scd2.{k}", mean_count("dwh.scd2", k))
    put("dwh.scd2.rewrite_ratio",
        mean_count("dwh.scd2", "rows_written") / max(1.0, mean_count("dwh.scd2", "rows_changed")))
    for k in ["rows_matched", "rows_new"]:
        put(f"dwh.fact_merge.{k}", mean_count("dwh.fact_merge", k))
    for k in ["rows_touched", "rows_kept"]:
        put(f"dwh.bridge_rebuild.{k}", mean_count("dwh.bridge_rebuild", k))

    writes = named("io.write")
    put("io.write.bytes", mean_count("io.write", "bytes"))
    put("io.write.files", mean_count("io.write", "files"))
    setup_w = [s for s in spans.values() if s["name"] == "io.write" and root(s)["name"] == "setup"]
    ratio = [s["counts"]["bytes"] / s["counts"]["input_bytes"] for s in setup_w
             if s["counts"].get("input_bytes")]
    put("io.stored_bytes_per_input_byte", statistics.median(ratio) if ratio else 0)
    amp = [s["counts"]["bytes"] / s["counts"]["input_bytes"]
           for s in writes if root(s)["name"] == "op" and s["counts"].get("input_bytes")]
    put("io.write_amp", statistics.median(amp) if amp else 0)
    reads = named("io.read")
    put("io.read.bytes", sum(x["input_bytes"] for s in reads for x in subtree(s)) / len(reads)
        if reads else 0)
    fr = sum(s["counts"].get("files_read", 0) for s in reads)
    ft = sum(s["counts"].get("files_total", 0) for s in reads)
    put("io.read.files_read", fr / len(reads) if reads else 0)
    put("io.read.pruned_ratio", 1 - fr / ft if ft else 0)
    val = named("quality.validator")
    put("quality.validator.jobs", sum(s["jobs"] for s in val) / len(val) if val else 0)
    return m


def unit_of(name):
    if name.endswith(("_share", "_ratio", "core_util", "_per_input_byte", "write_amp")):
        return "ratio"
    if name.endswith("_s_per_op"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_per_op"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("rows_examined_per_row"):
        return "rows/row"
    return "count"


def layer_table(r):
    """Per span name over the traced operations: calls, inclusive and self
    wall, CPU, jobs. Printed for people; the full spans go to the trace file."""
    rows = []
    for n, b in sorted(r["by_name"].items()):
        rows.append(f"  {n:40s} calls={int(b['calls']):3d} wall={b['wall_s']:8.3f}s "
                    f"self={b['self_s']:8.3f}s cpu_self={b['cpu_self_s']:8.3f}s jobs={int(b['jobs'])}")
    return rows


# ---------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    deadline = start + RUN_LIMIT_S
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources under {ROOT}/src/main/scala: run from a checkout of the repo")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    host = host_shape()
    cores = host["nproc"]
    # the first run in a checkout builds; it may take longer than RUN_LIMIT_S
    jar, digest = build(start + 850)
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 10)

    kind = "cur" if a.workload == "curation_mix" else "etl"
    in_dir = inputs(kind, a.seed)
    truth = json.load(open(os.path.join(in_dir, "truth.json"))) if kind == "etl" else None

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    guarded = snapshot_guarded()
    cp = os.pathsep.join([jar, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "etlbench.Main", "--workload", a.workload, "--input", in_dir,
              "--run", run_dir, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--seed", str(a.seed),
              "--days", str(DAYS),
              "--bands", ",".join(f"{lo}:{hi}" for lo, hi in gen.BANDS),
              "--queries", ",".join(QUERIES)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded its time limit, see {run_dir}/jvm.log")
    if p.returncode != 0:
        fail(f"harness exited with {p.returncode}, see {run_dir}/jvm.log")
    r = json.load(open(os.path.join(run_dir, "jvm_result.json")))

    # ---- output checks (after the timed region)
    ops = [o for o in r["ops"] if o["phase"] == "untraced"] if not a.trace else r["ops"]
    if a.workload == "daily_incremental":
        errs = [check_daily(o, truth) for o in r["ops"]]
        rows = {o["i"]: truth["days"][o["check"]["day"] - 1]["batch_rows"]
                for o in r["ops"] if "day" in o["check"]}
        rows_in = dict(rows)
        rows_in[-1] = truth["day0"]["raw_rows"]
        out_bytes = [o["check"]["written_bytes"] / o["check"]["input_bytes"]
                     for o in ops if "written_bytes" in o["check"]]
    else:
        bad = check_curation(run_dir, in_dir, r["summary"]["oracle_sql"])
        errs = ["; ".join(bad) if bad else None for _ in r["ops"]]
        import pyarrow.parquet as pq
        n_in = sum(pq.ParquetFile(os.path.join(in_dir, f)).metadata.num_rows
                   for f in os.listdir(in_dir) if f.endswith(".parquet"))
        rows = {o["i"]: n_in for o in r["ops"]}
        rows_in = {}
        in_bytes = sum(os.path.getsize(os.path.join(in_dir, f))
                       for f in os.listdir(in_dir) if f.endswith(".parquet"))
        res = os.path.join(run_dir, "results")
        out_bytes = [sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(res)
                         for f in fs if f.endswith(".parquet")) / in_bytes]
    after = snapshot_guarded()
    changed = {k for k in set(guarded) | set(after) if guarded.get(k) != after.get(k)}
    if changed:
        errs = [f"wrote outside its run dir: {sorted(changed)[:5]}" for _ in errs]
    err_by_op = {o["i"]: e for o, e in zip(r["ops"], errs)}
    failed = sum(1 for o in ops if err_by_op[o["i"]])
    for o in ops:
        if err_by_op[o["i"]]:
            print(f"check failed (op {o['i']}): {err_by_op[o['i']]}", file=sys.stderr)

    # ---- metrics
    walls = [o["wall_s"] for o in ops if o["phase"] == "untraced"]
    p50 = statistics.median(walls)
    tail_v, tail_pct, n = tail(walls)
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "host": dict(host, cores_used=r["cores"], heap_max_bytes=r["heap_max_bytes"],
                     spark_version=r["spark_version"], java_version=r["java_version"]),
        "source_sha256": digest,
        "inputs": {"dir": os.path.relpath(in_dir, ROOT), "jobs": JOBS, "days": DAYS,
                   "batch_frac": BATCH_FRAC, "curation_sf": CURATION_SF},
        "samples": {"ops": len(walls), "tail_percentile": tail_pct},
        "session_start_s": r["session_start_s"], "setup_prep_s": r["setup_prep_s"],
        "op_walls_s": walls, "errors": [e for e in errs if e],
    }
    if a.workload == "curation_mix":
        qw = r["summary"]["query_walls_s"]
        record["mix_s"] = sum(statistics.median(v) for v in qw.values())
        record["query_median_s"] = {q: statistics.median(v) for q, v in qw.items()}
    if a.trace == 0:
        metrics = {
            "setup_s": (r["session_start_s"] + r["setup_prep_s"], "s", 1),
            "op_p50_s": (p50, "s", n),
            "rows_per_s": (statistics.median(rows[o["i"]] / o["wall_s"] for o in ops), "1/s", n),
            "write_bytes_per_input_byte": (statistics.median(out_bytes), "ratio", n),
            "op_cpu_s": (statistics.median(o["cpu_s"] for o in ops), "s", n),
        }
        record["op_tail_s"] = tail_v
        record["peak_rss_mb"] = r["peak_rss_kb"] / 1024
        print(f"{a.workload} seed={a.seed}: {n} ops, tail = p{tail_pct}, "
              f"{failed}/{len(ops)} failed")
    else:
        metrics = {k: (v, unit_of(k), len(r["ops"]))
                   for k, v in per_layer(r, rows_in, r["cores"]).items()}
        record["by_name"] = r["by_name"]
        record["untagged_task_cpu_s"] = r["untagged_task_cpu_s"]
        record["tracing_overhead_s"] = (statistics.median(
            [o["wall_s"] for o in r["ops"] if o["phase"] == "traced"]) - p50)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{a.workload}-s{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"record": record, "spans": r["spans"]}, f)
        print(f"{a.workload} seed={a.seed}: traced, spans in {os.path.relpath(trace_path, ROOT)}")
        print(f"tracing overhead: {record['tracing_overhead_s']:+.3f} s per op")
        print("\n".join(layer_table(r)))
    record["metrics"] = {k: {"value": v, "unit": u, "n": c} for k, (v, u, c) in metrics.items()}
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for k, (v, u, c) in metrics.items():
        print(f"  {k:48s} {v:16.6f} {u:6s} n={c}")
    for sub in ("wh", "results", "spark-local", "spark-warehouse", "tmp", "duck"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not changed, "attempted": len(ops),
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))


if __name__ == "__main__":
    main()
