#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, two workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload mapreduce --seed 1 --seconds 19 --trace 0

It builds the engine and the harness from source (sbt, offline; skipped
when nothing changed), derives the inputs from the sf0.1 fixture and
`--seed` (tools/make_sf1.py's per-copy key offset and perturbation), runs
one closed-loop client on one `local[nproc]` session (harness/), checks
every output, and prints one JSON line last on stdout. `--trace 0` reports
the end-to-end metrics and `--trace 1` the per-layer ones (README.md lists
both, with the layer each metric belongs to).

Exit status: 0 when every output is correct, 1 when a check failed (the
JSON line is still printed), 2 when the benchmark could not run at all.
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
import time

sys.dont_write_bytecode = True  # no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
# Byte-identical copies of the read-only sf0.1 test tables (TESTDATA.md)
# that the workloads read; SHA256SUMS pins them.
FIXTURE = os.path.join(HERE, "fixture", "sf0.1")
sys.path.insert(0, os.path.join(ROOT, "tools"))

# Two workloads that stress different layers (README.md gives the numbers
# behind the choice). `copies` is the scale-up of the sf0.1 tables.
WORKLOADS = {
    # The paper's map -> hash shuffle -> reduce model. At 3 copies task
    # CPU exceeds wall time. It bypasses eager materialization and
    # quantizer fits.
    "mapreduce": {
        "copies": 3,
        "queries": ["q01_inverted_index", "q15_sessionization",
                    "q37_tpch_q3"],
        "tables": ["documents", "events", "customer", "orders", "lineitem"],
    },
    # CurationRun.run, the product entry point: eager materializations,
    # hundreds of tiny jobs, a quantizer fit, and the only artifact writes.
    "curate": {
        "copies": 1,
        "queries": [],
        "tables": ["documents", "embeddings"],
    },
}

# What the trace should show per workload: mapreduce is executor-bound,
# curate is construction- and scheduler-bound.
SPLIT = {"mapreduce": "task_cpu_over_wall > 1",
         "curate": "build_share >= 0.5"}

# Spark 4 on JDK 17 outside spark-submit: the engine's build.sbt passes the
# same list (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A fixed, pre-touched heap: the JVM's resident size then does not depend on
# when G1 decides to grow the heap (which varied peak RSS by up to 40%
# between runs). nonheap_rss_mb is the peak RSS less this heap: the
# engine's generated classes, JIT code, threads and direct buffers.
HEAP = "3g"


def log(*parts):
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def fail_setup(msg):
    log("cannot run:", msg)
    sys.exit(2)


# ---- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
                   + glob.glob(os.path.join(HARNESS, "src/**/*"), recursive=True)
                   + [os.path.join(d, f) for d in (ROOT, HARNESS)
                      for f in ("build.sbt", "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine (with its own build) and the harness with sbt;
    return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    log("building engine + harness (sbt, offline)")
    t0 = time.time()
    # its own process group: `sbt` is a script, and a timeout must also
    # stop the JVM it starts
    p = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=840)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail_setup("sbt build timed out")
    lines = out.splitlines()
    cps = [l for l in lines if "/harness/scala-2.13/classes" in l
           and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail_setup("sbt build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


# ---- inputs ----------------------------------------------------------------

def check_fixture():
    with open(os.path.join(FIXTURE, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(FIXTURE, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != digest:
                    fail_setup(f"fixture {name} does not match SHA256SUMS")


def derive(out_dir, seed, copies, tables):
    """Write each table as `copies` shifted copies of its sf0.1 rows, as
    tools/make_sf1.py builds its scale-ups: copy i adds i * make_sf1.OFF to
    every key, prefixes each document with the token `c<i>` and jitters one
    coordinate of each embedding. The seed only picks the copy numbers
    (from 1 to 999), hence the key offsets and perturbations; every copy is
    perturbed. Return {table: [rows, bytes]}."""
    import random
    import pyarrow as pa
    import pyarrow.parquet as pq
    import make_sf1  # tools/make_sf1.py
    idx = random.Random(seed).sample(range(1, 1000), copies)
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name in tables:
        base = pq.read_table(os.path.join(FIXTURE, f"{name}.parquet"))
        t = pa.concat_tables(make_sf1.shift(base, name, i) for i in idx)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=make_sf1.ROW_GROUP_ROWS)
        sizes[name] = [t.num_rows, os.path.getsize(path)]
    return sizes, idx


# ---- harness ---------------------------------------------------------------

def java_cmd(classpath, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return ["java"] + flags + ["-cp", classpath, "perfbench.Harness"] + args


def harness(classpath, work, args, timeout):
    os.makedirs(work, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    env.pop("SPARK_GRAFT_SF_DIR", None)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(java_cmd(classpath, work, args), cwd=work, env=env,
                             stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail_setup(f"harness exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ---- correctness -----------------------------------------------------------

def compare(check_dir, data_dir, names, quiet=False):
    """tools/compare.py, the engine's own oracle gate: {name: passed}."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                        check_dir, data_dir] + names,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    verdict = {}
    for line in p.stdout.splitlines():
        name, _, rest = line.partition(": ")
        if name in names:
            verdict[name] = " PASS" in " " + rest and "FAIL" not in rest
    for n in names:
        verdict.setdefault(n, False)
    bad = [l for l in p.stdout.splitlines() if "FAIL" in l or "diff" in l]
    if bad and not quiet:
        log("compare.py:", *bad[:6])
    return verdict


# The funnel stages q88 defines, in order; CurationRun.run adds five more.
FUNNEL = ["raw", "quality", "classifier", "exact_dedup", "near_dedup",
          "decontaminated"]
# q88's oracle SQL up to here defines the first four stages, which DuckDB
# computes in about 3 s at sf0.1. The rest (an all-pairs near-dup self-join
# and recursive components) took 37-54 s on 500 documents and grows with
# the square of their number.
CHEAP_CUT = "\nsh AS ("


def funnel_oracle(con, q88_sql):
    """(stage_idx, docs, tokens) of the first four funnel stages, from
    q88's DuckDB oracle SQL cut after the exact-dedup stage; None when the
    SQL has no such cut point."""
    if CHEAP_CUT not in q88_sql:
        log("q88's oracle SQL has no exact-dedup cut point")
        return None
    ctes = q88_sql[:q88_sql.index(CHEAP_CUT)].rstrip().rstrip(",")
    return con.execute(ctes + " " + " UNION ALL ".join(
        f"SELECT {i} AS stage_idx, COUNT(*) AS docs, "
        f"CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tokens FROM {cte}"
        for i, cte in enumerate(["base", "qual", "clf", "exs"]))
        + " ORDER BY stage_idx").fetchall()


def manifest_check(con, manifest, want, quiet=False):
    """curate's manifest against figures the engine does not produce: it
    has eleven stages, the first six named as in q88; its first four rows
    equal `want` (funnel_oracle; cell by cell, normalized as
    tools/compare.py does); docs and tokens never grow from one stage to
    the next, and the last stage keeps a document."""
    from compare import norm_cell  # tools/compare.py
    if want is None:
        return False
    got = con.execute(
        "SELECT stage_idx, stage, docs, tokens FROM "
        f"read_parquet('{manifest}/*.parquet') ORDER BY stage_idx").fetchall()
    norm = lambda rows: [[norm_cell(v) for v in r] for r in rows]
    ok = (len(got) == 11
          and [r[0] for r in got] == list(range(11))
          and [r[1] for r in got[:6]] == FUNNEL
          and norm([(r[0], r[2], r[3]) for r in got[:4]]) == norm(want)
          and all(b[2] <= a[2] and b[3] <= a[3] for a, b in zip(got, got[1:]))
          and got[-1][2] > 0)
    if not ok and not quiet:
        log("manifest:", got, "oracle stages 0-3:", want)
    return ok


def corrupt(src, dst, column=None):
    """Copy a parquet output with one cell changed: the first row of
    `column`, or of the first numeric column."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    t = pq.read_table(src)
    for i, field in enumerate(t.schema):
        if column in (None, field.name) and (
                pa.types.is_integer(field.type) or pa.types.is_floating(field.type)):
            col = t.column(i).combine_chunks()
            bumped = pc.add(col.slice(0, 1), pa.scalar(1, field.type))
            t = t.set_column(i, field, pa.concat_arrays([bumped, col.slice(1)]))
            break
    else:
        raise RuntimeError(f"no numeric column to corrupt in {src}")
    os.makedirs(dst, exist_ok=True)
    pq.write_table(t, os.path.join(dst, "part-0.parquet"))


def check(workload, res, data_dir, work):
    """Every correctness check of one run: {check name: passed}. The last
    entry is the self-test: one output corrupted on purpose must fail."""
    import duckdb
    con = duckdb.connect()
    check_dir = os.path.join(work, "check")
    oracle = res["oracle_sql"]
    verdict = {}
    if workload == "curate":
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{data_dir}/documents.parquet')")
        want = funnel_oracle(con, oracle["q88_curation_funnel"])
        verdict["curate_manifest"] = manifest_check(
            con, res["curate_manifest"], want)
        # self-test: one more raw-stage token must be caught
        bad = os.path.join(work, "selftest", "manifest")
        corrupt(glob.glob(res["curate_manifest"] + "/*.parquet")[0], bad,
                column="tokens")
        verdict["selftest"] = not manifest_check(con, bad, want, quiet=True)
        return verdict
    names = WORKLOADS[workload]["queries"]
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump({k: v for k, v in oracle.items() if k in names}, f)
    with open(os.path.join(check_dir, "queries.json"), "w") as f:
        json.dump(names, f)
    verdict.update(compare(check_dir, data_dir, names))
    # self-test: the oracle gate must reject a one-cell corruption (of the
    # smallest output, the cheapest to compare)
    def size(n):
        return sum(os.path.getsize(f) for f in
                   glob.glob(os.path.join(check_dir, n, "*.parquet")))
    victim = min((n for n in names if n in oracle), key=size)
    bad_dir = os.path.join(work, "selftest")
    shutil.rmtree(bad_dir, ignore_errors=True)
    corrupt(glob.glob(os.path.join(check_dir, victim, "*.parquet"))[0],
            os.path.join(bad_dir, victim))
    shutil.copy(os.path.join(check_dir, "oracle_sql.json"), bad_dir)
    verdict["selftest"] = not compare(bad_dir, data_dir, [victim],
                                      quiet=True)[victim]
    return verdict


# ---- metrics ---------------------------------------------------------------

def measured(passes):
    """The untraced warm passes that count. The first warm pass still runs
    much of the JIT work left from the cold pass (about twice the JIT time
    of the later ones), so it is left out when there are others."""
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    return warm[1:] if len(warm) > 1 else warm


def end_to_end(res, report):
    passes = res["passes"]
    warm = measured(passes)
    # Per-operation latency goes to the report only: a run has 3-9
    # operations (1 for curate), too few for a steady percentile.
    ops = [op["wall_s"] for p in warm for op in p.get("children", [])]
    report["query_p50_s"] = statistics.median(ops)
    report["query_samples"] = len(ops)
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "warm_pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "nonheap_rss_mb": (res["peak_rss_mb"] - res["heap_mb"], "MB"),
    }


def children(span, kind):
    return [c for c in span.get("children", []) if c["kind"] == kind]


def layer_counts(p, jobs, cores):
    """Per-layer totals of one traced pass; jobs are placed by start time."""
    inside = [j for j in jobs if p["start_ms"] <= j["start_ms"] <= p["end_ms"]
              and j["end_ms"] >= 0]
    builds = [b for q in p.get("children", []) for b in children(q, "build")]
    in_build = [j for j in inside if any(
        b["start_ms"] <= j["start_ms"] <= b["end_ms"] for b in builds)]
    busy, last = 0, p["start_ms"]
    for j in sorted(inside, key=lambda j: j["start_ms"]):
        start = max(j["start_ms"], last)
        if j["end_ms"] > start:
            busy += j["end_ms"] - start
            last = j["end_ms"]
    wall = p["wall_s"]
    tot = lambda k: sum(j[k] for j in inside)
    return {
        "pass_wall_s": wall,
        "build_s": sum(b["wall_s"] for b in builds),
        "build_share": sum(b["wall_s"] for b in builds) / wall,
        "build_jobs": len(in_build),
        "plan_s": sum(c["wall_s"] for q in p.get("children", []) for c in children(q, "plan")),
        "execute_s": sum(c["wall_s"] for q in p.get("children", [])
                         for c in children(q, "execute")),
        "compile_n": p["compile_n"],
        "compile_ms": p["compile_ms"],
        "jit_ms": p["jit_ms"],
        "jobs": len(inside),
        "stages": tot("stages"),
        "tasks": tot("tasks"),
        "jobs_lt_100ms": sum(1 for j in inside
                             if j["end_ms"] - j["start_ms"] < 100),
        "job_gap_s": max(0.0, wall - busy / 1e3),
        "task_cpu_s": tot("cpu_ns") / 1e9,
        "task_run_s": tot("run_ms") / 1e3,
        "gc_s": tot("gc_ms") / 1e3,
        "cpu_util": tot("cpu_ns") / 1e9 / (wall * cores),
        "shuffle_write_mb": tot("shuffle_write_b") / 1e6,
        "shuffle_read_mb": tot("shuffle_read_b") / 1e6,
        "spill_mb": tot("spill_b") / 1e6,
        "input_mb": tot("input_b") / 1e6,
        "output_mb": p.get("output_mb", tot("output_b") / 1e6),
        "output_files": p.get("output_files", 0),
    }


UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_n": "count"}
RATIOS = ("build_share", "cpu_util", "trace_overhead")


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "ratio" if name in RATIOS else "count"


def per_layer(res, report):
    passes, jobs, cores = res["passes"], res["jobs"], res["cores"]
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    plain = measured(passes)
    per_pass = [layer_counts(p, jobs, cores) for p in traced]
    out = {k: statistics.median(c[k] for c in per_pass) for k in per_pass[0]}
    cold = layer_counts(passes[0], jobs, cores)
    out["cold_compile_n"] = cold["compile_n"]
    out["cold_compile_ms"] = cold["compile_ms"]
    out["cold_jit_ms"] = cold["jit_ms"]
    out["trace_overhead"] = (
        statistics.median(p["wall_s"] for p in traced)
        / statistics.median(p["wall_s"] for p in plain) - 1.0)
    report["per_query"] = per_query(traced[-1], jobs)
    return {k: (v, unit(k)) for k, v in out.items()}


def per_query(p, jobs):
    """One traced pass split by query: build + execute wall against the
    query's wall, with the residual named where it exceeds 10%."""
    rows = []
    for q in p.get("children", []):
        inside = [j for j in jobs
                  if q["start_ms"] <= j["start_ms"] <= q["end_ms"]]
        spans = {k: sum(c["wall_s"] for c in children(q, k))
                 for k in ("build", "plan", "execute")}
        covered = spans["build"] + spans["plan"] + spans["execute"]
        row = {"query": q["name"], "wall_s": round(q["wall_s"], 4),
               **{f"{k}_s": round(v, 4) for k, v in spans.items()},
               "jobs": len(inside),
               "task_cpu_s": round(sum(j["cpu_ns"] for j in inside) / 1e9, 4)}
        residual = q["wall_s"] - covered
        if abs(residual) > 0.1 * q["wall_s"]:
            row["residual"] = {"name": "client time between spans",
                               "s": round(residual, 4)}
        rows.append(row)
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/compare.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail_setup(f"{need} is missing: run from a checkout of the engine")
    if not shutil.which("java") or not shutil.which("sbt"):
        fail_setup("java and sbt must be on PATH")

    classpath = build()
    started = time.time()
    check_fixture()
    spec = WORKLOADS[a.workload]
    run_dir = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(os.path.join(BUILD, "runs"), ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    t0 = time.time()
    sizes, copy_numbers = derive(data_dir, a.seed, spec["copies"],
                                 spec["tables"])
    phases = {"derive_s": time.time() - t0}

    common = ["--workload", a.workload, "--data", data_dir,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--queries", ",".join(spec["queries"]),
              "--tables", ",".join(spec["tables"])]
    work = os.path.join(run_dir, "main")
    t0 = time.time()
    # the whole command must end within 180 s of its start (builds apart)
    res = harness(classpath, work, common + ["--work", work],
                  timeout=max(60.0, 170.0 - (time.time() - started)))
    phases["jvm_s"] = time.time() - t0
    t0 = time.time()
    verdict = check(a.workload, res, data_dir, work)
    phases["check_s"] = time.time() - t0
    errors = [op for p in res["passes"] for op in p.get("children", []) if "error" in op]
    timed_ops = sum(len(p.get("children", [])) for p in res["passes"])
    attempted = timed_ops + len(verdict)
    failed = len(errors) + sum(1 for ok in verdict.values() if not ok)
    correct = failed == 0

    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "copies": copy_numbers, "queries": spec["queries"],
        "input": {t: {"rows": r, "mb": round(b / 1e6, 3)}
                  for t, (r, b) in sizes.items()},
        "cores": res["cores"], "loadavg": open("/proc/loadavg").read().split()[:3],
        "jvm_flags": res["jvm_flags"], "checks": verdict,
        "failed_frac": failed / attempted, "phases_s": phases,
        "setup_split_s": {k: res[k] for k in ("main_s", "session_s", "setup_s")},
        "passes": [{k: p[k] for k in ("kind", "traced", "wall_s", "compile_n",
                                      "jit_ms")} for p in res["passes"]],
    }
    e2e = end_to_end(res, report)
    metrics = per_layer(res, report) if a.trace else e2e
    if a.trace:
        # the layer split each workload was chosen for (README.md)
        m = {k: v for k, (v, _) in metrics.items()}
        report["split"] = {
            "build_share": m["build_share"],
            "task_cpu_over_wall": m["task_cpu_s"] / m["pass_wall_s"],
            "expected": SPLIT[a.workload]}
        log("split:", json.dumps(report["split"]))
    with open(os.path.join(BUILD, f"report-{a.workload}.json"), "w") as f:
        json.dump(report, f, indent=1)
    for k, v in verdict.items():
        if not v:
            log("check failed:", k)
    log("phases:", json.dumps({k: round(v, 1) for k, v in phases.items()}))
    log("passes:", " ".join(f"{p['kind']}{'*' if p['traced'] else ''}="
                            f"{p['wall_s']:.2f}" for p in report["passes"]))
    if a.trace:
        for row in report["per_query"]:
            log(json.dumps(row))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
