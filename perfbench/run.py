#!/usr/bin/env python3
"""graft benchmark: interactive SQL, pipeline kernels and a Delta
write -> stream life cycle, end to end and (traced) layer by layer.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --all --seed 1      # every workload, untraced then traced

One run: build the engine and the harness from source if they changed,
generate the workload's inputs from the seed, run them in one JVM as one
closed-loop client at local[N] (N = the cores this process may use),
check every output, print each metric by name and unit, and print the
contract JSON object as the last stdout line. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["interactive", "kernels", "delta_lifecycle"]
SETUP_ROUNDS = 3
JVM_TIMEOUT_S = 170
ARCHIVE_TIMEOUT_S = 600
ARCHIVE = os.path.join(WORK, "build", "classes.jsa")
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("op_mean_ms", "ms"), ("ops_per_s", "1/s")]
LAYER_SPANS = {  # per-layer metric -> span name whose durations it sums
    "adtcontext.sql_ms": "adtcontext.sql", "adtcontext.ddl_ms": "adtcontext.ddl",
    "deltareader.snapshot_ms": "deltareader.snapshot",
    "deltawriter.append_ms": "deltawriter.append",
    "deltawriter.merge_ms": "deltawriter.merge",
    "deltawriter.delete_dv_ms": "deltawriter.delete_dv",
    "deltawriter.update_ms": "deltawriter.update",
    "deltawriter.compact_ms": "deltawriter.compact",
    "deltawriter.checkpoint_ms": "deltawriter.checkpoint",
    "queries.build_ms": "queries.build", "queries.exec_ms": "queries.exec",
}
LAYER_COUNTS = [
    "adtcontext.calls", "plan.analysis_ms", "plan.optimization_ms",
    "plan.planning_ms", "deltareader.snapshot_calls",
    "deltareader.log_files_replayed", "deltareader.live_files",
    "deltawriter.files_added", "deltawriter.files_removed",
    "deltawriter.bytes_written", "stream.batches", "stream.rows",
    "stream.get_batch_ms", "stream.add_batch_ms", "stream.query_planning_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms",
    "exec.task_cpu_ms", "exec.gc_ms", "exec.deser_ms",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.driver_gap_ms", "exec.utilization", "trace.overhead_ms"]
SELF_LAYERS = ["harness", "adtcontext", "plan", "deltareader", "deltawriter",
               "stream", "queries", "exec"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def quantile(values, q):
    """Linear-interpolated quantile of a non-empty list."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


# ------------------------------------------------------------------ build

def _source_fingerprint():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        h.update(open(p, "rb").read())
    return h.hexdigest()


def build(sf_dir):
    """Compile and package engine + harness with sbt when their sources
    changed, evaluate the DuckDB oracle of every kernel, and record the
    class-data archive, so no measured run pays for either. Returns the
    JVM classpath."""
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp, cp_file = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    fp = _source_fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp and os.path.exists(cp_file):
        return open(cp_file).read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} " if os.path.exists(repos)
                           else "") + "-Dsbt.offline=true -Xmx2g"
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspathAsJars"], cwd=HERE, env=env,
                           stdout=out, stderr=subprocess.STDOUT, timeout=800)
    lines = open(log).read().splitlines()
    cps = [ln for ln in lines if ln.startswith("/") and ".jar" in ln and ":" in ln]
    if r.returncode != 0 or not cps:
        fail(f"build failed (sbt exit {r.returncode}); see {log}")
    cp = cps[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    for f in os.listdir(bdir):
        if f.startswith("oracle_sql") or f == os.path.basename(ARCHIVE):
            os.remove(os.path.join(bdir, f))
    oracle_expectations(cp, sf_dir)
    record_archive(cp, sf_dir)
    with open(stamp, "w") as f:
        f.write(fp)
    return cp


def java(cp, *args, log, record=False, timeout=JVM_TIMEOUT_S):
    """Run perfbench.Main. It loads its classes from the class-data archive
    when there is one, or records the archive (`record`)."""
    exe = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = ([f"-XX:ArchiveClassesAtExit={ARCHIVE}"] if record else
           [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else [])
    cmd = [exe, *opens, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           *cds, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", *args]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=WORK)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM exceeded {timeout}s; see {log}")
    if rc != 0:
        tail = open(log).read().splitlines()[-15:]
        fail(f"JVM exit {rc}; see {log}\n" + "\n".join(tail))


def duck(sf_dir):
    """A DuckDB connection for the checks; it spills inside the checkout."""
    return check.connect(sf_dir, os.path.join(WORK, "tmp", "duckdb"))


def oracle_expectations(cp, sf_dir):
    """Per kernel: the DuckDB oracle's row count and digest over the corpus
    (None when the kernel has no oracle). Cached by oracle text."""
    path = os.path.join(WORK, "build", "oracle.json")
    cache = json.load(open(path)) if os.path.exists(path) else {}
    key = lambda name, sql: hashlib.sha256(f"{sf_dir}\n{name}\n{sql}".encode()).hexdigest()
    sql_path = os.path.join(WORK, "build", f"oracle_sql-{len(gen.KERNELS)}.json")
    if not os.path.exists(sql_path):
        java(cp, "--dump-oracle", ",".join(gen.KERNELS), sql_path,
             log=os.path.join(WORK, "build", "oracle_dump.log"))
    sqls = json.load(open(sql_path))
    out, con = {}, None
    for name in gen.KERNELS:
        if name not in sqls:
            out[name] = None
            continue
        k = key(name, sqls[name])
        if k not in cache:
            con = con or duck(sf_dir)
            cache[k] = check.oracle_expectation(con, sqls[name])
        out[name] = cache[k]
    with open(path, "w") as f:
        json.dump(cache, f)
    return out


def record_archive(cp, sf_dir):
    """Record the JVM's class-data archive (AppCDS) from one set-up and
    one round of every workload in a single JVM. A run then maps the
    classes of Spark, Delta and the engine instead of loading and
    verifying them from jars, which took about 7 of the first set-up's
    15 s at local[4]. Untimed; the archive is kept until the next build."""
    args = []
    for w in WORKLOADS:
        run_dir = os.path.join(WORK, "runs", f"archive-{w}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        plan, _ = make_plan(w, 0, 0, 0, sf_dir, run_dir)
        plan["setups"] = 1
        with open(os.path.join(run_dir, "plan.json"), "w") as f:
            json.dump(plan, f)
        args += [os.path.join(run_dir, "plan.json"), os.path.join(run_dir, "out")]
    try:
        java(cp, *args, log=os.path.join(WORK, "build", "archive.log"), record=True,
             timeout=ARCHIVE_TIMEOUT_S)
    finally:
        for w in WORKLOADS:
            shutil.rmtree(os.path.join(WORK, "runs", f"archive-{w}"), ignore_errors=True)


# -------------------------------------------------------------------- run

def make_plan(workload, seed, seconds, trace, sf_dir, run_dir):
    plan = {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": trace, "sf_dir": sf_dir, "run_dir": run_dir,
            "cpus": len(os.sched_getaffinity(0)), "setups": SETUP_ROUNDS}
    expected = None
    if workload == "interactive":
        plan["statements"], plan["round_ends"] = gen.statements(seed)
    elif workload == "kernels":
        plan["kernels"] = gen.kernel_order(seed)
    else:
        con = duck(sf_dir)
        orders = con.sql(
            "SELECT o_orderkey, o_custkey, o_orderstatus, "
            "CAST(round(o_totalprice * 100) AS BIGINT), o_orderpriority "
            "FROM orders ORDER BY o_orderkey").fetchall()
        lc, expected = gen.lifecycle(seed, orders)
        plan.update(lc)
        plan["max_files_per_trigger"] = 16
    return plan, expected


def check_ops(workload, plan, expected, res, cp, sf_dir):
    """Mark each op's `bad` reason (None when right); an op that raised is
    bad too."""
    con = duck(sf_dir)
    if workload == "interactive":
        chk = check.Interactive(con, sf_dir, res["fixtures"], gen.SOURCES)
        stmts = plan["statements"]
    elif workload == "kernels":
        expect = oracle_expectations(cp, sf_dir)
    for op in res["ops"]:
        if not op["ok"]:
            op["bad"] = op.get("err", "failed")
            continue
        try:
            if workload == "interactive":
                op["bad"] = chk.check(stmts[op["id"]], op)
            elif workload == "kernels":
                op["bad"] = check.check_kernel(con, op["path"], expect[op["name"]])
            else:
                op["bad"] = check.check_lifecycle(op, expected)
        except Exception as e:  # a checker error is a failed check
            op["bad"] = f"check raised {e!r}"


def end_to_end(workload, plan, res):
    """The contract metrics plus the workload's own named figures."""
    ops = res["ops"]
    unit = {"interactive": "statement", "kernels": "kernel",
            "delta_lifecycle": "commit"}[workload]
    lat = [o["ms"] for o in ops if o["kind"] == unit and not o["bad"]]
    if not lat:
        fail(f"no {unit} succeeded: {[o['bad'] for o in ops][:3]}")
    phase_s = res["phase_ms"] / 1000
    m = {"setup_s": statistics.median(res["setup_s"]),
         "op_mean_ms": statistics.mean(lat), "ops_per_s": len(lat) / phase_s}
    bad = sum(1 for o in ops if o["bad"])
    named = {"fail_ratio": (bad / len(ops), "ratio"),
             "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    if workload == "interactive":
        named.update(stmt_p50_ms=(quantile(lat, 0.5), "ms"),
                     stmt_p95_ms=(quantile(lat, 0.95), "ms"),
                     stmts_per_s=(m["ops_per_s"], "1/s"))
        for kind in sorted({o["name"] for o in ops}):
            ks = [o["ms"] for o in ops if o["name"] == kind and not o["bad"]]
            if ks:
                named[f"{kind}_p50_ms"] = (quantile(ks, 0.5), "ms")
    elif workload == "kernels":
        named.update(kernels_total_s=(sum(lat) / 1000, "s"),
                     kernel_p50_s=(quantile(lat, 0.5) / 1000, "s"),
                     kernel_p90_s=(quantile(lat, 0.9) / 1000, "s"))
        for o in ops:
            named[f"{o['name']}_s"] = (o["ms"] / 1000, "s")
    else:
        reads = [o["ms"] for o in ops if o["kind"] == "read" and not o["bad"]]
        stream = [o for o in ops if o["kind"] == "stream"][0]
        named.update(
            commit_p50_ms=(quantile(lat, 0.5), "ms"), commit_p90_ms=(quantile(lat, 0.9), "ms"),
            read_p50_ms=(quantile(reads, 0.5), "ms"),
            stream_rows_per_s=(stream.get("rows", 0) / (stream["ms"] / 1000), "1/s"),
            write_amp=((res["table_bytes_end"] - res["table_bytes_start"]) /
                       plan["submitted_bytes"], "ratio"),
            space_amp=(res["table_bytes_end"] / res["live_bytes_end"], "ratio"))
    return m, named, len(lat)


def reparent(spans):
    """Planner-phase spans are measured by Spark in whole milliseconds and
    recorded under the operation; hang each under the smallest other span
    of the same operation that contains it (1 ms slack), so its time is
    not also counted as that span's self time."""
    out = []
    for s in spans:
        if s[3].startswith("plan."):
            holders = [h for h in spans if h[2] == s[2] and not h[3].startswith("plan.")
                       and h[4] <= s[4] + 1000 and h[5] >= s[5] - 1000]
            if holders:
                s = [s[0], min(holders, key=lambda h: h[5] - h[4])[0]] + list(s[2:])
        out.append(s)
    return out


def self_times(spans):
    """Per layer: summed span time minus the part its children cover."""
    spans = reparent(spans)
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    out = {layer: 0.0 for layer in SELF_LAYERS}
    for s in spans:
        iv = sorted((max(c[4], s[4]), min(c[5], s[5])) for c in kids.get(s[0], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                covered += 0 if cur_e is None else cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        covered += 0 if cur_e is None else cur_e - cur_s
        layer = s[3].split(".")[0]
        layer = "harness" if layer == "op" else layer
        out[layer] = out.get(layer, 0.0) + (s[5] - s[4] - covered) / 1000
    return out


def per_layer(res, spans):
    layers = res["layers"]
    m = {k: sum(s[5] - s[4] for s in spans if s[3] == name) / 1000
         for k, name in LAYER_SPANS.items()}
    for k in LAYER_COUNTS:
        m[k] = layers.get(k, 0.0)
    calls = layers.get("deltareader.snapshot_calls", 0)
    m["deltareader.live_files"] = m["deltareader.live_files"] / calls if calls else 0.0
    for name in gen.KERNELS:
        m[f"queries.{name}.wall_s"] = sum(
            o["ms"] for o in res["ops"] if o["kind"] == "kernel" and o["name"] == name) / 1000
    for layer, ms in self_times(spans).items():
        m[f"{layer}.self_ms"] = ms
    return m


def unit_of(name):
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                      ("bytes_written", "bytes"), ("utilization", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def run_one(workload, seed, seconds, trace, sf_dir, quiet=False):
    cp = build(sf_dir)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = os.path.join(WORK, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan, expected = make_plan(workload, seed, seconds, trace, sf_dir, run_dir)
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        out = os.path.join(run_dir, "out")
        java(cp, plan_path, out, log=os.path.join(WORK, f"last-{workload}.log"))
        res = json.load(open(os.path.join(out, "result.json")))
        check_ops(workload, plan, expected, res, cp, sf_dir)
        spans = json.load(open(os.path.join(out, "spans.json")))["spans"] if trace else []
        if trace:
            tdir = os.path.join(WORK, "traces")
            os.makedirs(tdir, exist_ok=True)
            shutil.copy(os.path.join(out, "spans.json"),
                        os.path.join(tdir, f"{workload}-seed{seed}-spans.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, named, n = end_to_end(workload, plan, res)
    bad = [o for o in res["ops"] if o["bad"]]
    if not quiet:
        print(f"# {workload} seed={seed} trace={trace} local[{plan['cpus']}] "
              f"ops={len(res['ops'])} timed={n} failed={len(bad)}")
        for o in bad[:10]:
            print(f"#   FAIL {o['kind']} {o['id']} {o['name']}: {o['bad']}")
        for k, u in END_TO_END:
            print(f"{workload}.{k} = {e2e[k]:.6g} {u}")
        for k, (v, u) in named.items():
            print(f"{workload}.{k} = {v:.6g} {u}")
    metrics = e2e
    if trace:
        metrics = per_layer(res, spans)
        if not quiet:
            for k, v in metrics.items():
                print(f"{workload}.{k} = {v:.6g} {unit_of(k)}")
    return {"correct": not bad, "attempted": len(res["ops"]), "failed": len(bad),
            "metrics": metrics, "e2e": e2e, "named": named}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true",
                    help="every workload, untraced then traced, with tracing overhead")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1,
                    help="floor: whole rounds or passes repeat until it has passed")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")))
    a = ap.parse_args()
    if not (a.all or a.workload):
        ap.error("give --workload or --all")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(f"no engine sources at {ROOT} (run from a full checkout)", 2)
    if not os.path.isfile(os.path.join(a.sf_dir, "orders.parquet")):
        fail(f"no corpus at {a.sf_dir}", 2)

    if a.all:
        for w in WORKLOADS:
            plain = run_one(w, a.seed, a.seconds, 0, a.sf_dir)
            traced = run_one(w, a.seed, a.seconds, 1, a.sf_dir)
            d = traced["e2e"]["op_mean_ms"] - plain["e2e"]["op_mean_ms"]
            print(f"{w}.trace_overhead = {d:.6g} ms per operation "
                  f"({100 * d / plain['e2e']['op_mean_ms']:.3g}%)")
        return
    r = run_one(a.workload, a.seed, a.seconds, a.trace, a.sf_dir)
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"],
                      "metrics": {k: {"value": v, "unit": unit_of(k) if a.trace else dict(END_TO_END)[k]}
                                  for k, v in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
