#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest

W is spray_cycle or heavy_mix (see perfbench/README.md).
The first run builds the program from source with the benchmark's own sbt
build (perfbench/build.sbt) and generates the table data; both are kept
under perfbench/work/ and reused while the sources are unchanged.

Each run starts one JVM that builds a Spark session (local mode, one task
slot and one shuffle partition per core), runs setup and an untimed warm
pass, then whole timed passes for S seconds, then the output checks.
The last line of standard output is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it holds the run's details: ops_attempted,
ops_failed, op_p50_ms, op_p90_ms, written_mb, host readings and every
check.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
# table scale per workload: the spray cycle's cost is fixed per query and
# operation, the heavy queries' grows with the data
SF = {"spray_cycle": "0.01", "heavy_mix": "0.1"}
HEAP = "3g"
WORKLOADS = ("spray_cycle", "heavy_mix")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("cpu_s", "s"),
              ("retained_heap_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def cpus():
    return len(os.sched_getaffinity(0))


def host_readings():
    """nproc, load average, and the cumulative CPU steal of /proc/stat."""
    r = {"nproc": cpus()}
    try:
        with open("/proc/loadavg") as f:
            r["loadavg"] = [float(x) for x in f.read().split()[:3]]
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        r["cpu_jiffies"] = sum(v)
        r["steal_jiffies"] = v[7] if len(v) > 7 else 0
    except OSError as e:
        r["error"] = str(e)
    return r


def sources_stamp():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "cp"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    if p.returncode != 0:
        fail("build failed:\n" + p.stdout[-4000:])
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def java_cmd(cp, main, args, heap=HEAP):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = ["java", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"]
    for o in JVM_OPENS:
        jvm += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return jvm + ["-cp", cp, main] + args


def run_jvm(cmd, logfile, timeout):
    """Run a JVM to its end; its output goes to `logfile`."""
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=out, stderr=subprocess.STDOUT,
                             env=dict(os.environ, SPARK_GRAFT_CPUS=str(cpus())))
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def table_data(cp, sf):
    """The table parquet at scale `sf`, generated once by the program's
    GenData."""
    d = os.path.join(WORK, "data", f"sf{sf}")
    done = os.path.join(d, ".done")
    if os.path.exists(done):
        return d
    shutil.rmtree(d, ignore_errors=True)
    log(f"generating table data at sf{sf}")
    rc = run_jvm(java_cmd(cp, "graft.tools.GenData", [sf, d]),
                 os.path.join(WORK, "gendata.log"), 600)
    if rc != 0:
        fail(f"GenData failed (exit {rc}), see {WORK}/gendata.log")
    open(done, "w").close()
    return d


def inputs(seed):
    d = os.path.join(WORK, "inputs", f"seed{seed}")
    if not os.path.exists(os.path.join(d, ".done")):
        sys.path.insert(0, BENCH)
        import gen_inputs
        shutil.rmtree(d, ignore_errors=True)
        gen_inputs.generate(seed, d)
        open(os.path.join(d, ".done"), "w").close()
    return d


def oracle_checks(res, data):
    import oracle
    o = res["oracle"]
    tmp = os.path.join(WORK, "duckdb-tmp")
    os.makedirs(tmp, exist_ok=True)
    con = oracle.connect(data, tmp)
    checks = [{"name": f"oracle.{q}", "ok": err is None, "detail": err or ""}
              for q, err in oracle.check(con, o["results"], o["queries"], o["sql"])]
    if o.get("summary_txt"):
        with open(o["summary_txt"]) as f:
            body = f.read().split("\n")[3:-1]
        want = oracle.summary_lines(con, o["summary_sql"])
        checks.append({"name": "summary.body", "ok": body == want,
                       "detail": "" if body == want else f"{body[:2]} vs {want[:2]}"})
    con.close()
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala/graft")
    if not (a.selftest or a.workload):
        fail("--workload is required")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = build()
    if a.selftest:
        sys.path.insert(0, BENCH)
        import selftest
        sys.exit(selftest.main(cp, java_cmd, run_jvm, WORK))

    data = table_data(cp, SF[a.workload])
    inp = inputs(a.seed)
    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    host0 = host_readings()
    # the build and the table data are made once per checkout; a run
    # proper has 180 s, of which the JVM may take 150
    rc = run_jvm(java_cmd(cp, "graft.perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
        "--inputs", inp, "--work", run_dir, "--cpus", str(cpus()),
        "--out", out]),
        os.path.join(run_dir, "jvm.log"), 150)
    host1 = host_readings()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"benchmark JVM failed (exit {rc})", 1)
    with open(out) as f:
        res = json.load(f)
    checks = res["checks"] + oracle_checks(res, data)
    bad = [c for c in checks if not c["ok"]]
    for c in bad:
        log(f"CHECK FAILED {c['name']}: {c['detail']}")
    for f_ in res["failures"]:
        log(f"FAILED {f_}")
    if a.trace:
        trace_file = os.path.join(WORK, f"trace-{a.workload}-seed{a.seed}.json")
        shutil.copyfile(out, trace_file)
        metrics = res["per_layer"]
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END}
    steal = host1.get("steal_jiffies", 0) - host0.get("steal_jiffies", 0)
    total = host1.get("cpu_jiffies", 0) - host0.get("cpu_jiffies", 0)
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "ops_attempted": res["ops_attempted"], "ops_failed": res["ops_failed"],
        "timed_ops": res["timed_ops"], "passes": len(res["passes"]),
        "op_p50_ms": res["op_p50_ms"], "op_p90_ms": res.get("op_p90_ms"),
        "written_mb": res.get("written_mb"),
        "checks": len(checks), "checks_failed": [c["name"] for c in bad],
        "host_start": host0, "host_end": host1,
        "steal_share": steal / total if total else None,
        "per_op_ms": res["per_op_ms"],
    }
    print(json.dumps(detail))
    print(json.dumps({"correct": not bad, "attempted": res["ops_attempted"],
                      "failed": res["ops_failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
