#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload graph_iterative --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run in a checkout builds the
benchmark (``sbt`` in ``perfbench/``, which also compiles the engine one
directory up); later runs reuse the build. The input tables are the
engine's sf0.01 test tables, kept in ``perfbench/data``. Build outputs and
scratch files stay under ``perfbench/.work``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones. The lines before it list every metric by name with
its unit, plus the figures behind them (sample counts, pass walls,
failures). The exit code is 0 when a result was printed, non-zero
otherwise.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
WORKLOADS = ("graph_iterative", "ingest_serve")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", required=True)
    p.add_argument("--seconds", required=True)
    p.add_argument("--trace", default="0")
    p.add_argument("--cores", default=None,
                   help="local[N] core count, an integer from 1 to nproc "
                        "(default: min(4, nproc))")
    a = p.parse_args(argv)
    nproc = os.cpu_count() or 1
    if a.workload not in WORKLOADS:
        fail(f"unknown workload '{a.workload}'; known: {', '.join(WORKLOADS)}")
    for name in ("seed", "seconds"):
        try:
            setattr(a, name, int(getattr(a, name)))
        except ValueError:
            fail(f"--{name} must be an integer, got '{getattr(a, name)}'")
    if a.seconds < 1:
        fail(f"--seconds must be at least 1, got {a.seconds}")
    if a.trace not in ("0", "1"):
        fail(f"--trace must be 0 or 1, got '{a.trace}'")
    if a.cores is None:
        a.cores = min(4, nproc)
    else:
        try:
            a.cores = int(a.cores)
        except ValueError:
            fail(f"--cores must be an integer, got '{a.cores}'")
        if not 1 <= a.cores <= nproc:
            fail(f"--cores must be between 1 and nproc ({nproc}), got {a.cores}")
    return a


def source_stamp():
    """Hash of everything the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for path in paths:
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_child(cmd, cwd, limit, env=None, log=None):
    """Run cmd to completion (or kill it at the limit); return its code."""
    with open(log, "w") if log else open(os.devnull, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            return None


def build():
    """Compile the benchmark and the engine; return the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(WORK, "build.log")
    print("perfbench: building (sbt) ...", file=sys.stderr)
    code = run_child(["sbt", "--batch", "-Dsbt.server.autostart=false",
                      "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"],
                     cwd=HERE, limit=BUILD_LIMIT_S, log=log)
    if code != 0:
        fail(f"build failed (exit {code}); see {log}", 3)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cps = [ln for ln in lines if os.pathsep in ln and ".jar" in ln and " " not in ln]
    if not cps:
        fail(f"build printed no classpath; see {log}", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def cpu_times():
    """The machine-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def jvm(classpath, args, run_dir, limit, log):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn768m", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Dderby.system.home={run_dir}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main"] + args
    # the engine's SPARK_GRAFT_* tuning knobs would change what is
    # measured; every run uses the engine's defaults
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    return run_child(cmd, cwd=run_dir, limit=limit, env=env, log=log)


def main(argv):
    a = parse_args(argv)
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found beside perfbench/: run from a full checkout "
                 "of the repository")
    missing = [t for t in TABLES if not os.path.isfile(os.path.join(DATA, f"{t}.parquet"))]
    if missing:
        fail(f"input tables missing from {DATA}: {', '.join(missing)}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    # the build may take minutes on a fresh checkout; the run limit
    # counts from here
    t0 = time.time()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(a.cores), "--data", DATA,
            "--work", run_dir, "--out", out,
            "--reference", os.path.join(HERE, "reference.json")]
    limit = RUN_LIMIT_S - (time.time() - t0)
    cpu0 = cpu_times()
    code = jvm(classpath, args, run_dir, max(10, limit), log)
    cpu1 = cpu_times()
    if code != 0 or not os.path.exists(out):
        tail = open(log, errors="replace").read()[-3000:] if os.path.exists(log) else ""
        fail(f"run failed (exit {code}); last log lines:\n{tail}", 4)
    with open(out) as f:
        res = json.load(f)
    # the share of this VM's CPU time the hypervisor gave to other
    # guests while the run lasted; it slows every phase of a run alike
    total = sum(cpu1) - sum(cpu0)
    res["detail"]["host_steal_frac"] = (cpu1[7] - cpu0[7]) / total if total else 0.0
    for k, v in res["detail"].items():
        print(f"detail {k} = {json.dumps(v)}")
    for k, m in res["metrics"].items():
        print(f"metric {k} = {m['value']} {m['unit']}")
    if not res["correct"]:
        print("perfbench: outputs NOT correct; see detail failures above", file=sys.stderr)
    # the run's scratch (indexes, staged streams) is not kept; its JVM
    # log and the spans of a traced run are
    shutil.move(log, os.path.join(WORK, f"jvm-{a.workload}-{a.seed}.log"))
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(WORK, f"spans-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
