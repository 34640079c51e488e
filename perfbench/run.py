#!/usr/bin/env python3
"""Build and run the perfbench benchmark (see perfbench/README.md).

Usage, from the repository root:

    python3 perfbench/run.py --workload minute-diffs --seed 1 --seconds 30 --trace 0

The first call builds the engine and the benchmark from source with sbt
(perfbench/build.sbt) and records the classpath under .bench_build/; later
calls reuse the build while the sources are unchanged. The run itself is one
JVM with a local[4] Spark session. Its reports go to the run directory
(--run-dir, default .bench_runs/<workload>-seed<seed>-trace<trace>), and
the last line printed is the result JSON.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("minute-diffs", "dense-diffs", "snapshot-queries")
RUN_TIMEOUT_S = 170
HEAP = "3g"
# the marker an existing run directory must hold, and what a run writes there
MARKER = ".perfbench-run"
RUN_OUTPUTS = ("result.json", "report.json", "spans.jsonl", "stderr.log", "tmp",
               "spark-local", "warehouse", "store", "input", "osc")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the build reads: engine and benchmark sources and
    the benchmark's build definition (sbt's own target dirs excluded)."""
    paths = [os.path.join(BENCH, "build.sbt")]
    for top in (ENGINE, os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            paths += [os.path.join(d, f) for f in files]
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "sbt.log")
    t0 = time.time()
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if r.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {r.returncode}); log in {log}")
    cps = [ln for ln in lines if ln.endswith(".jar") or ".jar:" in ln]
    if not cps:
        fail(f"build printed no classpath; log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cps[-1].strip()


def prepare_run_dir(run_dir):
    """Create the run directory, or clear what an earlier run wrote there.

    Inside the repository only directories under .bench_runs/ are accepted.
    An existing directory must hold the marker or the report an earlier run
    left, and only the entries a run writes are removed from it."""
    runs = os.path.join(ROOT, ".bench_runs")
    inside = os.path.commonpath([run_dir, ROOT]) == ROOT
    if inside and os.path.commonpath([run_dir, runs]) != runs or run_dir == runs:
        fail(f"run directory {run_dir} is inside the repository but not under .bench_runs/")
    if os.path.exists(run_dir):
        if not os.path.isdir(run_dir):
            fail(f"run directory {run_dir} is not a directory")
        if os.listdir(run_dir) and not any(
                os.path.exists(os.path.join(run_dir, m)) for m in (MARKER, "report.json")):
            fail(f"run directory {run_dir} is not empty and holds no earlier perfbench run")
        for name in RUN_OUTPUTS:
            p = os.path.join(run_dir, name)
            if os.path.isdir(p) and not os.path.islink(p):
                shutil.rmtree(p)
            elif os.path.lexists(p):
                os.remove(p)
    os.makedirs(run_dir, exist_ok=True)
    with open(os.path.join(run_dir, MARKER), "w") as fh:
        fh.write("perfbench run directory; its outputs are replaced by the next run here\n")
    return run_dir


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--run-dir", default=None)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    run_dir = prepare_run_dir(os.path.abspath(a.run_dir or os.path.join(
        ROOT, ".bench_runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")))
    classpath = build()

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
            "--run-dir", run_dir]
    err_log = os.path.join(run_dir, "stderr.log")
    env = dict(os.environ)
    # Spark's scratch space stays inside the run directory
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    with open(err_log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; killed (log {err_log})", 3)
    sys.stdout.write(out)
    result = os.path.join(run_dir, "result.json")
    if not os.path.exists(result):
        with open(err_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed (exit {p.returncode}); log {err_log}", 1)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(result) as fh:
        line = fh.read().strip()
    print(line)
    sys.stdout.flush()
    # the JVM exits non-zero after writing its result when a check failed
    if p.returncode != 0:
        fail(f"a correctness check failed (exit {p.returncode}); see {run_dir}/report.json", 1)


if __name__ == "__main__":
    main()
