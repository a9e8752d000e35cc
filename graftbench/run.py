#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

Usage (from the repository root):
  python3 graftbench/run.py --workload analyst|ingest --seed N \
      --seconds N --trace 0|1

Builds graft and the benchmark with sbt on first use (again whenever a
source or build file changes), generates the workload's inputs from
fixed parameters, and runs the benchmark's JVM with `local[nproc]`.
Everything it writes goes under graftbench/.work/ and the sbt target
directories. See graftbench/README.md for the workloads and metrics.
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
BUILD = os.path.join(WORK, "build")
JVM_TIMEOUT_S = 170
START = time.monotonic()

# Input tables per workload: (sf of the relational and event tables,
# sf of documents and embeddings; 0.1 = 5,000 documents).
INPUTS = {
    "analyst": (0.01, 0.01),
    "ingest": (0.001, 0.012),
}

OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for top in ["build.sbt", "project/build.properties", "src/main",
                "graftbench/build.sbt", "graftbench/project/build.properties", "graftbench/src"]:
        path = os.path.join(ROOT, top)
        walk = [(os.path.dirname(path), [], [os.path.basename(path)])] if os.path.isfile(path) \
            else sorted(os.walk(path))
        for d, _, files in walk:
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the same sources were built already;
    returns the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    want = sources_stamp()
    if os.path.exists(cp_file) and open(stamp).read() == want:
        return open(cp_file).read()
    # offline: the build resolves only from the local caches
    opts = [os.environ.get("SBT_OPTS", "-Xmx2g"), "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "graftbench/compile", "export graftbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(want)
    return lines[-1].strip()


def driver_mem():
    """The heap the repository's test command gives Spark: half the
    machine's memory, 2–8 GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        kb = int(next(l for l in open("/proc/meminfo") if l.startswith("MemTotal:")).split()[1])
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", type=int, choices=[0, 1], default=0,
                    help="print the analyst query fingerprints instead of running")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}; run from a checkout of the repository")

    classpath = build()
    sys.path.insert(0, HERE)
    import gen

    run_dir = os.path.join(WORK, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "stores"):
        os.makedirs(os.path.join(run_dir, d))
    data = os.path.join(run_dir, "data")
    t = time.monotonic()
    gen.generate(data, *INPUTS[a.workload])
    gen_s = time.monotonic() - t

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{driver_mem()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", run_dir, "--data", data,
            "--expected", os.path.join(HERE, "expected.json"), "--gen-s", repr(gen_s),
            "--record", str(a.record)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, GRAFTBENCH_HEAD=git_head(),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    print(f"graftbench: inputs ready after {time.monotonic() - START:.1f} s", file=sys.stderr)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the benchmark JVM ran past {JVM_TIMEOUT_S} s")
    print(f"graftbench: JVM done after {time.monotonic() - START:.1f} s", file=sys.stderr)
    if a.record:
        print(out)
        return
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out[-4000:])
        fail(f"the benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(lines[-2])
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
