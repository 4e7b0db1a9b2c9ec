#!/usr/bin/env python3
"""Run one workload of the end-to-end ANN benchmark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark harness from source with sbt (perfbench/build.sbt) and caches the
classpath under .bench_build/, keyed by a hash of every source and build
file; later runs start the JVM directly. The JVM prints the metrics, and its
last stdout line, one JSON object {correct, attempted, failed, metrics}, is
repeated as this script's last line. Artifacts (all metrics, sample counts,
host context, span self times) go to .bench_build/artifacts/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve", "sql", "ingest", "curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same set to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change needs a rebuild, relative to ROOT."""
    out = []
    for top in ("src/main", "project", "perfbench/src/main", "perfbench/project"):
        base = os.path.join(ROOT, top)
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    out += ["build.sbt", "perfbench/build.sbt"]
    return sorted(set(out))


def stamp():
    h = hashlib.sha256()
    for rel in source_files():
        p = os.path.join(ROOT, rel)
        if os.path.isfile(p):
            h.update(rel.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The run classpath, building first when any source changed."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    want = stamp()
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(cp_file):
            with open(cp_file) as f:
                have, cp = f.read().split("\n", 1)
            if have == want:
                return cp.strip()
        if shutil.which("sbt") is None:
            fail("sbt not found on PATH")
        print("perfbench: building engine and harness with sbt ...", file=sys.stderr)
        try:
            r = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        lines = [l for l in r.stdout.splitlines() if l.strip()]
        if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
            errors = [l for l in lines if l.startswith("[error]")]
            sys.stderr.write("\n".join(errors[:40] or lines[-20:]) + "\n")
            fail("build failed")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(want + "\n" + cp + "\n")
        return cp


def java_cmd(cp, args, work):
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    # Xms=Xmx plus pre-touch, as the engine's own build.sbt runs it: the heap's
    # first-touch page faults are paid at start-up, not inside the timed work
    opts += ["--add-modules=jdk.incubator.vector", f"-Xms{HEAP}", f"-Xmx{HEAP}",
             "-XX:+AlwaysPreTouch",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
    return [java] + opts + ["-cp", cp, "graft.perfbench.Main"] + args


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"engine sources not found under {ROOT}: run from the root of a full checkout")

    cp = classpath()
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(cp, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--work", work, "--out", os.path.join(BUILD, "artifacts")], work)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    timed_out = False
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        timed_out = True
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    if timed_out:
        sys.stderr.write(err[-6000:])
        fail(f"run exceeded {RUN_TIMEOUT_S} s")

    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if proc.returncode != 0 or not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(err[-6000:])
        sys.stderr.write(out[-2000:])
        fail(f"run failed (exit {proc.returncode})")
    sys.stderr.writelines(l + "\n" for l in err.splitlines() if l.startswith("[perfbench"))
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
