#!/usr/bin/env python3
"""Run one benchmark workload against the graft library in this checkout.

    python3 perfbench/run.py --workload log_read_append --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (offline), records a class-data archive per
workload with a one-second run of each, and caches both under
perfbench/.build; later runs start the JVM directly. The last line of
standard output is the result as one JSON object; the exit code is 0 only
when every correctness check passed. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
TRACE_OUT = os.path.join(HERE, ".out")

WORKLOADS = ("log_read_append", "daemon_ingest")
# One heap for every workload, stated so that memory figures compare.
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 350
TRAIN_TIMEOUT_S = 170

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.abspath(__file__),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files.extend(os.path.join(d, n) for n in sorted(names))
    return [f for f in files if os.path.isfile(f)]


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout.
    Returns (exit code, stdout), with None as the code on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print("perfbench: %s timed out after %d s" % (cmd[0], timeout), file=sys.stderr)
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def jarred(entries):
    """Class directories packed into jars: the JVM's class-data archive
    (see train_archives) only covers classes loaded from jars."""
    jars = os.path.join(BUILD, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, e in enumerate(entries):
        if os.path.isdir(e):
            jar = os.path.join(jars, "%02d-%s.jar" % (i, os.path.basename(os.path.dirname(
                os.path.dirname(os.path.dirname(e))))))
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, dirs, names in os.walk(e):
                    dirs.sort()
                    for n in sorted(names):
                        p = os.path.join(d, n)
                        z.write(p, os.path.relpath(p, e))
            e = jar
        out.append(e)
    return out


def classpath():
    """Build if the sources changed since the cached classpath."""
    stamp = fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    t0 = time.time()
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if rc is None:
        die("build timed out")
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(out)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        die("build failed (log in perfbench/.build/build.log)")
    cp = [l for l in out.splitlines() if l and not l.startswith("[")][-1].strip()
    cp = ":".join(jarred(cp.split(":")))
    for f in os.listdir(BUILD):
        if f.endswith(".jsa"):
            os.remove(os.path.join(BUILD, f))
    with open(cp_file, "w") as fh:
        fh.write(cp)
    train_archives(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print("perfbench: built in %.0f s" % (time.time() - t0), file=sys.stderr)
    return cp


def archive(workload):
    return os.path.join(BUILD, "cds-%s.jsa" % workload)


def train_archives(cp):
    """Class-data sharing: record the classes a short run of each workload
    loads, so that every measured run maps them instead of loading them
    again, which saves several seconds of JVM start and set-up per run. A
    failed recording only costs that saving."""
    for w in WORKLOADS:
        tmp = archive(w) + ".tmp"
        res = run_workload(cp, w, 0, 1, 0, ["-XX:ArchiveClassesAtExit=" + tmp],
                           subprocess.DEVNULL, TRAIN_TIMEOUT_S)
        if res is not None and os.path.exists(tmp):
            os.replace(tmp, archive(w))
        elif os.path.exists(tmp):
            os.remove(tmp)


def run_workload(cp, workload, seed, seconds, trace, jvm_extra, stdout, timeout):
    """One run of perfbench.Main in a fresh scratch directory, removed
    afterwards. Returns the parsed result, or None if the run failed."""
    work = os.path.join(WORK, "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC",
           "-Xlog:disable", "-Xlog:all=error:stderr"] + jvm_extra + [
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--out", result,
            "--trace-dir", os.path.join(TRACE_OUT, "%s-seed%d" % (workload, seed))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        rc, _ = run_bounded(cmd, timeout, cwd=work, env=env, stdout=stdout)
        if rc != 0 or not os.path.exists(result):
            print("perfbench: workload %s exited with %s and no result" % (workload, rc),
                  file=sys.stderr)
            return None
        with open(result) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources next to the benchmark (expected src/main/scala/graft)")
    if shutil.which("java") is None:
        die("java is not on PATH")

    cp = classpath()
    jsa = archive(a.workload)
    share = ["-XX:SharedArchiveFile=" + jsa] if os.path.exists(jsa) else []
    res = run_workload(cp, a.workload, a.seed, a.seconds, a.trace, share,
                       sys.stdout, RUN_TIMEOUT_S)
    sys.stdout.flush()
    if res is None:
        sys.exit(1)
    print(json.dumps(res))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
