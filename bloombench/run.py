#!/usr/bin/env python3
"""Lifecycle benchmark of the Bloom-filter engine.

Run from the root of a checkout:

    python3 bloombench/run.py --workload imdb_p01 --seed 1 --seconds 20 --trace 0

The first run in a checkout builds the engine and the benchmark with sbt
(offline) into `bloombench/target` and the engine's own `target`; later runs
reuse the build while the sources are unchanged. The benchmark then starts one
JVM (`bloombench.Main`) with `local[nproc]` and a heap sized from MemTotal,
relays its output, and leaves its result object as the last stdout line.
Inputs and outputs live under `bloombench/work` and are removed afterwards;
traced runs leave `bloombench/out/<workload>.trace.json`.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STAMP = os.path.join(BENCH, "target", "bench-build.json")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (same set as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bloombench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build compiles: the engine's and the benchmark's."""
    h = hashlib.sha256()
    for base in (ROOT, BENCH):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            path = os.path.join(base, name)
            if os.path.isfile(path):
                h.update(path.encode())
                with open(path, "rb") as f:
                    h.update(f.read())
        src = os.path.join(base, "src", "main")
        for dirpath, dirnames, filenames in os.walk(src):
            dirnames.sort()
            for fn in sorted(filenames):
                path = os.path.join(dirpath, fn)
                h.update(path.encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Returns the runtime classpath, compiling first if the sources changed."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(
            os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("bloombench: no engine sources (build.sbt, src/main/scala) beside the benchmark")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("bloombench: sbt and java are needed to build the engine")
    digest = source_digest()
    if os.path.isfile(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("digest") == digest and all(os.path.exists(p) for p in stamp["classpath"]):
            return stamp["classpath"]
    log("building the engine and the benchmark (sbt, offline)")
    t0 = time.time()
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"bloombench: build did not finish in {BUILD_TIMEOUT_S} s")
    out = proc.stdout.decode(errors="replace").splitlines()
    for line in out:
        print(line, file=sys.stderr)
    if proc.returncode != 0:
        raise SystemExit(f"bloombench: build failed (sbt exit {proc.returncode})")
    cp_lines = [l.strip() for l in out if l.strip() and not l.startswith("[") and os.pathsep in l
                and ".jar" in l]
    if not cp_lines:
        raise SystemExit("bloombench: build printed no classpath")
    classpath = cp_lines[-1].split(os.pathsep)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """A quarter of MemTotal, between 2 and 4 GB: the machine is shared."""
    gb = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gb = int(line.split()[1]) // (4 * 1024 * 1024)
    except OSError:
        pass
    return f"{min(4, max(2, gb))}g"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    work = os.path.join(BENCH, "work", f"{args.workload}-{os.getpid()}")
    out = os.path.join(BENCH, "out")
    os.makedirs(work, exist_ok=True)
    cmd = (["java", f"-Xmx{heap()}", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "bloombench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cores", str(cores()), "--work", work, "--out", out])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"bloombench: the run did not end within {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.decode(errors="replace").splitlines()
    result = lines.pop() if lines and lines[-1].startswith("{") else None
    for line in lines:
        print(line)
    if proc.returncode != 0 or result is None:
        raise SystemExit(f"bloombench: the benchmark JVM exited with {proc.returncode} and no result")
    json.loads(result)
    print(result, flush=True)


if __name__ == "__main__":
    main()
