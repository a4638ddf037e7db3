#!/usr/bin/env python3
"""Daily-ingestion benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of the repository. On first use it builds the engine
and the benchmark from source with sbt (offline); later runs reuse the build
while the sources are unchanged. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. End-to-end metrics
come with --trace 0, per-layer metrics with --trace 1. A fuller report,
including the run's environment, is written under perfbench/target/reports.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target", "bench")
WORKLOADS = ("daily-full-cow", "cdc-mor-changelog")
HEAP = "3g"
RUN_LIMIT_S = 175  # a run after the build must end within 180 s
BUILD_LIMIT_S = 800

# Spark on JDK 17 needs these outside spark-submit (as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    picks = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            picks += [os.path.join(d, f) for f in fs]
    return sorted(p for p in picks if os.path.isfile(p))


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
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
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    # keep sbt's temporary and file-watch state inside the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.pop("XDG_RUNTIME_DIR", None)
    # sbt puts its boot lock socket under the temporary directory; a unix
    # socket path is limited to 107 bytes, so under a deep checkout the
    # socket cannot be made. forcestart lets sbt go on without it, and the
    # build needs no sbt server.
    env["SBT_OPTS"] += (" -Djava.io.tmpdir=" + tmp
                        + " -Dsbt.server.forcestart=true"
                        + " -Dsbt.server.autostart=false")
    return env


def build():
    """Compiles the engine and the benchmark; returns the runtime classpath."""
    fp = fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint.txt")
    if os.path.isfile(cp_file) and os.path.isfile(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    cp = g.read().strip()
                # a clean of the root build removes the engine's classes
                if all(os.path.exists(p) for p in cp.split(os.pathsep)):
                    return cp
                log("cached classpath names missing files; rebuilding")
    log("building the engine and the benchmark (sbt)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, text=True)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-5000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(fp_file, "w") as f:
        f.write(fp)
    log("build done in %.0f s" % (time.time() - t0))
    return cps[-1]


def commit_id(fp_hint):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-sha256:" + fp_hint[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: the engine's sources are not here "
                         "(run from a checkout of the whole repository)")
    classpath = build()
    started = time.time()

    work = os.path.join(HERE, "target", "work",
                        "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--out", out,
              "--reports", os.path.join(HERE, "target", "reports"),
              "--commit", commit_id(fingerprint())])
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit("perfbench: run exceeded %d s" % RUN_LIMIT_S)
    try:
        if code != 0 or not os.path.isfile(out):
            raise SystemExit("perfbench: benchmark JVM exited with %d" % code)
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
