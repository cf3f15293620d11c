#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its result as JSON.

    python3 perfbench/run.py --workload <interactive|curation|index_serving>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the library
and the harness from source with sbt (offline) into `.bench_build/`;
later runs reuse that build while the sources are unchanged. The
harness runs in one JVM, and its last line of standard output, one
JSON object, is repeated here as the last line. The exit code is 0
when every output check passed, 3 when one failed, and another
non-zero code when the build or the run failed.
"""

import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BUILD_DIR = ROOT / ".bench_build"
STAMP = BUILD_DIR / "build.stamp"
CLASSPATH = BUILD_DIR / "classpath.txt"
WORKLOADS = ("interactive", "curation", "index_serving")
RUN_LIMIT_S = 175

# Spark 4 on JDK 17 needs these when a session starts outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH_DIR / "build.sbt", BENCH_DIR / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", BENCH_DIR / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256(str(ROOT).encode())
    for p in source_files():
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit_s):
    """Run `cmd` in its own process group; kill the group at the limit
    or when this process is stopped. Returns (exit code, stdout text)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def build():
    """Compile the library and the harness once per source state and
    record the runtime classpath."""
    fp = fingerprint()
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == fp:
        return CLASSPATH.read_text().strip()
    BUILD_DIR.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log("building library and harness with sbt")
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.forcestart=false", "compile",
         "export Runtime/fullClasspath"],
        BENCH_DIR, env, 850)
    lines = [ln.strip() for ln in (out or "").splitlines()]
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log(f"build failed (exit {code})")
        sys.exit(2)
    CLASSPATH.write_text(cp[-1] + "\n")
    STAMP.write_text(fp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1]


def main():
    # a SIGTERM from a caller's timeout unwinds like Ctrl-C, so the
    # child process group is killed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [p for p in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala")
               if not p.exists()]
    if missing:
        log(f"no graft sources to build: {', '.join(map(str, missing))}")
        sys.exit(2)
    cp = build()

    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # soft references are cleared at every collection, so the post-GC
    # heap samples read live data only
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", "-XX:SoftRefLRUPolicyMSPerMB=0",
           "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={BENCH_DIR / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    tmp = BUILD_DIR / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd.insert(1, f"-Djava.io.tmpdir={tmp}")
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(BUILD_DIR / "spark-local"))
    try:
        code, out = run_bounded(cmd, ROOT, env, RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_LIMIT_S} s and was stopped")
        sys.exit(4)
    lines = [ln for ln in (out or "").splitlines() if ln.strip()]
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        log(f"run failed (exit {code})")
        sys.exit(code or 5)
    for ln in lines[:-1]:
        print(ln)
    print(lines[-1], flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
