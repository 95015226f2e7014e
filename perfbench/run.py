#!/usr/bin/env python3
"""Repository benchmark: an ETL campus fleet and a core gate list.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_fleet --seed 1 --seconds 20 --trace 0

The first call builds the engine and the harness from source with sbt
(offline) into $CARGO_TARGET_DIR (default .bench_build); later calls reuse
the build while the sources are unchanged. Each call runs one JVM with its
own scratch root, removed at exit. The last line of standard output is one
JSON object: correct, attempted, failed and the metrics (end-to-end ones with
--trace 0, per-layer ones with --trace 1).

Other modes:
    --record     write the run's output digests to perfbench/expected/
    --selftest   run the harness's own unit tests (sbt test)
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("etl_fleet", "gates_core")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list the engine's build passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(os.path.join(ROOT, d))


def source_stamp():
    """Hash of every input of the build, so a changed tree is rebuilt."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if "target" in d.split(os.sep):
                continue
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    tmp = os.path.join(build_dir(), "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       f"-Dsbt.server.forcestart=false -Djava.io.tmpdir={tmp} -Xmx2g")
    env["CARGO_TARGET_DIR"] = build_dir()
    return env


def sbt(*tasks, timeout):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks]
    return subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=timeout)


def ensure_build():
    """Returns the runtime classpath, building first when needed."""
    if not os.path.isdir(ENGINE_SRC):
        fail("engine sources not found next to the benchmark; nothing to build")
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    stamp_file = os.path.join(bd, "perfbench.stamp")
    cp_file = os.path.join(bd, "perfbench.classpath")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    t0 = time.time()
    try:
        p = sbt("compile", "export Runtime/fullClasspath", timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if not cps:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1].strip()


def run_jvm(cp, args):
    bd = build_dir()
    scratch = os.path.join(bd, f"scratch-{os.getpid()}-{time.time_ns()}")
    os.makedirs(scratch)
    env = dict(os.environ)
    env["SPARK_GRAFT_STREAM_SCRATCH"] = os.path.join(scratch, "stream")
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.makedirs(env["SPARK_GRAFT_STREAM_SCRATCH"])
    cpus = max(1, min(4, os.cpu_count() or 1))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={scratch}", "-XX:-UsePerfData",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", HERE, "--scratch", scratch,
            "--out", os.path.join(bd, "runs"), "--cpus", str(cpus)]
    if args.record:
        cmd.append("--record")
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)

    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    signal.signal(signal.SIGINT, lambda *a: (stop(), sys.exit(130)))
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        fail("run timed out", 3)
    stop()
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        ensure_build()
        p = sbt("test", timeout=BUILD_TIMEOUT_S)
        sys.stdout.write(p.stdout)
        sys.exit(p.returncode)
    if not args.workload:
        fail("--workload is required")
    cp = ensure_build()
    sys.stdout.flush()
    sys.exit(run_jvm(cp, args))


if __name__ == "__main__":
    main()
