#!/usr/bin/env python3
"""Build and run the array/index benchmark.

    python3 perfbench/run.py --workload array_mvcc|text_serving \
        --seed N --seconds S --trace 0|1 [--smoke TPCH_DIR]

Run it from the root of a checkout. The first run compiles the engine
from the checkout's own sources (src/main) together with the benchmark
code under perfbench/src, into perfbench/target; later runs rebuild whenever
any of those sources changed, so a measurement never uses classes from
another commit. Each run works in a fresh directory under .bench_build/
and deletes it at the end. The last line of standard output is the JSON
result; on any failure the script exits non-zero without printing one.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".bench_build")
STAMP = os.path.join(STATE, "perfbench.classpath")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of a build of the current sources, compiling if needed."""
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] compiling engine + benchmark", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    os.makedirs(STATE, exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["array_mvcc", "text_serving"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", metavar="TPCH_DIR",
                    help="self-check on a small TPC-H parquet directory, all oracles on")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources under {ROOT}/src/main/scala; run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")

    classpath = build()
    work = os.path.join(STATE, "work", uuid.uuid4().hex)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work]
    if a.trace:
        cmd += ["--trace-out", os.path.join(STATE, "traces", f"{a.workload}-seed{a.seed}.json")]
    if a.smoke:
        cmd += ["--smoke", os.path.abspath(a.smoke)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    # the JVM must not outlive this script, whatever ends it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if proc.returncode != 0 or not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        die(f"run failed (exit {proc.returncode})")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
