#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload migrate|sql --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
engine (src/main) together with the benchmark (perfbench/src) with sbt;
later runs reuse the classes while no source file changed. Each run works
in its own directory under perfbench/.run, which is deleted at exit.
Traced runs keep their spans in perfbench/out.

The last line on stdout is the result object; the line before it carries
the workload-specific figures. The exit code is non-zero when the build
or the run fails, or when any output check fails.
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

BENCH = "perfbench"
WORKLOADS = ("migrate", "sql")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit; the list matches
# org.apache.spark.launcher.JavaModuleOptions.
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


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_digest(root):
    """Digest of every build input, so a changed source forces a rebuild."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(root, BENCH, "src", "main")]
    files = [os.path.join(root, BENCH, "build.sbt"),
             os.path.join(root, BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, env):
    bench = os.path.join(root, BENCH)
    classes = os.path.join(bench, "target", "scala-2.13", "classes")
    stamp = os.path.join(bench, "target", "perfbench.stamp")
    digest = source_digest(root)
    if os.path.exists(stamp) and os.path.isdir(classes):
        with open(stamp) as fh:
            if fh.read() == digest:
                return classes
    t0 = time.time()
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    # keep sbt's scratch files inside the checkout; its caches stay its own
    tmp = os.path.join(bench, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        f"-Dswoval.tmpdir={tmp}", f"-J-Djava.io.tmpdir={tmp}",
                        "compile"], cwd=bench,
                       env=dict(env, TMPDIR=tmp, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"),
                       stdout=sys.stderr, stderr=sys.stderr, check=True, timeout=BUILD_TIMEOUT_S)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, BENCH)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala is missing")
    home = spark_home()
    env = dict(os.environ, SPARK_HOME=home)
    classes = build(root, env)

    run_dir = os.path.join(bench, ".run", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classes + os.pathsep + os.path.join(home, "jars", "*"),
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--run-dir", run_dir,
              "--data-dir", os.path.join(bench, "data", "sf0.01"),
              "--config", os.path.join(bench, "workloads.json")])
    if a.trace:
        cmd += ["--spans-out", os.path.join(bench, "out", f"spans-{a.workload}-{a.seed}.jsonl")]

    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"run failed with exit code {proc.returncode}", proc.returncode or 4)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 5)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}", 5)
    print("\n".join(lines[-2:]))


if __name__ == "__main__":
    main()
