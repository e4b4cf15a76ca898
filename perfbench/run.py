#!/usr/bin/env python3
"""North-star benchmark: session records in Parquet to a committed graph.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source on first use (see
build.sh; classes are cached under $CARGO_TARGET_DIR, default
.bench_build, keyed by a hash of the sources), then runs one JVM that
sets up, measures and checks the workload (perfbench/src/perfbench/
Main.scala). Its informational lines go to stdout; the last stdout line
is one JSON object with the metrics BENCHMARK.json lists: the
end-to-end ones with --trace 0, the per-layer ones with --trace 1.
Exits non-zero, without a result line, when the sources are missing,
the build or the run fails, or the run's result does not match
BENCHMARK.json.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the root build.sbt uses."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME: no Spark jar directory in build.sbt")
    return m.group(1)


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(os.path.join("perfbench", "src", "**", "*.scala"), recursive=True))
    if not files or not bench:
        fail("library sources (src/main/scala) or benchmark sources (perfbench/src) not found; "
             "run from the repository root")
    return files + bench + [os.path.join("perfbench", "build.sh")]


def build(build_dir, jars):
    digest = hashlib.sha256()
    for path in sources():
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(build_dir, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "BUILD_OK")):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    try:
        subprocess.run(["bash", os.path.join("perfbench", "build.sh"), tmp, jars],
                       check=True, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"build failed: {e}")
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    try:
        os.rename(tmp, classes)
    except OSError:
        # a concurrent run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


def validate(line, spec, trace):
    """The JVM's result line, checked against BENCHMARK.json."""
    try:
        res = json.loads(line)
    except ValueError:
        fail(f"last output line is not JSON: {line!r}")
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(res)}")
    if not isinstance(res["correct"], bool) or res["attempted"] < 1 or res["failed"] < 0:
        fail(f"bad result header {line!r}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = res["metrics"]
    if set(got) != set(want):
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if m.get("unit") != want[name] or not isinstance(m.get("value"), (int, float)) \
                or not math.isfinite(m["value"]):
            fail(f"metric {name}: {m}")
    return json.dumps(res)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = p.parse_args()

    try:
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    jars = spark_jars()
    classes = build(build_dir, jars)
    work = os.path.join(build_dir, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for mod in ADD_OPENS:
        cmd += ["--add-opens", f"{mod}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    # Spark prefers these over spark.local.dir; its scratch stays in `work`
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS", "LOCAL_DIRS")}
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S, env=env)
    except subprocess.TimeoutExpired as e:
        out = e.stdout or ""
        sys.stderr.write(out.decode() if isinstance(out, bytes) else out)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.rstrip("\n").split("\n")
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0:
        fail(f"run exited with code {proc.returncode}")
    print(validate(lines[-1], spec, a.trace == 1))


if __name__ == "__main__":
    main()
