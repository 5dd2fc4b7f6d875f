#!/usr/bin/env python3
"""Lake benchmark launcher.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 lakebench/run.py --self-test

Run from the repository root. Builds the engine sources (src/main/scala)
together with the benchmark's own (lakebench/src/main/scala) with the Scala
compiler that ships in Spark's jars, into .bench_build/, and rebuilds only
when a source changes. Then runs one workload in a fresh JVM and prints, as
the last line of stdout, one JSON object with the keys correct, attempted,
failed and metrics. --trace 0 reports the end-to-end metrics of
BENCHMARK.json, --trace 1 the per-layer ones (and writes the run's spans to
.bench_build/spans/). Everything the run writes stays under .bench_build/.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
TEST_SRC = os.path.join(HERE, "src", "test", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
# A fixed heap: peak RSS then tracks what the run touches, not when the
# collector chose to grow the heap.
JVM_HEAP = "1g"
# Spark on Java 17 outside spark-submit needs these opened, as in build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found "
             "(set SPARK_HOME)")
    return jars


def scala_sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_scala(jars, sources, classpath, out_dir, deps=()):
    """Compile `sources` into `out_dir` unless an identical build exists
    (same sources, and same `deps`: the sources they compile against)."""
    digest = hashlib.sha256()
    for path in list(sources) + list(deps):
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    stamp_file = out_dir + ".stamp"
    if os.path.isdir(out_dir) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = out_dir + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
           "-d", tmp, "-classpath", classpath, "@" + args_file]
    try:
        res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True,
                             timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build(jars, with_tests=False):
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft", "lake")):
        fail("engine sources (src/main/scala/graft/lake) not found; "
             "run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    jar_cp = os.path.join(jars, "*")
    classes = os.path.join(BUILD, "classes")
    main_sources = scala_sources(ENGINE_SRC, BENCH_SRC)
    compile_scala(jars, main_sources, jar_cp, classes)
    cp = [classes, jar_cp]
    if with_tests:
        test_classes = os.path.join(BUILD, "test-classes")
        compile_scala(jars, scala_sources(TEST_SRC),
                      os.pathsep.join(cp), test_classes, deps=main_sources)
        cp.insert(0, test_classes)
    return os.pathsep.join(cp)


def java_cmd(classpath, scratch, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # no hsperfdata file in /tmp: the run writes only under .bench_build
    return (["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
             "-Xss4m"] + opens + [
        f"-Djava.io.tmpdir={scratch}/tmp",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-cp", classpath, main] + args)


def run_jvm(cmd, scratch, log_path):
    """Run the JVM; returns (exit code, stdout, peak RSS in MB)."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "local"))
    out_path = os.path.join(scratch, "stdout")
    with open(out_path, "w") as out, open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=scratch, stdout=out, stderr=err,
                             env=env, start_new_session=True)
        timed_out = []

        def kill():
            timed_out.append(True)
            os.killpg(p.pid, signal.SIGKILL)

        timer = threading.Timer(RUN_TIMEOUT_S, kill)
        timer.start()
        try:
            _, status, usage = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
    with open(out_path) as f:
        stdout = f.read()
    code = 124 if timed_out else p.returncode
    return code, stdout, usage.ru_maxrss / 1024.0


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def declared_metrics(trace):
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in benchmark_spec()[key]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        fail("--workload is required")
    if a.seconds is None:
        a.seconds = benchmark_spec()["run_seconds"]

    jars = spark_jars()
    classpath = build(jars, with_tests=a.self_test)
    tag = "selftest" if a.self_test else f"{a.workload}-{a.seed}-{a.trace}"
    scratch = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, tag + ".log")
    if a.self_test:
        main_class, args = "lakebench.SelfTest", [scratch]
    else:
        main_class = "lakebench.Main"
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--dir", scratch]
        if a.trace:
            spans = os.path.join(BUILD, "spans")
            os.makedirs(spans, exist_ok=True)
            args += ["--spans", os.path.join(spans, tag + ".jsonl")]
    try:
        code, stdout, rss_mb = run_jvm(
            java_cmd(classpath, scratch, main_class, args), scratch, log_path)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if a.self_test:
        sys.stdout.write(stdout)
        if code != 0:
            fail(f"self-tests failed (log: {log_path})", 1)
        return
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"run failed with exit code {code} (log: {log_path})", 1)
    result = json.loads(lines[-1])
    if not a.trace:
        result["metrics"]["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
    want = declared_metrics(a.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: missing "
             f"{sorted(set(want) - set(got))}, extra "
             f"{sorted(set(got) - set(want))}, units "
             f"{sorted(k for k in want if k in got and got[k] != want[k])}", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
