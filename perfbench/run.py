#!/usr/bin/env python3
"""Repository benchmark: builds the harness against the program, runs one
workload and prints its metrics.

    python3 perfbench/run.py --workload mr_wordcount --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of standard output is one JSON
object with the keys correct, attempted, failed and metrics: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. Lines before it
are a human-readable report. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import rollup  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")

# Harness arguments per workload: input words per MapReduce job, or the
# files listing the registry's batch queries and streaming fixtures.
WORKLOADS = {
    "mr_wordcount": ["--words", "1000000"],
    "registry": ["--batch-queries", os.path.join(HERE, "batch_queries.txt"),
                 "--stream-queries", os.path.join(HERE, "stream_queries.txt")],
    "selftest": [],
    "discover": [],
}

# Spark 4 on JDK 17 outside spark-submit needs the module opens the
# program's build file passes to its forked JVMs.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

JVM_TIMEOUT_S = 140
# Class-data sharing archive in the build directory, made once per build.
ARCHIVE = "classes.jsa"
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the harness build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.abspath(__file__),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile the program and the harness with sbt once per source state;
    returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(build_dir, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        # sbt is a launcher script: give it its own process group so that a
        # timeout stops the JVM it starts too
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Compile / fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"build exceeded {BUILD_TIMEOUT_S} s; see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and "perfbench" in l and ".jar" in l]
    if rc != 0 or not cps:
        fail(f"build failed (rc {rc}); see {log}")
    cp = jar_dirs(cps[-1], build_dir)
    with open(cp_file, "w") as f:
        f.write(cp)
    train_archive(cp, build_dir)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def jar_dirs(cp, build_dir):
    """The classpath with each class directory packed into a jar: the JVM's
    class-data sharing archives classes from jars only."""
    jars = os.path.join(build_dir, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, names in sorted(os.walk(entry)):
                    for n in sorted(names):
                        z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def train_archive(cp, build_dir):
    """Dumps the classes one short registry run loads into a class-data
    sharing archive that every later run maps, which takes JVM and Spark
    class loading out of each run's set-up. If the dump fails, runs load
    classes from the jars as usual."""
    archive = os.path.join(build_dir, ARCHIVE)
    if os.path.exists(archive):
        os.remove(archive)
    a = argparse.Namespace(workload="registry", seed=0, seconds=1, trace=0)
    try:
        run_jvm(cp, a, build_dir, os.cpu_count() or 1,
                [f"-XX:ArchiveClassesAtExit={archive}"])
    except SystemExit:
        print("perfbench: class-data sharing archive not made; runs load classes from jars",
              file=sys.stderr)
        if os.path.exists(archive):
            os.remove(archive)


def heap():
    """Half the machine's memory, clamped to 2-4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        return max(2, min(4, kb // (2 * 1024 * 1024)))
    except (OSError, AttributeError):
        return 2


def run_jvm(cp, a, build_dir, cores, jvm_flags=()):
    work = os.path.join(build_dir, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    archive = os.path.join(build_dir, ARCHIVE)
    if not jvm_flags and os.path.exists(archive):
        jvm_flags = [f"-XX:SharedArchiveFile={archive}"]
    cmd = ["java", *ADD_OPENS, f"-Xmx{heap()}g", "-XX:-UsePerfData", *jvm_flags,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", DATA, "--work", work, "--out", out,
           "--cores", str(cores), *WORKLOADS[a.workload]]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=f,
                               stderr=subprocess.STDOUT,
                               timeout=1800 if a.workload == "discover" else JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {JVM_TIMEOUT_S} s; see {log}")
    if r.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read().splitlines()[-30:]
        fail(f"harness exited {r.returncode}; see {log}\n" + "\n".join(tail))
    with open(out) as f:
        return json.load(f)


def oracle_check(result):
    """DuckDB oracle compare of the run's result dump with the repository's
    own checker; returns {query: "PASS" | failure text}."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                        DATA, result["dump_dir"]],
                       capture_output=True, text=True, timeout=25)
    verdict = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? ", line + " ")
        if m:
            verdict[m.group(2)] = "PASS" if m.group(1) == "PASS" else line
    return verdict


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=os.cpu_count() or 1)
    a = p.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources under {ROOT}; run from a full checkout")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(build_dir)
    t0 = time.monotonic()
    result = run_jvm(cp, a, build_dir, a.cores)
    jvm_s = time.monotonic() - t0

    if a.workload in ("selftest", "discover"):
        print(json.dumps({k: result[k] for k in ("samples", "failures", a.workload)}))
        return

    t0 = time.monotonic()
    oracle = oracle_check(result) if "dump_dir" in result else {}
    oracle_s = time.monotonic() - t0
    verdict = rollup.verdict(result, oracle)
    e2e = rollup.end_to_end(result, verdict)
    if not e2e:
        print(json.dumps(rollup.report(result, verdict, e2e, None), indent=1, sort_keys=True))
        print(json.dumps({"correct": False, "attempted": verdict["attempted"],
                          "failed": verdict["failed"], "metrics": {}}))
        sys.exit(1)
    last = os.path.join(build_dir, f"last_untraced_{a.workload}.json")
    if a.trace:
        layers = rollup.per_layer(result, verdict)
        report = rollup.report(result, verdict, e2e, layers)
        if os.path.exists(last):
            with open(last) as f:
                report["tracing_overhead"] = rollup.overhead(e2e, json.load(f))
        metrics = layers[0]
    else:
        report = rollup.report(result, verdict, e2e, None)
        with open(last, "w") as f:
            json.dump(e2e, f)
        metrics = e2e
    report.update(harness_jvm_s=jvm_s, oracle_check_s=oracle_s)
    print(json.dumps(report, indent=1, sort_keys=True))
    print(json.dumps({
        "correct": verdict["correct"],
        "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": {k: {"value": v, "unit": rollup.UNITS[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
