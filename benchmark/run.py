#!/usr/bin/env python3
"""Closed-loop benchmark of graft's query keys.

Usage (from the repository root):

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library from `src/main/scala` and the harness from
`benchmark/src` with the Scala compiler that ships in Spark's jars, then runs
one workload in a fresh JVM on `local[4]`. The seed picks the order in
which each pass submits the workload's keys; the keys themselves and the
tables under `benchmark/data` are fixed. Every collected result is checked
against the committed DuckDB answer in `benchmark/answers`.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with `--trace 0`,
the per-layer metrics of a traced run with `--trace 1`. Build output goes to
`$CARGO_TARGET_DIR` (default `.bench_build`), run files to `.bench_out`, and
Spark's scratch space to `.bench_work`, which is removed after the run.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.relpath(os.path.dirname(os.path.abspath(__file__)), ROOT)
OUT = ".bench_out"
WORK = ".bench_work"
JVM_TIMEOUT_S = 170

# Each workload runs its committed answer set (benchmark/answers/<name>.json,
# chosen by make_answers.py) at one scale factor. A cold workload runs one
# pass; a warm one first runs an untimed warm pass on the smaller `warm_sf`.
WORKLOADS = {
    "adhoc-cold": dict(
        sf="0.01", shared_build="none", warm_sf=None,
        why="a fresh application runs a fixed sample of all three query families "
            "once each, cold: per-query fixed cost (jobs, planning, codegen) dominates"),
    "nested-sf0.1": dict(
        sf="0.1", shared_build="orderItems", warm_sf="0.01",
        why="the 27 oamap nested-operator keys over the persisted orderItems column, "
            "warm: task CPU on the paper's core path, after the fixed costs are paid"),
}

# Spark runs on local[CORES] with CORES shuffle partitions, fixed so that runs
# on hosts of different sizes measure the same plans.
CORES = 4
# Stages that run as one task over more rows than this are flagged.
SINGLE_TASK_ROWS = 500_000


def spark_jars():
    """The Spark jar directory the sbt build compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sys.exit("benchmark: no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile library and harness into <build dir>/classes unless the
    sources are unchanged since the last build. Returns the class dir."""
    if not os.path.isdir("src/main/scala"):
        sys.exit("benchmark: src/main/scala not found; run from the repository root")
    out = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.isdir(classes) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = spark_jars()
    compiler = ":".join(os.path.join(jars, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar"))
    t0 = time.time()
    rc = subprocess.call(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile],
        stdout=sys.stderr)
    if rc != 0:
        sys.exit(f"benchmark: compile failed ({rc})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"[bench] built {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def jvm(classes, main_args, log, timeout=JVM_TIMEOUT_S):
    """Run the harness; stdout passes through, stderr goes to `log`."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "local")):
        os.makedirs(d, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # -XX:-UsePerfData keeps the JVM from writing a perf-data file outside
    # the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx4g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(WORK, 'local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + ":" + os.path.join(spark_jars(), "*"), "graftbench.ClosedLoop"]
    sys.stdout.flush()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd + main_args, stdout=sys.stdout, stderr=err,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"benchmark: JVM exceeded {timeout} s", file=sys.stderr)
            return -1
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def passes(keys, seed, spec):
    """The key sequence of each pass, a fresh seeded permutation per pass.
    A warm workload gets enough passes that the time limit ends the run."""
    rng = random.Random(seed)
    return [rng.sample(keys, len(keys)) for _ in range(1 if spec["warm_sf"] is None else 64)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.chdir(ROOT)
    spec = WORKLOADS[a.workload]
    answers = os.path.join(BENCH, "answers", a.workload + ".json")
    with open(answers) as fh:
        keys = sorted(json.load(fh)["keys"])
    classes = build()
    os.makedirs(os.path.join(OUT, "counts"), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    config = dict(
        workload=a.workload, sf_dir=os.path.join(BENCH, "data", "sf" + spec["sf"]),
        answers=answers, cores=CORES, seconds=a.seconds, trace=bool(a.trace),
        shared_build=spec["shared_build"],
        warm_sf_dir=os.path.join(BENCH, "data", "sf" + spec["warm_sf"]) if spec["warm_sf"] else "",
        passes=passes(keys, a.seed, spec),
        single_task_rows=SINGLE_TASK_ROWS,
        result=os.path.join(OUT, tag + ".result.json"),
        trace_out=os.path.join(OUT, tag + ".spans.jsonl"),
        # A warm pass's counts do not depend on key order; a cold pass's do
        # (the first key to read a shared intermediate builds it).
        counts_file=os.path.join(OUT, "counts", a.workload + (
            "" if spec["warm_sf"] else f"-seed{a.seed}") + ".json"))
    cfg = os.path.join(OUT, tag + ".config.json")
    if os.path.exists(config["result"]):
        os.remove(config["result"])
    config["launch_ms"] = time.time() * 1000.0
    with open(cfg, "w") as fh:
        json.dump(config, fh)
    log = os.path.join(OUT, tag + ".log")
    try:
        rc = jvm(classes, ["run", cfg], log)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    sys.stdout.flush()
    if rc != 0 or not os.path.exists(config["result"]):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(f"benchmark: run failed (exit {rc}); log in {log}")
    with open(config["result"]) as fh:
        result = json.load(fh)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
