#!/usr/bin/env python3
"""Run one benchmark workload against this checkout's library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark driver from source on first use (or
whenever a source file changed) into .bench_build/, runs the workload in
one JVM, and prints as its last line one JSON object: correct, attempted,
failed and metrics (end-to-end with --trace 0, per-layer with --trace 1).
The host's /proc/pressure cpu/io avg60 readings are printed before and
after the run, so a noisy run carries its own evidence. Each result is
also kept under .bench_build/results/ for perfbench/diff.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("catalog_bulk_ingest", "catalog_serve", "pipeline_suite")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
# Spark 4 on JDK 17 needs these opens when the session starts outside
# spark-submit; the list matches the library build's javaOptions.
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def pressure():
    out = {}
    for res in ("cpu", "io"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                for line in f:
                    parts = line.split()
                    for p in parts[1:]:
                        if p.startswith("avg60="):
                            out[f"{res}_{parts[0]}_avg60"] = float(p[6:])
        except OSError:
            pass
    return out


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot find Spark: set SPARK_HOME to an install with a jars/ directory")
    return home


def sources_digest():
    h = hashlib.sha256()
    for base in (LIB_SRC, os.path.join(BENCH, "src"), ):
        for d, _, files in sorted(os.walk(base)):
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    for name in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(env):
    classes = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
    stamp = os.path.join(BUILD, "stamp")
    digest = sources_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    print("perfbench: building library and driver (sbt compile)", flush=True)
    t0 = time.time()
    env = dict(env)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        # sbt's per-user state and scratch files go to the build directory too
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
                              f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
                              "-J-XX:-UsePerfData", "-Dsbt.server.autostart=false", "compile"],
                             cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isdir(classes):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", flush=True)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-hashes", action="store_true",
                    help="pipeline_suite: rewrite pipeline_hashes.txt from this run")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(LIB_SRC, "graft", "GraftEngine.scala")):
        fail(f"no library sources under {LIB_SRC}: run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    home = spark_home()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=home)
    classes = build(env)

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "up"))
    os.makedirs(os.path.join(work, "tmp"))
    # query artifacts and Spark scratch stay inside the checkout
    env["SPARK_GRAFT_ARTIFACT_DIR"] = os.path.join(work, "artifacts")
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={work}"]
    cmd += [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in OPENS]
    cmd += ["-cp", classes + os.pathsep + os.path.join(home, "jars", "*"), "perfbench.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), BENCH, work]
    if a.record_hashes:
        cmd.append(os.path.join(BENCH, "pipeline_hashes.txt"))

    print("pressure_before " + json.dumps(pressure()), flush=True)
    t_spawn = time.time()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, stdin=subprocess.DEVNULL)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload did not finish within {RUN_TIMEOUT_S} s")
    t_exit = time.time()
    shutil.rmtree(work, ignore_errors=True)
    print(f"jvm wall {t_exit - t_spawn:.1f} s", flush=True)
    print("pressure_after " + json.dumps(pressure()), flush=True)
    result, result_self = None, None
    for line in out.splitlines():
        if line.startswith('{"correct"'):
            result = json.loads(line)
        elif line.startswith("SELF "):
            result_self = json.loads(line[5:])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        sys.stderr.write(err[-6000:])
        fail(f"workload exited with {proc.returncode} and no result")
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    keep = os.path.join(BUILD, "results",
                        f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json")
    with open(keep, "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "result": result, "self_ms": result_self}, f)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
