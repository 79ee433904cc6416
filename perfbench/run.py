#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload etl_core --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the engine and the harness from source
(sbt, offline) and generates the input tables; both land in .bench_build/.
Each run starts one JVM that sets up three times, runs timed passes for
--seconds, checks every output and writes its result. The last line of
stdout is the result object; the full detail (samples, failures by class,
self-time table, spans) goes to .bench_build/results/. Exit code 0 only
when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("curation_ticks", "etl_core")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every source the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    for base in (ENGINE, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for d in (ROOT, HERE):
        for f in ("build.sbt", os.path.join("project", "build.properties")):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_checked(cmd, timeout, log, **kw):
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, **kw)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{cmd[0]} timed out after {timeout}s; log {log}")
    if code != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"{' '.join(cmd[:3])} exited {code}; log {log}")


def java_cmd(classpath, work, main_args):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens + [
        "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", classpath, "graftbench.Main"] + main_args)


def build():
    """Compile engine + harness and generate the tables, once per source
    state. Returns the runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    data = os.path.join(BUILD, "data")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), data
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env = dict(
        os.environ, COURSIER_MODE="offline",
        # every JVM sbt starts keeps its temporary files in the checkout
        JAVA_TOOL_OPTIONS=" ".join([
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={sbt_tmp}",
            f"-Djna.tmpdir={sbt_tmp}"]),
        SBT_OPTS=" ".join([
            "-Dsbt.override.build.repos=true",
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
            "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]))
    log = os.path.join(BUILD, "build.log")
    run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, log,
                cwd=HERE, env=env)
    lines = [ln.strip() for ln in open(log) if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if "classes" in ln and not ln.startswith("[")), None)
    if cp is None:
        fail(f"no classpath in {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    shutil.rmtree(data, ignore_errors=True)
    work = os.path.join(BUILD, "gen")
    run_checked(java_cmd(cp, work, ["gen-data", data]), BUILD_TIMEOUT_S,
                os.path.join(BUILD, "gen.log"))
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE}")
    expected = os.path.join(HERE, "expected.json")
    if not os.path.isfile(expected):
        fail("pinned fingerprints perfbench/expected.json missing")

    classpath, data = build()
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    log = os.path.join(results, f"{tag}.log")
    t0 = time.time()
    try:
        run_checked(java_cmd(classpath, work, [
            "run", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), data, os.path.join(work, "run"), expected, out]),
            RUN_TIMEOUT_S, log)
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    detail = res.pop("detail")
    detail["wall_s"] = time.time() - t0
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)

    print(f"workload {args.workload} seed {args.seed} nproc {detail['nproc']} "
          f"wall {detail['wall_s']:.1f}s")
    print(f"error_rate {detail['error_rate']:.4f} "
          f"({res['failed']} failed of {res['attempted']} ops)")
    for f in detail["failures"]:
        print(f"  FAILED {f['pass']} {f['op']}: {f['errorClass']} {f['message']}")
    shown = set(res["metrics"])
    for name, m in detail["metrics"].items():
        if name in shown:
            print(f"  {name:40s} {m['value']:14.4f} {m['unit']:6s} n={m['samples']}")
    if args.trace:
        print(f"  tracing overhead {detail['metrics']['trace.overhead_s']['value']:+.3f} s/pass")
        print("  self time by span (traced timed passes):")
        for row in detail["self_time"][:15]:
            print(f"    {row['span']:32s} n={row['count']:<4d} total {row['total_s']:8.3f}s "
                  f"self {row['self_s']:8.3f}s jobs {row['jobs']}")
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
