#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine's pipelines and queries.

Run from the repository root:

    python3 perfbench/run.py --workload nightly_daily --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the harness with sbt (offline) into perfbench/target
the first time, then runs one workload in one JVM at local[4] and prints a
single JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics.
Everything a run writes stays under perfbench/out/; the per-op samples,
set-up split and spans of the last run of each workload are in
perfbench/out/detail/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(BENCH, "out")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
JAR = os.path.join(OUT, "perfbench.jar")
CDS = os.path.join(OUT, "classes.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH, "src", "main", "scala")


def spark_home():
    """$SPARK_HOME, else the Spark install whose bin/ on the PATH holds
    spark-submit next to a jars/ directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and \
                os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_HOME = spark_home()
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
WORKLOADS = ["nightly_daily", "query_mix"]
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every source path, size and mtime the build compiles."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt")]
    for top in (ENGINE_SRC, HARNESS_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit("perfbench: engine sources not found under src/main/scala "
                 "(run from the repository root)")
    if not os.path.isdir(SPARK_JARS):
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    stamp_file = os.path.join(OUT, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.exists(CDS):
        return
    log("building engine + harness with sbt")
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=SPARK_HOME, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Xmx2g", "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        "-Dsbt.global.base=" + os.path.join(OUT, "sbt-global"),
        "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp")]))
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        sys.exit(f"perfbench: sbt build failed ({r.returncode})")
    # one jar, so the JVM can archive its classes (class-data sharing cuts
    # class loading, a large part of every run's start-up)
    for f in (JAR, CDS):
        if os.path.exists(f):
            os.remove(f)
    subprocess.run(["jar", "--create", "--file", JAR, "-C", CLASSES, "."], check=True)
    # state built once per checkout from the fresh classes (the pre-built
    # nightly lake); a rebuild invalidates it
    shutil.rmtree(os.path.join(OUT, "cache"), ignore_errors=True)
    log("pre-building the nightly_daily lake and the class archive")
    work = os.path.join(OUT, "work", "prepare")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    r = subprocess.run(java_cmd(work, "-XX:ArchiveClassesAtExit=" + CDS) + [
        "perfbench.Prepare", work, os.path.join(OUT, "cache")],
        cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        sys.exit(f"perfbench: prepare run failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def java_cmd(work, *jvm_opts):
    return ["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), *jvm_opts,
        "-cp", f"{JAR}:{SPARK_JARS}/*"]


def run_jvm(workload, seed, seconds, trace, extra=()):
    """Runs one workload in a fresh JVM; returns the parsed result object."""
    work = os.path.join(OUT, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    detail = os.path.join(OUT, "detail", f"{workload}-trace{trace}.json")
    cache = os.path.join(OUT, "cache", workload + ("-tiny" if "--tiny" in extra else ""))
    cmd = java_cmd(work, "-XX:SharedArchiveFile=" + CDS) + [
        "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--work", work,
        "--detail", detail, "--cache", cache, *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, text=True)
    shutil.rmtree(work, ignore_errors=True)
    marker = "PERFBENCH_RESULT "
    lines = [l for l in p.stdout.splitlines() if l.startswith(marker)]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        sys.exit(f"perfbench: {workload} JVM exited {p.returncode} without a result")
    return json.loads(lines[-1][len(marker):])


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def selftest():
    """Tiny-size runs: every declared metric is emitted with its unit, and a
    deliberately corrupted output is counted as failed, not swallowed."""
    problems = []
    for wl in WORKLOADS:
        for trace, extra in ((0, ("--tiny", "--inject-failure")), (1, ("--tiny",))):
            res = run_jvm(wl, 7, 1, trace, extra)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            want = declared_metrics(trace)
            if got != want:
                problems.append(f"{wl} trace={trace}: metrics {sorted(set(got.items()) ^ set(want.items()))}")
            for k, v in res["metrics"].items():
                if not isinstance(v["value"], (int, float)):
                    problems.append(f"{wl} trace={trace}: {k} is not a number")
            if extra[-1] == "--inject-failure":
                if res["failed"] < 1 or res["correct"]:
                    problems.append(f"{wl}: injected failure not reported ({res['failed']} failed)")
            elif res["failed"] or not res["correct"]:
                problems.append(f"{wl} trace={trace}: {res['failed']} ops failed")
            log(f"selftest {wl} trace={trace}: attempted={res['attempted']} failed={res['failed']}")
    for p in problems:
        log("SELFTEST FAIL " + p)
    print(json.dumps({"selftest": "fail" if problems else "ok", "problems": problems}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    build()
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        ap.error("--workload is required")
    res = run_jvm(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
