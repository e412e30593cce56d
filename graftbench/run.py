#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (graftbench/build.sbt depends on the root build) and
exports the runtime classpath; later runs reuse it until a source file
changes. The harness JVM is then started directly on that classpath,
so no build tool sits between the program and its output.

Standard output carries one line per metric (`metric <name> <value>
<unit> <samples>`), a `FAILED ...` line per failed operation or check,
and, as its last line, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are
the `end_to_end` list of BENCHMARK.json, with `--trace 1` the
`per_layer` list. The full result, including every metric with its
sample count, `nproc` and the Spark configuration, is written to
graftbench/results/; traced runs also write their spans there.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.monotonic()
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("etl_backfill", "etl_nightly", "serve_dashboard", "curate_corpus")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=1):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, limit_s, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def newest_source_mtime():
    newest = 0.0
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for top in tops:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
            continue
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile engine and harness if needed; return the classpath."""
    cp_file = os.path.join(BENCH, "target", "runtime-classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest_source_mtime():
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    os.makedirs(os.path.join(BENCH, "results"), exist_ok=True)
    log_path = os.path.join(BENCH, "results", "build.log")
    with open(log_path, "w") as log:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false", "exportClasspath"],
                         BUILD_LIMIT_S, cwd=BENCH, env=env, stdout=log,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die("build failed" if rc is not None else "build timed out")
    with open(cp_file) as f:
        return f.read().strip()


def main():
    # a terminated run still kills and reaps its build or harness process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(spec_path)):
        die(f"no graft source tree at {ROOT}: run from a checkout of the repository", 2)
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    cp = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    results = os.path.join(BENCH, "results")
    work = os.path.join(BENCH, "work", tag)
    os.makedirs(results, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out_path = os.path.join(results, tag + ".json")
    if os.path.exists(out_path):
        os.remove(out_path)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        # compile hot methods sooner, so that a run's timed part is past
        # the steepest part of the JIT warm-up
        "-XX:Tier3InvocationThreshold=100", "-XX:Tier4InvocationThreshold=1000",
        "-XX:Tier4CompileThreshold=1500",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
        "-Dspark.ui.enabled=false",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", os.path.join(work, "data"), "--out", out_path,
    ]
    sys.stdout.flush()
    with open(os.path.join(results, tag + ".stderr.log"), "w") as err:
        rc = run_bounded(cmd, RUN_LIMIT_S - (time.monotonic() - START), cwd=work,
                         stdout=sys.stdout, stderr=err, stdin=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out_path):
        with open(os.path.join(results, tag + ".stderr.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die("harness timed out" if rc is None else f"harness exited with {rc}")

    with open(out_path) as f:
        res = json.load(f)
    missing = [n for n in wanted if n not in res["metrics"]]
    if missing:
        die(f"metrics missing from the result: {', '.join(missing)}")
    metrics = {n: {"value": res["metrics"][n]["value"], "unit": res["metrics"][n]["unit"]}
               for n in wanted}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
