#!/usr/bin/env python3
"""CDC pipeline benchmark runner.

Builds the engine (src/main/scala) and the harness (perfbench/src) with the
Scala compiler shipped in the Spark distribution, then runs one workload in
one JVM and prints the harness's JSON result as the last line of stdout.

    python3 perfbench/run.py --workload changelog_batch --seed 7 --seconds 10 --trace 0

Run from the repository root. Build output, Derby databases, Spark scratch
space and traces go under .bench_build/ in the current directory.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.abspath(".bench_build")
TIMEOUT_S = 170  # the run must end within 180 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    build.sbt takes its unmanaged jars from."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME: no Spark jars directory found")
    return m.group(1)


def sources():
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala; run from the repository root")
    if not os.path.isdir("src/main/resources"):
        fail("src/main/resources is missing")
    return engine + harness


def build(jars):
    """Compile engine + harness into .bench_build/classes unless up to date."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(jars, "*.jar"))):
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out, "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        fail("compilation failed")
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def metric_names():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def run_harness(classes, jars, a, extra):
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    trace_out = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
            f"-Dderby.stream.error.file={run_dir}/derby.log", "-Dderby.system.durability=test",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.abspath("src/main/resources"),
                                      os.path.join(jars, "*")]),
              "perfbench.Harness", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--dir", run_dir,
              "--trace-out", trace_out] + extra)
    log_path = os.path.join(BUILD, "last-run.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"harness exceeded {TIMEOUT_S}s; log in {log_path}")
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness exited with {p.returncode} and no result")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0,
                    help="corrupt the expected state (self-test of the checks)")
    ap.add_argument("--fail-op", default=None,
                    help="make the named operation throw (self-test of failure counting)")
    ap.add_argument("--all-metrics", action="store_true",
                    help="print every metric the harness reports, unfiltered")
    a = ap.parse_args()
    e2e, layer = metric_names()
    jars = spark_jars()
    classes = build(jars)
    extra = ["--size", a.size, "--corrupt", str(a.corrupt)]
    if a.fail_op:
        extra += ["--fail-op", a.fail_op]
    if a.workload == "query_suite":
        extra += ["--data", os.path.join(HERE, "data", "sf0.001"),
                  "--expected", os.path.join(HERE, "query_suite_expected.txt")]
    res = run_harness(classes, jars, a, extra)
    got = res["metrics"]
    if a.all_metrics:
        metrics = got
    elif a.trace:
        # a layer this workload does not run did no work: 0
        metrics = {n: {"value": got[n]["value"] if n in got else 0, "unit": u}
                   for n, u in layer.items()}
    else:
        missing = [n for n in e2e if n not in got or got[n]["value"] is None]
        if missing and res["failed"] == 0:
            fail(f"harness did not report {missing}")
        metrics = {n: {"value": got[n]["value"], "unit": u} for n, u in e2e.items() if n in got}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
