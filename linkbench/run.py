#!/usr/bin/env python3
"""Linking benchmark entry point.

Run from the root of the engine's source tree:

    python3 linkbench/run.py --workload link_clusters --seed 1 --seconds 10 --trace 0

It builds the engine and the benchmark from source (sbt, again whenever a
source file is newer than the build), then the offline artifacts (again
whenever the build is newer than they are). It runs the workload in one JVM
and prints the per-run raw record, then one JSON result line as the last
line of standard output. Everything it writes goes under .bench_build/ in
the tree.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "linkbench")
CLASSPATH = os.path.join(WORK, "classpath.txt")
# written after a successful artifact build
ARTIFACTS_STAMP = os.path.join(WORK, "artifacts.built")
MAIN = "graft.linkbench.LinkBench"
BUILD_TIMEOUT_S = 700
PREPARE_TIMEOUT_S = 150
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"linkbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: the engine's main sources and ours."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    return files


def run(cmd, timeout, log, cwd=ROOT, env=None):
    """Run cmd in its own process group, stdout captured, stderr to `log`;
    the whole group is killed on timeout. Returns (code, stdout)."""
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            fail(f"{cmd[0]} timed out after {timeout} s (log: {log})")
    return p.returncode, out.decode("utf-8", "replace")


def build(log):
    newest = max(os.path.getmtime(f) for f in sources())
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        # the build takes the Spark jars from the distribution on PATH
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    code, out = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, log, cwd=HERE, env=env)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        fail(f"build failed (log: {log})")
    with open(CLASSPATH + ".tmp", "w") as f:
        f.write(lines[-1].strip())
    os.replace(CLASSPATH + ".tmp", CLASSPATH)


def java(args, timeout, log):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap and young generation: peak RSS then follows live data, not
    # the collector's adaptive sizing
    cmd = ["java", "-Xms4g", "-Xmx4g", "-Xmn1g", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, MAIN, "--work", WORK] + args
    return run(cmd, timeout, log)


def measure(spec, workload, seed, seconds, trace):
    """One run of one workload; returns the result object."""
    stamp = time.strftime("%Y%m%d-%H%M%S")
    log = os.path.join(WORK, "logs", f"{workload}-s{seed}-t{trace}-{stamp}.log")
    build(log)
    # the artifacts come from the engine's code: rebuild them whenever the
    # build is newer than they are, so a run never loads artifacts that
    # other engine code made
    if not os.path.exists(ARTIFACTS_STAMP) or \
            os.path.getmtime(ARTIFACTS_STAMP) < os.path.getmtime(CLASSPATH):
        code, _ = java(["--prepare"], PREPARE_TIMEOUT_S, log)
        if code != 0:
            fail(f"artifact build failed (log: {log})")
        with open(ARTIFACTS_STAMP, "w") as f:
            f.write(time.strftime("%Y-%m-%dT%H:%M:%S\n"))

    code, out = java(["--workload", workload, "--seed", str(seed),
                      "--seconds", str(seconds), "--trace", str(trace)],
                     RUN_TIMEOUT_S, log)
    raw = next((l[4:] for l in out.splitlines() if l.startswith("RAW ")), None)
    res = next((l[7:] for l in out.splitlines() if l.startswith("RESULT ")), None)
    if code != 0 or res is None:
        fail(f"run failed with exit code {code} (log: {log})")
    res = json.loads(res)

    wanted = spec["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"run did not report {', '.join(missing)}")
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
               for m in wanted}

    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, "trace": trace,
                            "result": res, "raw": json.loads(raw) if raw else None}) + "\n")
    if raw:
        print("RAW " + raw)
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    help="a workload name, or 'all' for every workload in BENCHMARK.json")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail(f"{spec_path} not found")
    with open(spec_path) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)

    if a.workload != "all":
        print(json.dumps(measure(spec, a.workload, a.seed, a.seconds, a.trace)))
        return
    # one line per workload, named, with its failure ratio
    for w in (w["name"] for w in spec["workloads"]):
        r = measure(spec, w, a.seed, a.seconds, a.trace)
        print(json.dumps({"workload": w, "fail_ratio": r["failed"] / r["attempted"], **r}))


if __name__ == "__main__":
    main()
