#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload tick_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. The script compiles the program and the
benchmark (perfbench/build.sh) into .bench_build/ (or $CARGO_TARGET_DIR),
makes the workload's inputs from the seed, runs the workload in one JVM
(perfbench/scala/PerfBench.scala), checks query_mix results against the
DuckDB oracle, and prints {"correct", "attempted", "failed", "metrics"} as
the last line of stdout. With --trace 0 the metrics are the end_to_end
metrics of BENCHMARK.json, with --trace 1 the per_layer ones.

--corrupt-oracle NAME perturbs the expected oracle digest of one query_mix
query, to show that a wrong answer fails the run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("tick_replay", "tick_stream", "query_mix")
# Prefixes of the per-layer metrics each workload measures; the others are
# reported as 0 (that workload does none of that layer's work).
FAMILY = {"tick_replay": ("replay.", "tick_replay."),
          "tick_stream": ("stream.", "tick_stream."),
          "query_mix": ("mix.", "query_mix.")}
MIX_SCALE = 0.02   # 12k lineitem rows, 200 documents and embeddings
JVM_TIMEOUT_S = 150

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def cores():
    return max(1, len(os.sched_getaffinity(0)))


def build(classes):
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        log(f"perfbench: build failed (exit {r.returncode})")
        sys.exit(2)


def java_cmd(classes, main, args, work):
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-DontCompileHugeMethods",
             "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
             f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp"] + opens +
            ["-cp", f"{classes}:{jars}", main] + args)


def run_jvm(cmd, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        log(f"perfbench: JVM exited with {code}")
        sys.exit(3)


def check_mix(res, data, work, corrupt):
    """Compare each query's reference output with the DuckDB oracle. A
    mismatch fails every timed execution of that query."""
    import mixdata
    sql = json.load(open(os.path.join(work, "oracle_sql.json")))
    want = mixdata.oracle_digests(data, sql)
    if corrupt:
        want[corrupt] = "corrupted:" + want[corrupt]
    execs = max(1, res["attempted"] // max(1, len(sql)))
    for q, path in res["mix_outputs"].items():
        got = mixdata.result_digest(data, path)
        if got != want[q]:
            res["failed"] += execs
            res["errors"].append(f"{q}: result digest {got} != oracle digest {want[q]}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-oracle", default=None)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    out = build_dir()
    classes = os.path.join(out, "classes")
    build(classes)

    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cores", str(cores())]
    data = None
    if a.workload == "query_mix":
        import mixdata
        data = os.path.join(out, "data", f"mix-{a.seed}-{MIX_SCALE}")
        mixdata.write_tables(a.seed, MIX_SCALE, data)
        args += ["--data", data]
    run_jvm(java_cmd(classes, "perfbench.PerfBench", args, work), work)

    res = json.load(open(os.path.join(work, "result.json")))
    if a.workload == "query_mix":
        check_mix(res, data, work, a.corrupt_oracle)
    for e in res["errors"]:
        log(f"perfbench: WRONG OUTPUT: {e}")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        mine = not a.trace or name.startswith(FAMILY[a.workload])
        if name in res["metrics"] and res["metrics"][name] is not None:
            metrics[name] = {"value": res["metrics"][name], "unit": m["unit"]}
        elif not mine:
            metrics[name] = {"value": 0.0, "unit": m["unit"]}
        else:
            log(f"perfbench: workload {a.workload} did not measure {name}")
            sys.exit(4)
    if a.trace:
        log(f"perfbench: spans in {os.path.join(work, 'spans.json')}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
