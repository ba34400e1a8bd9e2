"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the harness once per checkout (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), starts
one JVM on the compiled classpath with the options build.sbt gives `run`,
and checks the outputs with DuckDB (perfbench/checks.py). The last line
of stdout is one JSON object: correct, attempted, failed and metrics
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
The line before it gives the host's CPU steal share and load average
during the run, as context only.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("medallion_dag", "curation_corpus")
JVM_TIMEOUT_S = 165

# build.sbt: jdk17AddOpens ++ javaOptions of `run`
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_options(work):
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{heap}",
        # not in build.sbt: a fixed heap keeps peak RSS from following
        # the collector's heap resizing, which differs from run to run
        f"-Xms{heap}",
        f"-XX:+Use{os.environ.get('SPARK_GRAFT_GC', 'Parallel')}GC",
        f"-Djava.io.tmpdir={work}/tmp",
    ]


def cpu_ticks():
    """(steal, total) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v[:8])


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def end_to_end(first, peak_rss_mb, setup_s):
    """Metrics of the first timed pass, which is the JVM's second pass in
    every run however long a pass takes."""
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (first["wall_s"], "s"),
        "cpu_s": (first["cpu_s"], "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "bytes_written_per_input_byte": (first["bytes"] / first["input_bytes"], "B/B"),
        # curation_corpus takes its whole input as one batch per pass, so
        # its batch time is the pass time
        "batch_p50_s": (first["batch_s"] if first["batch_s"] is not None else first["wall_s"], "s"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.ensure_built()
    root = build.ROOT
    work = os.path.join(root, "perfbench", ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs = os.path.join(work, "inputs")

    steal0, total0 = cpu_ticks()
    t0 = time.time()
    gen.generate(a.workload, a.seed, inputs)
    out = os.path.join(work, "result.json")
    cmd = ["java"] + jvm_options(work) + [
        "-cp", classes + os.pathsep + build.spark_classpath(), "graftbench.Main",
        "--workload", a.workload, "--inputs", inputs, "--work", work,
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--specs", checks.SPECS_FILE,
        "--out", out, "--spans", os.path.join(work, "spans.jsonl")]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        # Spark's scratch space stays in the checkout: SPARK_LOCAL_DIRS
        # would override spark.local.dir
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S}s (log: {log.name})")
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: JVM exited with {rc} (log: {work}/jvm.log)")
    with open(out) as f:
        res = json.load(f)
    steal1, total1 = cpu_ticks()
    setup_s = res["setup_end_ms"] / 1000.0 - t0
    first = res["passes"][0]
    if not first["ok"]:
        raise SystemExit(f"perfbench: the timed pass failed, no metric to report (log: {work}/jvm.log)")

    failures = checks.run(a.workload, inputs, res["check"])
    for msg in failures:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)

    if a.trace:
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in end_to_end(first, res["peak_rss_mb"], setup_s).items()}
    context = {
        "host_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "load1": load1(),
        "timed_passes": len(res["passes"]),
        "warmup_passes": len(res["warmup"]),
        "warmup_s": [round(p["wall_s"], 3) for p in res["warmup"]],
    }
    with open(os.path.join(work, "context.json"), "w") as f:
        json.dump(context, f)
    print("context: " + json.dumps(context))
    print(json.dumps({"correct": not failures, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
