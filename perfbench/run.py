"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest|query|analytics --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. Builds the program and the
benchmark from source (perfbench/build.py), runs the workload in one JVM
on local[N] with N = nproc, checks the outputs, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones, taken from spans written to
.bench_build/graftbench/traces/. Exits non-zero on any wrong output.
Sizes and policies are in perfbench/workloads.json.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources
import build  # noqa: E402
import gen_events  # noqa: E402

RUN_LIMIT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check that tracing changes no response and no Spark job count")
    a = ap.parse_args()
    if a.self_test:
        a.workload = "selftest"
    elif a.workload is None or a.seconds <= 0:
        ap.error("--workload and --seconds are required")

    with open(os.path.join(HERE, "workloads.json")) as f:
        conf = json.load(f)
    with open("BENCHMARK.json") as f:
        declared = json.load(f)
    if a.workload not in conf["workloads"] and not a.self_test:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir("src/main/scala"):
        fail("no src/main/scala here; run from the root of a graft checkout")

    classes = build.build()
    t0_us = time.time_ns() // 1000  # set-up time starts after the build
    cores = os.cpu_count() or 1
    work = os.path.abspath(os.path.join(build.OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "events"):
        os.makedirs(os.path.join(work, d))
    traces = os.path.join(build.OUT, "traces")
    results = os.path.join(build.OUT, "results")
    os.makedirs(traces, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    try:
        if a.workload == "analytics":
            gen_events.write_events(os.path.join(work, "events", "events.parquet"), a.seed,
                                    conf["workloads"]["analytics"])
        res = run_jvm(a, conf, classes, cores, work, t0_us, traces)
        if a.self_test:
            for e in res["errors"]:
                sys.stderr.write(f"perfbench: self-test: {e}\n")
            print("self-test " + ("FAILED" if res["error_count"] else "passed"))
            sys.exit(1 if res["error_count"] else 0)
        errors = list(res["errors"])
        error_count = res["error_count"]
        if a.workload == "analytics":
            bad = check_analytics(work)
            errors += bad
            error_count += len(bad)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = error_count == 0
    for e in errors[:20]:
        sys.stderr.write(f"perfbench: WRONG: {e}\n")
    sys.stderr.write("perfbench: " + json.dumps(res["info"], sort_keys=True) + "\n")
    if a.trace:
        wanted, values = declared["per_layer"], res["layers"]
    else:
        wanted, values = declared["end_to_end"], res["e2e"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    saved = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(saved, "w") as f:
        json.dump(res, f)
    if a.trace:
        report_overhead(results, a, res)
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if correct else 1)


def run_jvm(a, conf, classes, cores, work, t0_us, traces):
    result = os.path.join(work, "result.json")
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    heap = conf["jvm"]["heap"]
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/tmp", "-Dspark.ui.enabled=false"] + opens +
           ["-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", work,
            "--config", os.path.join(HERE, "workloads.json"), "--t0-us", str(t0_us),
            "--result", result,
            "--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")])
    log_path = os.path.join(build.OUT, f"jvm-{a.workload}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=max(10, RUN_LIMIT_S - (time.time_ns() // 1000 - t0_us) / 1e6))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_LIMIT_S}s; JVM log in {log_path}")
    if code != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"JVM exited with code {code}; log in {log_path}")
    with open(result) as f:
        return json.load(f)


def check_analytics(work):
    """The last pass's results against the DuckDB oracle, compared by the
    repository's own checker (tools/check.py)."""
    r = subprocess.run([sys.executable, "tools/check.py", os.path.join(work, "events"),
                        os.path.join(work, "analytics-out")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=120)
    bad = [ln for ln in r.stdout.splitlines() if ln.startswith("FAIL")]
    if r.returncode != 0 and not bad:
        bad = [f"tools/check.py exited {r.returncode}: {r.stdout[-500:]}"]
    return bad


def report_overhead(results, a, traced):
    """Tracing overhead: traced minus untraced end-to-end values, when an
    untraced run of the same workload and seed was made in this checkout."""
    plain = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
    if not os.path.exists(plain):
        return
    with open(plain) as f:
        base = json.load(f)["e2e"]
    diff = {k: round(traced["e2e"][k] - v, 4) for k, v in base.items() if k in traced["e2e"]}
    sys.stderr.write("perfbench: tracing overhead (traced - untraced): "
                     + json.dumps(diff, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
