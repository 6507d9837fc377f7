#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds graft and the
benchmark from source (perfbench/build.py); later calls reuse the
build. The workload runs in one JVM under local[<nproc/2>], with every
file it writes kept under the build directory, and checks its own
outputs. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end_to_end metrics of BENCHMARK.json, measured with
tracing off; with --trace 1 they are its per_layer metrics, and the
lines before it report self time per layer, the Spark work each span
submitted and the tracing overhead. A per-layer metric that the
workload does not exercise reads 0. The exit code is 0 only when
every check passed.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing into the benchmark's own directory
import build  # noqa: E402

JVM_TIMEOUT_S = 165
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def jvm_cores():
    """Half the CPUs this process may run on: the Spark session, the GC
    and the JIT size themselves to it, which leaves the other half for
    the main and generator threads and for the host's other tenants.
    With all four CPUs of a 4-CPU host, one competing busy thread
    slowed a medallion trigger by 44%; with two, by 2% (one run each).
    """
    return max(1, len(os.sched_getaffinity(0)) // 2)


def run_jvm(classes, args, work):
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-XX:ActiveProcessorCount={jvm_cores()}",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dperfbench.root={ROOT}"]
    if args.write_expected:
        cmd += [f"-Dperfbench.writeExpected={os.path.join(HERE, 'expected', 'corpus_curation.tsv')}",
                f"-Dperfbench.oracleDump={os.path.join(build.build_dir(), 'oracle')}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    os.makedirs(f"{work}/tmp")
    log_path = os.path.join(build.build_dir(), "logs", f"{args.workload}-seed{args.seed}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    result = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                if line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
                else:
                    sys.stdout.write(line)
            proc.wait()
        finally:
            watchdog.cancel()
    if proc.returncode < 0:
        fail(f"workload killed after {JVM_TIMEOUT_S} s; log: {log_path}", 3)
    if result is None:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"the JVM exited with code {proc.returncode} and no result; log: {log_path}", 3)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-expected", action="store_true",
                    help="corpus_curation: rewrite perfbench/expected/corpus_curation.tsv "
                         "from this run's fingerprints (check them with perfbench/oracle_check.py)")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout")

    load_start, ticks_start = loadavg(), cpu_ticks()
    classes = build.classes_dir()
    work = os.path.join(build.build_dir(), "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        raw = run_jvm(classes, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    emitted = raw["metrics"]
    unknown = sorted(set(emitted) - set(e2e) - set(layers))
    if unknown:
        fail(f"workload emitted metrics BENCHMARK.json does not list: {unknown}", 3)
    metrics = {}
    if args.trace == 0:
        for name, unit in e2e.items():
            v = emitted.get(name)
            if v is None or not math.isfinite(v) or v <= 0:
                fail(f"end-to-end metric {name} is missing or not positive: {v}", 3)
            metrics[name] = {"value": v, "unit": unit}
    else:
        for name, unit in layers.items():
            v = emitted.get(name)
            metrics[name] = {"value": v if v is not None and math.isfinite(v) else 0, "unit": unit}
    host = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": len(os.sched_getaffinity(0)), "jvm_cores": jvm_cores(),
            "loadavg_start": load_start, "loadavg_end": loadavg()}
    ticks_end = cpu_ticks()
    host["steal_pct"] = round(100.0 * (ticks_end[0] - ticks_start[0]) /
                              max(1, ticks_end[1] - ticks_start[1]), 2)
    print("host " + json.dumps(host))
    print(json.dumps({"correct": bool(raw["correct"]), "attempted": int(raw["attempted"]),
                      "failed": int(raw["failed"]), "metrics": metrics}))
    sys.exit(0 if raw["correct"] else 1)


if __name__ == "__main__":
    main()
