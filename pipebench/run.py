"""Run one workload of the pipeline benchmark at one seed.

    python3 pipebench/run.py --workload daily_single_doc --seed 1 --seconds 12 --trace 0

Builds the program and the driver from source on first use (see build.py),
runs the workload in one JVM on local[nproc], checks every output against the
seeded generator's expectations, prints a report, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with --trace 1
its per_layer metrics (the traced run also writes its spans under
.bench_build/pipebench/traces/). Exits 0 only when every check passed.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import build

HEAP = "2g"
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"[pipebench] {msg}", file=sys.stderr)
    sys.exit(code)


def load_spec():
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read {path}: {e}")


def parse_args(names):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    # self-check knobs: a smaller bronze, and a deliberately wrong expectation
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--inject-wrong-expectation", action="store_true")
    return ap.parse_args()


def run_jvm(cmd):
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[pipebench] run exceeded {JVM_TIMEOUT_S} s; stopping it", file=sys.stderr)
        stop()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def report(res, metrics, units):
    print(f"[pipebench] workload={res['workload']} seed={res['seed']} trace={int(res['trace'])} "
          f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    print("[pipebench] host " + json.dumps(res["host"], sort_keys=True))
    print("[pipebench] run " + json.dumps(res["run"], sort_keys=True))
    for f in res["failures"]:
        print(f"[pipebench] FAILED {f}")
    fr = res["failed"] / max(1, res["attempted"])
    print(f"[pipebench]   fail_ratio = {fr:.6g} failed/attempted")
    for name, v in metrics.items():
        print(f"[pipebench]   {name} = {v['value']:.6g} {units[name]}")


def tracing_overhead(args, res):
    """Untraced runs record their median pass time; a traced run reports its
    own against the median of those recorded for the same workload."""
    store = os.path.join(build.OUT, "untraced", f"{args.workload}.jsonl")
    own = res["run"]["pass_total_s_median"]
    if not args.trace:
        os.makedirs(os.path.dirname(store), exist_ok=True)
        with open(store, "a") as fh:
            fh.write(json.dumps({"seed": args.seed, "pass_total_s": own}) + "\n")
        return
    try:
        with open(store) as fh:
            base = statistics.median(json.loads(line)["pass_total_s"] for line in fh)
    except (OSError, ValueError, statistics.StatisticsError):
        print("[pipebench] tracing overhead: no untraced run of this workload recorded yet")
        return
    print(f"[pipebench] tracing overhead: traced pass {own:.3f} s vs untraced median "
          f"{base:.3f} s = {100 * (own / base - 1):+.1f}%")


def main():
    spec = load_spec()
    args = parse_args([w["name"] for w in spec["workloads"]])
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    try:
        cp = build.build()
    except build.BuildError as e:
        fail(f"build error: {e}")

    work = os.path.join(build.OUT, f"work-{os.getpid()}")
    spans = os.path.join(build.OUT, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    result = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.1", "-XX:ReservedCodeCacheSize=256m",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            "-cp", os.pathsep.join(cp), "pipebench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cpus", str(cpus), "--work", work,
            "--result", result, "--spans", spans, "--scale", str(args.scale),
            "--inject-wrong-expectation", "1" if args.inject_wrong_expectation else "0"])
    try:
        t0 = time.time()
        code = run_jvm(cmd)
        if code != 0 or not os.path.exists(result):
            fail(f"benchmark JVM exited {code} after {time.time() - t0:.1f} s without a result", 1)
        with open(result) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    metrics = {}
    for name in units:
        v = got.get(name)
        if v is None and res["correct"]:
            fail(f"metric {name} missing from the run's result", 1)
        metrics[name] = {"value": v if v is not None else 0.0, "unit": units[name]}
    report(res, metrics, units)
    if res["correct"]:
        tracing_overhead(args, res)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
