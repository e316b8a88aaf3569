#!/usr/bin/env python3
"""graft benchmark: hostgroups, dedup and stream workloads.

Run from the root of a graft checkout:

    python3 perfbench/run.py                       # BENCHMARK.json's workloads, untraced
    python3 perfbench/run.py --trace 1             # the same, traced
    python3 perfbench/run.py --workload hostgroups --seed 7 --seconds 25 --trace 0
    python3 perfbench/run.py --self-test           # the benchmark's own tests

The first run compiles graft and the benchmark (see build.py). Each run
starts one JVM with a local Spark session, generates the workload's inputs
from the seed, warms up, runs ops closed-loop for --seconds, and checks
every op's result. It prints one `name value unit` line per metric and
one JSON object per workload: {"correct", "attempted", "failed", "metrics"},
with a "workload" key added when more than one workload runs. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones, from a run with Spark listeners attached. --seconds defaults
to BENCHMARK.json's run_seconds.
The full result, including spans of traced runs, is also written under
.bench_build/perfbench/results/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["hostgroups", "dedup", "stream"]
RUN_TIMEOUT_S = 170
HEAP = "1g"
RESULTS = os.path.join(build.OUT, "results")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java(cp, main, args, work, log_path):
    """Run one JVM; its stderr goes to `log_path`. Returns the exit code."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + opens + ["-cp", cp, main] + args)
    # graft's own tuning variables would change what is measured, and
    # SPARK_LOCAL_DIRS would move Spark's scratch space out of the checkout
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT, env=env)
        try:
            return proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return -9


def tail_of(path, n=40):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def run_one(cp, workload, seed, seconds, trace):
    work = os.path.join(build.OUT, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(RESULTS, f"{workload}-seed{seed}-trace{trace}.json")
    if os.path.exists(out):
        os.remove(out)
    log_path = os.path.join(RESULTS, f"{workload}-seed{seed}-trace{trace}.log")
    code = java(cp, "perfbench.Main",
                ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(trace), "--cores", str(cores()), "--work", work,
                 "--data", os.path.join(build.BENCH_DIR, "data"), "--out", out],
                work, log_path)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        log(f"{workload} run failed (exit {code}); log {os.path.relpath(log_path, build.ROOT)}:")
        sys.stderr.write(tail_of(log_path))
        return None
    with open(out) as fh:
        return json.load(fh)


def report(workload, res, trace):
    """Print the human-readable lines of one run and return its metrics."""
    info = res["info"]
    sizes = " ".join(f"{k[6:]}={v}" for k, v in info.items() if k.startswith("input."))
    print(f"[perfbench] {workload} seed={info['seed']} cores={info['cores']} ops={info['ops']} "
          f"measured_s={info['measured_s']:.2f} inputs: {sizes}")
    for k, m in res["end_to_end"].items():
        extra = ""
        if k == "op_tail_s":
            extra = f" (p{info['op_tail_percentile']:.1f} of {info['op_tail_samples']} ops)"
        print(f"{workload} {k} {m['value']:.6g} {m['unit']}{extra}")
    if trace:
        for k, m in res["per_layer"].items():
            print(f"{workload} {k} {m['value']:.6g} {m['unit']}")
        for s in res["span_summary"]:
            print(f"{workload} span {s['name']} total_ms={s['total_ms']:.3f} "
                  f"self_ms={s['self_ms']:.3f} n={s['count']}")
        plain = os.path.join(RESULTS, f"{workload}-seed{info['seed']}-trace0.json")
        if os.path.exists(plain):
            with open(plain) as fh:
                base = json.load(fh)["end_to_end"]["op_p50_s"]["value"]
            traced = res["end_to_end"]["op_p50_s"]["value"]
            print(f"{workload} tracing_overhead_op_p50 {traced / base - 1:+.4f} ratio")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ["all"], default="all",
                    help="one workload, or all those BENCHMARK.json lists")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--pin", action="store_true",
                    help="print the dedup digests of the unpermuted corpus")
    a = ap.parse_args()

    try:
        bench = spec()
        e2e_names = [m["name"] for m in bench["end_to_end"]]
        layer_names = [m["name"] for m in bench["per_layer"]]
        cp = build.build()
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        log(f"cannot run: {e}")
        return 2

    if a.self_test or a.pin:
        work = os.path.join(build.OUT, "work", f"tool-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        main_class = "perfbench.SelfTest" if a.self_test else "perfbench.Pin"
        log_path = os.path.join(build.OUT, f"{main_class}.log")
        code = java(cp, main_class, [work, os.path.join(build.BENCH_DIR, "data")], work, log_path)
        shutil.rmtree(work, ignore_errors=True)
        with open(log_path, errors="replace") as fh:
            sys.stdout.write("".join(l for l in fh if l.startswith(("[pass]", "[FAIL]", "[self-test]", "[pin]"))))
        return code

    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    workloads = [w["name"] for w in bench["workloads"]] if a.workload == "all" else [a.workload]
    src, names = ("per_layer", layer_names) if a.trace else ("end_to_end", e2e_names)
    for w in workloads:
        res = run_one(cp, w, a.seed, seconds, a.trace)
        if res is None:
            return 1
        report(w, res, a.trace)
        line = {"workload": w} if len(workloads) > 1 else {}
        line.update({"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
                     "metrics": {k: res[src][k] for k in names}})
        sys.stdout.flush()
        print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
