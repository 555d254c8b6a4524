#!/usr/bin/env python3
"""Layered benchmark of the engine: three closed-loop workloads.

    python3 perfbench/run.py --workload catalog|ocean|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the program from
source into `.bench_build/`. Each run generates its inputs from the seed,
starts one JVM that sets the workload up several times and then drives
one client with no think time for S seconds, checks the outputs, and
prints every metric by name and unit. The last line of standard output
is one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer ones
with --trace 1). See perfbench/README.md.
"""
import argparse
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 170
JVM_HEAP = "-Xmx3g"
# No hsperfdata file outside the checkout.
JVM_FLAGS = ["-XX:-UsePerfData"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    return 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.path.join(root, ".bench_build")
    try:
        classpath = build.build(root, build_dir)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(build_dir, "runs", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(build_dir, "results", tag)
    for d in (run_dir, out_dir):
        shutil.rmtree(d, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(out_dir)
    inputs = os.path.join(run_dir, "inputs.json")
    gen.generate(args.workload, args.seed, inputs)

    cpus = str(len(os.sched_getaffinity(0)))
    result = os.path.join(out_dir, "result.json")
    log = os.path.join(out_dir, "jvm.log")
    cmd = (["java", *ADD_OPENS, JVM_HEAP, *JVM_FLAGS,
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/local",
            f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.PerfBench",
            args.workload, inputs, os.path.join(HERE, "data", "sf0.01"), run_dir,
            str(args.seconds), str(args.trace), cpus, result])
    # engine measurement knobs in the caller's environment must not leak in
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    t0 = time.time()
    steal0 = host_steal_ticks()
    try:
        with open(log, "w") as lf:
            proc = subprocess.run(cmd, cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return fail(f"run exceeded {JVM_TIMEOUT_S} s (log: {log})")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-3000:])
        return fail(f"JVM exited with {proc.returncode} (log: {log})")
    with open(result) as f:
        res = json.load(f)

    wall = time.time() - t0
    steal = (host_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / (wall * os.cpu_count())
    report(args, cpus, res, wall, steal)
    if args.trace:
        source, kind = res["per_layer"], "per_layer"
    else:
        source, kind = res["e2e"], "end_to_end"
    metrics = {}
    for m in spec[kind]:
        v = source.get(m["name"])
        if not isinstance(v, (int, float)) or math.isnan(v):
            return fail(f"metric {m['name']} was not measured: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


def num(v):
    return f"{v:.6g}" if isinstance(v, (int, float)) else str(v)


def host_steal_ticks():
    """CPU time the host's hypervisor took from this machine, in clock
    ticks (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def report(args, cpus, res, wall, steal):
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={cpus} jvm_wall_s={wall:.1f} host_steal={steal:.1%}")
    s = res["setup"]
    print(f"  set-up: median of {s['runs']} = {res['e2e']['setup_s']:.4f} s; each "
          + ", ".join(f"{v:.3f}" for v in s["setup_s"])
          + f" (after the JVM's first session build, {s['cold_start_s']:.3f} s, and the warm-up)")
    print("  end-to-end:")
    for k, v in res["e2e"].items():
        print(f"    {k:<22} {num(v)}")
    print("  workload metrics (completed operations only):")
    for m in res["named"]:
        few = " (a median of fewer than 20: under 10 samples beyond it)" \
            if re.search(r"_p50_", m["name"]) and m["n"] < 20 else ""
        print(f"    {m['name']:<22} {num(m['value'])} {m['unit']:<6} n={m['n']}{few}")
    frac = res["failed"] / res["attempted"] if res["attempted"] else 0.0
    print(f"  operations: attempted={res['attempted']} failed={res['failed']} failed_frac={frac:.4f}")
    for f in res["failures"]:
        print(f"    failed {f['op']}: {f['count']} x {f['exception']}: {f['message']}")
    bad = [c for c in res["checks"] if not c["ok"]]
    print(f"  output checks: {len(res['checks']) - len(bad)} passed, {len(bad)} failed"
          + (f"; unchecked: {', '.join(res['unchecked'])}" if res["unchecked"] else ""))
    for c in bad:
        print(f"    FAILED {c['name']}: {c['detail']}")
    if args.trace:
        t = res["trace"]
        print(f"  trace: {t['ops']} operations; layer self time per operation (s):")
        for k, v in sorted(t["self_s_per_op"].items(), key=lambda kv: -kv[1]):
            print(f"    {k:<22} {v:.6f}")
        print(f"    layers cover a median {t['coverage_median']:.1%} of an operation's wall time "
              f"(min {t['coverage_min']:.1%}; {t['ops_covered_90pct']:.1%} of operations >= 90%); "
              f"{t['jobs_outside_operations']} jobs ran outside operations (set-up, checks)")
        print(f"    tracing overhead: op_s {t['traced_op_s']:.4f} traced vs "
              f"{t['untraced_op_s']:.4f} untraced ({t['overhead_op']:+.1%}); "
              f"work_per_s {t['traced_work_per_s']:.4g} vs {t['untraced_work_per_s']:.4g}")
        print("  per-layer:")
        for k, v in res["per_layer"].items():
            print(f"    {k:<30} {num(v)}")


if __name__ == "__main__":
    sys.exit(main())
