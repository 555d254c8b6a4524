#!/usr/bin/env python3
"""Derive perfbench/catalog_expected.json, the catalog workload's output
expectations. Run from the repository root after a change that is meant
to alter query results or the fixture:

    python3 perfbench/derive_expected.py

Steps:
1. graft.Verify dumps every query's result over perfbench/data/sf0.01 and
   tools/compare.py checks each against its DuckDB oracle, value for value.
2. The benchmark's `expect` mode records each query's row count, its
   order-insensitive hash (the same function the catalog check uses) and
   its first-execution time, once at 2 and once at 4 cores.
A query is written as checked only when its oracle compare passed and its
hash is the same at both core counts; otherwise it is listed in
`unchecked` with the reason. The first-execution times (4 cores) order
the cost strata of the seeded query order.
"""
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402


def java(classpath, work, main, *args, cpus="4"):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = cpus
    with open(os.path.join(work, "jvm.log"), "w") as log:
        subprocess.run(["java", *run.ADD_OPENS, run.JVM_HEAP, *run.JVM_FLAGS, f"-Djava.io.tmpdir={work}/tmp",
                        f"-Dspark.local.dir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/wh",
                        "-cp", classpath, main, *args], cwd=work, env=env, stdout=log,
                       stderr=subprocess.STDOUT, check=True)


def main():
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    classpath = build.build(root, build_dir)
    data = os.path.join(HERE, "data", "sf0.01")
    work = os.path.join(build_dir, "derive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    dump = os.path.join(work, "verify")
    java(classpath, work, "graft.Verify", data, dump)
    cmp = subprocess.run([sys.executable, os.path.join(root, "tools", "compare.py"), data, dump],
                         capture_output=True, text=True)
    passed = set(re.findall(r"^PASS (\S+)", cmp.stdout, re.M))

    runs = {}
    for cpus in ("2", "4"):
        w = os.path.join(work, f"expect{cpus}")
        os.makedirs(w)
        out = os.path.join(w, "expect.json")
        java(classpath, w, "perfbench.PerfBench", "expect", "-", data, w, "0", "0", cpus, out,
             cpus=cpus)
        with open(out) as f:
            runs[cpus] = json.load(f)

    queries, unchecked = {}, {}
    for name, r in sorted(runs["4"].items()):
        queries[name] = {"rows": r["rows"], "hash": r["hash"], "cold_s": round(r["cold_s"], 3)}
        if name not in passed:
            unchecked[name] = "DuckDB oracle compare did not pass"
        elif runs["2"][name]["hash"] != r["hash"]:
            unchecked[name] = "result differs between 2 and 4 cores"
    with open(os.path.join(HERE, "catalog_expected.json"), "w") as f:
        json.dump({"queries": queries, "unchecked": unchecked}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(passed)} oracle passes; {len(unchecked)} unchecked: {sorted(unchecked)}")


if __name__ == "__main__":
    main()
