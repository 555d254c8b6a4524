"""Build file of the benchmark.

Compiles the program (`src/main/scala`, plus its resources) and then the
benchmark's JVM side (`perfbench/src`) with the Scala compiler that
ships in the Spark jars the program already builds against. Each step
is skipped when a hash of its inputs matches the last build.

    python3 perfbench/build.py        # from the repository root
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def _files(d, suffix=""):
    out = []
    for root, _, names in os.walk(d):
        out += [os.path.join(root, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def _digest(paths, extra):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars(root):
    """The Spark jars the program builds against: `$SPARK_HOME/jars`, else
    the `unmanagedBase` that the program's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise BuildError("build.sbt names no unmanagedBase and SPARK_HOME is not set")
    return m.group(1)


def _compile(name, sources, classpath, out, stamp, log, jars):
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    print(f"perfbench: compiling {name} ({len(sources)} files)", file=sys.stderr)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", classpath] + sources
    with open(log, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise BuildError(f"compiling {name} failed (log: {log})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build(root, build_dir):
    """Build what is stale; return the run-time classpath."""
    prog_src = os.path.join(root, "src", "main", "scala")
    prog_res = os.path.join(root, "src", "main", "resources")
    bench_src = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(prog_src) or not os.path.isfile(os.path.join(root, "build.sbt")):
        raise BuildError(f"no program sources under {root}")
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars at {jars}")
    os.makedirs(build_dir, exist_ok=True)
    spark_cp = os.path.join(jars, "*")
    prog_out = os.path.join(build_dir, "program", "classes")
    bench_out = os.path.join(build_dir, "perfbench", "classes")
    os.makedirs(os.path.dirname(prog_out), exist_ok=True)
    os.makedirs(os.path.dirname(bench_out), exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        prog_files = _files(prog_src, ".scala")
        res_files = _files(prog_res) if os.path.isdir(prog_res) else []
        prog_stamp = _digest(prog_files + res_files, jars)
        _compile("program", prog_files, spark_cp, prog_out, prog_stamp,
                 os.path.join(build_dir, "program", "build.log"), jars)
        for f in res_files:
            dst = os.path.join(prog_out, os.path.relpath(f, prog_res))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
        bench_files = _files(bench_src, ".scala")
        _compile("benchmark", bench_files, prog_out + os.pathsep + spark_cp, bench_out,
                 _digest(bench_files, prog_stamp), os.path.join(build_dir, "perfbench", "build.log"), jars)
    return os.pathsep.join([bench_out, prog_out, spark_cp])


if __name__ == "__main__":
    try:
        print(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build")))
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
