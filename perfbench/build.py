"""Build file of the benchmark: compiles the repo's Scala sources and the
benchmark's own sources with the Scala compiler that ships in the Spark
distribution (`$SPARK_HOME/jars`), without sbt.

Outputs go under the build directory (`$CARGO_TARGET_DIR`, default
`.bench_build`): `main/` holds the program's classes, `bench/` the
benchmark's. Each step is skipped when a hash of its inputs matches the
stamp left by the last successful compile.

Usage: python3 perfbench/build.py     (prints the runtime classpath)
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                           os.path.join(ROOT, ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("SPARK_HOME must point at a Spark distribution")
    return os.path.join(home, "jars")


def sources(root):
    out = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not out:
        raise SystemExit(f"no Scala sources under {root}")
    return out


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_step(name, srcs, classpath, extra_stamp=""):
    out = os.path.join(build_dir(), name)
    stamp = os.path.join(build_dir(), f"{name}.stamp")
    want = digest(srcs, extra_stamp)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out, want
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar"))
                for p in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit("the Spark distribution ships no Scala 2.13 compiler")
    os.makedirs(out, exist_ok=True)
    for old in glob.glob(os.path.join(out, "**", "*.class"), recursive=True):
        os.remove(old)
    args_file = os.path.join(build_dir(), f"{name}.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", out,
           "-cp", ":".join(classpath + [os.path.join(jars, "*")]),
           "@" + args_file]
    print(f"[build] compiling {len(srcs)} files into {out}", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(want)
    return out, want


def oracle_sql_path():
    return os.path.join(build_dir(), "oracle_sql.json")


def build():
    """Compile what changed and write the oracle SQL; return the runtime
    classpath."""
    os.makedirs(build_dir(), exist_ok=True)
    main, main_hash = compile_step("main", sources(MAIN_SRC), [])
    bench, bench_hash = compile_step("bench", sources(BENCH_SRC), [main], main_hash)
    classpath = [bench, main, MAIN_RESOURCES, os.path.join(spark_jars(), "*")]
    stamp = oracle_sql_path() + ".stamp"
    if not (os.path.exists(stamp) and open(stamp).read() == bench_hash):
        subprocess.run(["java", "-cp", ":".join(classpath), "perfbench.OracleSql",
                        oracle_sql_path()], check=True, stdout=sys.stderr)
        with open(stamp, "w") as f:
            f.write(bench_hash)
    return classpath


if __name__ == "__main__":
    print(":".join(build()))
