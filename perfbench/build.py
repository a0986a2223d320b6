"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark runner (`perfbench/src`) into one class directory with the
Scala compiler that ships with Spark, then dumps the engine's DuckDB oracle
SQL. Skips the compile when the sources are unchanged.

    python3 perfbench/build.py [BUILD_DIR]     # default .bench_build

Run from the repository root. Spark is found at $SPARK_HOME, else from
`spark-submit` on the PATH.
"""
import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    """`<spark>/jars/*` of the first Spark that ships a Scala compiler:
    $SPARK_HOME, then each `spark-submit` on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars", "*")
    raise SystemExit("no Spark with a Scala compiler found: set SPARK_HOME")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}: run from the repository root")
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit("no Scala sources found")
    return files


def build(build_dir=".bench_build"):
    """Compile if needed; return (classpath, oracle_sql_json_path, compiled)."""
    build_dir = os.path.abspath(build_dir)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp = f"{classes}{os.pathsep}{jars}"
    oracle_json = os.path.join(build_dir, "oracle_sql.json")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp, oracle_json, False
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    subprocess.run(java + ["-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
                           "-usejavacp", "-nowarn", "-d", classes, "@" + args_file], check=True)
    subprocess.run(java + ["-cp", cp, "perfbench.OracleDump", oracle_json], check=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, oracle_json, True


if __name__ == "__main__":
    print(build(*sys.argv[1:2])[0])
