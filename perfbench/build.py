"""Build file of the benchmark: compiles graft's main sources and the
harness in `perfbench/scala` into one class directory with the Scala
compiler that ships in Spark's `jars/` directory (the same 2.13 release the
repo's build.sbt pins), against those same jars. A stamp over every source
path and its contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py [BUILD_DIR]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")
    return home


def spark_jars():
    return sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar")))


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise SystemExit(f"perfbench: graft sources not found under {main}")
    found = [os.path.join(d, f) for top in (main, os.path.join(HERE, "scala"))
             for d, _, fs in os.walk(top) for f in fs if f.endswith(".scala")]
    return sorted(found)


def build(build_dir):
    """Compile if needed; returns the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir}", "-Xss8m", "-Xmx2g",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.pathsep.join(jars), "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("perfbench: compile failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else
                os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))))
