"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's JVM side (perfbench/src) with the Scala
compiler that ships in Spark's jar directory, into .bench_build/perfbench.

A stamp of the source digest skips recompiling an unchanged tree.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: Spark jars not found "
                         "(set SPARK_HOME or put spark-submit on PATH)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise SystemExit(f"perfbench: no graft sources under {main}")
    found = []
    for top in (main, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            found += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    resources = os.path.join(ROOT, "src", "main", "resources")
    cp = os.pathsep.join([classes, resources, os.path.join(jars, "*")])
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [glob.glob(os.path.join(jars, f"{n}-2.13.*.jar"))[0]
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
         "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
         "-d", classes, "-cp", os.path.join(jars, "*"), "@" + argfile],
        check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
