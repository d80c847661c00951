"""Build file of the benchmark: compiles the library (`src/main/scala`)
and the benchmark harness (`perfbench/src`) with the Scala compiler that
ships in Spark's jar directory, into `.bench_build/classes`. Spark is found
through `SPARK_HOME`, else through `spark-submit` on the PATH, else through
an installed `pyspark` package.

The build is skipped when a stamp of every source file's content matches
the last build. Usage: `python3 perfbench/build.py` from the repository
root (run.py calls it before every run).
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"


def spark_jars():
    submit = shutil.which("spark-submit")
    pyspark = importlib.util.find_spec("pyspark")
    homes = [os.environ.get("SPARK_HOME"),
             submit and os.path.dirname(os.path.dirname(os.path.realpath(submit))),
             pyspark and pyspark.origin and os.path.dirname(pyspark.origin)]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                           recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"),
                             recursive=True))
    if not lib:
        raise SystemExit("perfbench: no library sources under src/main/scala")
    if not bench:
        raise SystemExit("perfbench: no harness sources under perfbench/src")
    return lib + bench


def build(root="."):
    """Compile if needed; return the classpath for running the harness."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD, "classes")
    stamp_file = os.path.join(root, BUILD, "classes.stamp")
    cp = f"{out}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(root, BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("perfbench: compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
