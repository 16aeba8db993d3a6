"""Build file of the benchmark: compiles the engine (`src/main/scala` of the
checkout) together with the harness (`perfbench/scala`) with the Scala
compiler that ships in the Spark distribution, into a build directory keyed
by a hash of every source file. A build for the same sources is reused.

    python3 perfbench/build.py          # prints the classes directory

The build directory is `$CARGO_TARGET_DIR` when set, else `.bench_build`
under the checkout root.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the first `spark-submit` on PATH
    that belongs to a Spark distribution."""
    homes = [os.environ.get("SPARK_HOME")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))


def build_root():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def build(quiet=True):
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_root(), "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "BUILD_OK")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{m}-2.13*.jar"))[0]
        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({p.returncode})")
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    if not quiet:
        print(out)
    return out


if __name__ == "__main__":
    build(quiet=False)
