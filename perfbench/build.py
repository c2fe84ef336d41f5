"""Build file of the benchmark: compiles graft and the harness with scalac.

Compiles `src/main/scala` of the checkout together with
`perfbench/harness` into `.bench_build/classes`, using the Scala compiler
that ships in the Spark jars directory named by the repo's `build.sbt`
(`unmanagedBase`), or `$SPARK_HOME/jars`. A stamp of every source's hash
skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    for d in ([m.group(1)] if m else []) + (
            [os.path.join(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else []):
        if glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    raise SystemExit("perfbench: no Spark jars directory (build.sbt unmanagedBase or $SPARK_HOME)")


def sources(root):
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        raise SystemExit("perfbench: no src/main/scala in %s; run from a graft checkout" % root)
    return srcs + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build(root):
    """Returns the classes directory, compiling if the sources changed."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD, "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, jars
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(root, BUILD), "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", cp] + srcs
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, jars


if __name__ == "__main__":
    print(build(os.getcwd())[0])
