"""Build file of the benchmark: compiles the library's sources
(`src/main/scala` at the repository root) together with the benchmark's
own Scala sources (`graftbench/src`) with the Scala compiler shipped in
Spark's jar directory. No sbt, no dependency resolution: the classpath is
`$SPARK_HOME/jars/*`.

The output directory is keyed by a hash of every source file, so an
unchanged tree is not rebuilt.

    python3 graftbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise SystemExit("graftbench: SPARK_HOME must point at a Spark install "
                         "whose jars/ holds scala-compiler")
    return os.path.join(home, "jars", "*")


def sources():
    lib = sorted(glob.glob(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not lib:
        raise SystemExit("graftbench: no library sources under src/main/scala")
    return lib + own


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile if needed; return (classes_dir, classpath, source_hash)."""
    jars = spark_jars()
    files = sources()
    digest = source_hash(files)
    out = os.path.join(BUILD, "classes-" + digest)
    done = os.path.join(out, ".complete")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", out, "-classpath", jars] + files
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-20000:])
            raise SystemExit("graftbench: compilation failed")
        open(done, "w").close()
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    return out, out + os.pathsep + jars, digest


if __name__ == "__main__":
    print(build()[0])
