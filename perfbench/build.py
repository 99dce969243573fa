"""Build file of the benchmark package: compiles the engine's main sources
(`src/main/scala`) together with the benchmark harness (`perfbench/src`)
into one class directory, with the Scala compiler that ships among the
Spark jars. The build is skipped while the sources are unchanged.

Usage: python3 perfbench/build.py   (writes .bench_build/classes)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """The Spark jar directory the sbt build compiles against: its
    `unmanagedBase`."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read()).group(1)


def sources():
    return sorted(f for d in SOURCE_DIRS
                  for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def classpath():
    return sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))


def _digest(files):
    h = hashlib.sha256()
    for f in files + classpath():
        h.update(os.path.relpath(f, ROOT).encode())
        if f.startswith(ROOT):
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


OUT_DIR = os.path.join(ROOT, ".bench_build", "classes")


def build():
    """Compile into OUT_DIR unless it already holds this source tree."""
    out_dir = OUT_DIR
    files = sources()
    if not files:
        raise SystemExit("no Scala sources found under " + ", ".join(SOURCE_DIRS))
    stamp = out_dir + ".sha256"
    digest = _digest(files)
    if os.path.isdir(out_dir) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    compiler = [glob.glob(os.path.join(spark_jars(), f"scala-{m}-2.13.*.jar"))[0]
                for m in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
           "-classpath", ":".join(classpath())] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return out_dir


if __name__ == "__main__":
    build()
