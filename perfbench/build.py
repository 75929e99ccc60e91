"""Build step of the benchmark: compiles the engine and the harness from source.

The engine's sources (src/main/scala) and the harness's (perfbench/src) are
compiled together with the Scala compiler that ships with the Spark
distribution the project builds against, into `.bench_build/classes/<hash>`,
where <hash> covers every source file. A checkout that already holds a build
for the same sources reuses it, so only the first run pays for compilation.

The Spark jar directory is `$SPARK_HOME/jars` when SPARK_HOME is set,
otherwise the `unmanagedBase` directory named in the project's build.sbt.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME or keep unmanagedBase in build.sbt")


def _sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(root, "perfbench", "src")]
    if not os.path.isdir(dirs[0]):
        raise BuildError("engine sources not found under src/main/scala")
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def _jar(jars, prefix):
    found = sorted(glob.glob(os.path.join(jars, prefix + "-2.13*.jar")))
    if not found:
        raise BuildError(f"{prefix} jar missing from {jars}")
    return found[-1]


def ensure_built(root, log):
    """Returns (classes_dir, spark_jars_dir); compiles only when sources changed."""
    jars = spark_jars(root)
    sources = _sources(root)
    h = hashlib.sha256()
    for f in sources:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(root, ".bench_build", "classes", h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out, jars
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    compiler_cp = os.pathsep.join(
        _jar(jars, p) for p in ("scala-compiler", "scala-library", "scala-reflect"))
    argfile = os.path.join(tmp, "..", os.path.basename(tmp) + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compilation failed (exit {rc}); see {log}")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for stale in os.listdir(os.path.dirname(out)):  # builds of older sources
        if stale != os.path.basename(out):
            shutil.rmtree(os.path.join(os.path.dirname(out), stale), ignore_errors=True)
    return out, jars


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        print(ensure_built(root, os.path.join(root, ".bench_build", "logs", "build.log"))[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
