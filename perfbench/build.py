"""Build file of the benchmark.

Compiles the repository's Scala sources (`src/main/scala`) together with
the benchmark's own (`perfbench/src`) into one class directory, using the
Scala compiler that ships among the Spark jars. The output directory is
named after a hash of every source file, so an unchanged tree is compiled
once and reused by later runs. Class directories of other source trees are
left in place: two checkouts that share a build directory keep both builds,
and a run never loses the classes its JVM is loading.

    python3 perfbench/build.py [build-dir]     # prints the class directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def fail(msg: str) -> "NoReturn":
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars() -> str:
    """The jars directory of the Spark install: $SPARK_HOME, else the one
    that holds `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark install found: set SPARK_HOME")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found: set JAVA_HOME")
    return exe


def sources() -> list:
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"program sources not found under {os.path.relpath(main)}")
    own = os.path.join(ROOT, "perfbench", "src")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(own, "*.scala")))
    return files


def compiler_classpath(jars: str) -> str:
    parts = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, f"{name}-2.13*.jar")))
        if not found:
            fail(f"{name} jar not found among the Spark jars")
        parts.append(found[-1])
    return os.pathsep.join(parts)


def build(build_dir: str) -> str:
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    digest.update(compiler_classpath(jars).encode())
    out = os.path.join(build_dir, "classes-" + digest.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out

    os.makedirs(build_dir, exist_ok=True)
    tmp = f"{out}.tmp-{os.getpid()}"
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler_classpath(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources into {os.path.relpath(out, ROOT)}",
          file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    try:
        os.replace(tmp, out)
    except OSError:  # another build of the same sources finished first
        if not os.path.isfile(os.path.join(out, ".complete")):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))
