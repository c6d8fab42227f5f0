"""Build file of the benchmark package: compiles the engine's main sources
(`src/main/scala`) together with the benchmark harness (`perfbench/harness`)
with the Scala compiler that ships in the Spark distribution, against the
Spark jars. The output directory is keyed by a hash of every source, so a
checkout builds once and later runs reuse the classes. Directories of other
hashes are left alone: a run of other sources sharing the build root may be
loading from them.

    python3 perfbench/build.py        # build (or reuse) and print the classes dir
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars() -> str:
    """$SPARK_HOME/jars, else the jar directory the engine's build.sbt uses."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def build_root() -> str:
    base = os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build"))
    return os.path.join(os.path.abspath(base), "perfbench")


def sources() -> list:
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: engine sources not found under {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return files


def ensure() -> str:
    """Compile once per source hash; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")))
    h.update(" ".join(os.path.basename(c) for c in compiler).encode())
    root = build_root()
    out = os.path.join(root, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    os.makedirs(root, exist_ok=True)
    tmp = out + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    scala_cp = os.pathsep.join(sorted(
        glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
        + glob.glob(os.path.join(jars, "scala-library-*.jar"))
        + glob.glob(os.path.join(jars, "scala-reflect-*.jar"))))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", scala_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout)
        raise SystemExit("perfbench: compile failed")
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure())
