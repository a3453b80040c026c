"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the benchmark program (perfbench/src) using the Scala compiler that ships
in the Spark distribution's jars directory: $SPARK_HOME/jars, or else the
jars directory the engine's build.sbt names as its unmanagedBase. Classes
land in .bench_build/classes-<source hash> at the root of the checkout, so
an unchanged tree is compiled once.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as fh:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read()).group(1)
        except (OSError, AttributeError):
            raise SystemExit("set SPARK_HOME: build.sbt names no Spark jars directory")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler jar under {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"engine sources not found: {engine}")
    out = []
    for d in (engine, os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(d):
            out += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def build(root):
    """Compile if needed; return the classes directory."""
    srcs = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out_root = os.path.join(root, ".bench_build")
    out = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "_sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    compiler = ":".join(sorted(glob.glob(os.path.join(jars, n)))[0] for n in (
        "scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    os.remove(argfile)
    open(os.path.join(tmp, "_ok"), "w").close()
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
