"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark driver (perfbench/driver) into one class directory with the
Scala compiler that ships among the Spark jars.

The jar directory is the one the repository's own build uses (the
`unmanagedBase` line of build.sbt); SPARK_HOME/jars overrides it.  A
build is skipped when the sources' digest matches the last one built.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER = os.path.join(ROOT, "perfbench", "driver")


class BuildError(Exception):
    pass


def jar_dir():
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(sbt):
            raise BuildError("build.sbt not found: not a checkout of the engine")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            raise BuildError("build.sbt names no unmanagedBase jar directory")
        d = m.group(1)
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars in {d}")
    return d


RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    """The Scala sources and the resource files copied next to the classes."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError("src/main/scala not found: not a checkout of the engine")
    out = []
    for base in (engine, DRIVER, RESOURCES):
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files
                    if f.endswith(".scala") or base == RESOURCES]
    return sorted(out)


def digest(files, base=ROOT):
    """sha256 over the files' paths (relative to ``base``) and contents."""
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, base).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(out_dir):
    """Compile if needed; return (class dir, jar dir, source digest)."""
    jars = jar_dir()
    files = sources()
    want = digest(files)
    classes = os.path.join(out_dir, "classes")
    stamp = os.path.join(out_dir, "classes.sha256")
    if os.path.isfile(stamp) and open(stamp).read().strip() == want:
        return classes, jars, want
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f for f in files if f.endswith(".scala")) + "\n")
    for f in files:
        if f.startswith(RESOURCES + os.sep):
            dest = os.path.join(classes, os.path.relpath(f, RESOURCES))
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.copyfile(f, dest)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as fh:
        fh.write(want + "\n")
    return classes, jars, want


if __name__ == "__main__":
    try:
        print(build(os.path.join(ROOT, ".bench_build"))[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
