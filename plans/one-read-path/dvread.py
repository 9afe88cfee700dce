#!/usr/bin/env python3
"""Times the deletion-vector read table of README.md for one checkout.

    python3 plans/one-read-path/dvread.py --sf SF01_DIR [--root CHECKOUT]

Builds CHECKOUT's engine with perfbench/build.py (into CHECKOUT/.bench_build),
compiles DvRead.scala from this directory against it, and runs it on local[4]
with a 3 GB heap. Prints the DVREAD lines: one table row per read, warm
minimum of 5 without and with ~1% of rows DV-deleted. The reads use only
public API, so the same file times any commit of the engine.
"""
import argparse
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ap = argparse.ArgumentParser()
ap.add_argument("--root", default=os.path.dirname(os.path.dirname(HERE)))
ap.add_argument("--sf", required=True, help="fixture directory of scale factor 0.1")
args = ap.parse_args()
root = os.path.abspath(args.root)
sys.path.insert(0, os.path.join(root, "perfbench"))
import build  # noqa: E402  (the checkout's own build file)

classes, jars, _ = build.build(os.path.join(root, ".bench_build"))
cp = os.path.join(jars, "*")
with tempfile.TemporaryDirectory() as tmp:
    out = os.path.join(tmp, "classes")
    os.makedirs(out)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-d", out, "-classpath", classes + os.pathsep + cp,
                    os.path.join(HERE, "DvRead.scala")], check=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    r = subprocess.run(["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
                       + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
                       + ["-cp", os.pathsep.join([out, classes, cp]), "DvRead", args.sf, tmp],
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    print("\n".join(l for l in r.stdout.splitlines() if l.startswith("DVREAD")))
    sys.exit(r.returncode)
