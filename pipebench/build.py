#!/usr/bin/env python3
"""Build file of the pipeline benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (pipebench/src) into one class directory under
.bench_build/pipebench, with scalac from the Spark distribution. A build is
reused while the sources it was made from are unchanged.

    python3 pipebench/build.py        # prints the class directory
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH = ROOT / "pipebench"
BUILD = ROOT / ".bench_build" / "pipebench"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the project's build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.is_file() else "")
        if not m:
            raise SystemExit("pipebench: set SPARK_HOME")
        jars = pathlib.Path(m.group(1))
    if not jars.is_dir():
        raise SystemExit(f"pipebench: no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def compiler_classpath(jars):
    picked = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(jars.glob(f"{name}-2.13.*.jar"))
        if not found:
            raise SystemExit(f"pipebench: {name} 2.13 not found in {jars}")
        picked.append(str(found[-1]))
    return os.pathsep.join(picked)


def sources():
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"pipebench: program sources not found at {PROGRAM_SRC}")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def stamp(files, cp):
    h = hashlib.sha256(cp.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    if PROGRAM_RES.is_dir():
        for f in sorted(p for p in PROGRAM_RES.rglob("*") if p.is_file()):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Returns the class directory, compiling first if the sources changed."""
    jars = spark_jars()
    cp = compiler_classpath(jars)
    files = sources()
    want = stamp(files, cp)
    classes = BUILD / "classes"
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == want:
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(
        ["-nowarn", "-Ybackend-parallelism", "4", "-d", str(tmp),
         "-classpath", str(jars / "*")] + [str(f) for f in files]) + "\n")
    print(f"pipebench: compiling {len(files)} sources", file=sys.stderr)
    rc = subprocess.call([java(), "-Xss8m", "-Xmx2g", "-cp", cp,
                          "scala.tools.nsc.Main", f"@{argfile}"],
                         stdout=sys.stderr)
    if rc != 0:
        raise SystemExit(f"pipebench: compilation failed ({rc})")
    if PROGRAM_RES.is_dir():
        shutil.copytree(PROGRAM_RES, tmp, dirs_exist_ok=True)
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build())
