#!/usr/bin/env python3
"""Pipeline benchmark runner.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source if needed (pipebench/build.py), runs one
workload in one JVM, and prints the JSON summary as the last line of
stdout. The summary is also written to pipebench/out/, with the traced
run's spans beside it. Scratch data lives under .bench_build/pipebench and
is removed when the run ends.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import threading

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest_pdf", "ingest_shards", "curate_dedup")
# the JVM options the project's own build passes to a forked run
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    out_dir = build.BENCH / "out"
    out_dir.mkdir(exist_ok=True)
    work = build.BUILD / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    tag = f"{a.workload}_trace{a.trace}"
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-Xmn256m", "-XX:ReservedCodeCacheSize=1g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
            "-cp", f"{classes}{os.pathsep}{jars / '*'}",
            "pipebench.Bench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work)]
    if a.trace == "1":
        cmd += ["--spans", str(out_dir / f"spans_{tag}.json")]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=build.ROOT)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    summary = None
    killer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    killer.start()
    try:
        # stdout of the JVM goes to our stderr; only its summary line is kept
        for line in proc.stdout:
            if line.startswith('{"correct"'):
                summary = line.strip()
            else:
                sys.stderr.write(line)
        proc.wait()
    finally:
        killer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or summary is None:
        sys.exit(f"pipebench: run failed (exit {proc.returncode})")
    json.loads(summary)
    (out_dir / f"summary_{tag}.json").write_text(summary + "\n")
    print(summary, flush=True)


if __name__ == "__main__":
    main()
