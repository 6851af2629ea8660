#!/usr/bin/env python3
"""Per-query cost from one uncompressed Spark event log.

Usage: python3 scripts/eventlog_jobs.py <event-log> [--top N]

<event-log> is one application's log: a plain file, or a rolling-log
directory (`eventlog_v2_<app id>`, whose `events_<n>_*` files are read in
order).

For every SQL execution in the log it prints the wall time, the number
of jobs and tasks it ran, and its tasks' summed run, CPU and
deserialize milliseconds, then a total line. Jobs that ran outside any
SQL execution (plain RDD actions) are listed as execution "-". With
`--top N` only the N executions with the largest wall time are shown
(the total line still counts all of them).

A query whose plan evaluates the same lineage twice shows up here as an
execution with about twice the jobs, tasks and run time of its input's
own action.

To record a log, enable event logging through the JVM's options, e.g.
for the pipeline benchmark:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:///tmp/ev" \\
      python3 pipebench/run.py --workload curate_dedup --seed 1 --seconds 8 --trace 0

A run that starts several sessions leaves one log per application in
/tmp/ev; the largest is usually the timed one.
"""
import json
import re
import sys
from collections import defaultdict
from pathlib import Path

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def log_files(path):
    p = Path(path)
    if not p.is_dir():
        return [p]
    parts = [f for f in p.iterdir() if re.match(r"events_\d+_", f.name)]
    return sorted(parts, key=lambda f: int(f.name.split("_")[1]))


def lines(path):
    for part in log_files(path):
        with open(part, encoding="utf-8") as f:
            yield from f


def read(path):
    """Returns executions {id: row} and the row of jobs outside any SQL
    execution, where a row holds wall_ms, jobs, tasks, run_ms, cpu_ms,
    deser_ms and desc."""
    def row():
        return {"wall_ms": 0.0, "jobs": 0, "tasks": 0, "run_ms": 0.0,
                "cpu_ms": 0.0, "deser_ms": 0.0, "desc": ""}
    execs = defaultdict(row)
    outside = row()
    starts = {}
    stage_exec = {}  # stage id -> execution id (None outside SQL)
    for line in lines(path):
        e = json.loads(line)
        kind = e.get("Event")
        if kind == SQL_START:
            x = e["executionId"]
            starts[x] = e["time"]
            execs[x]["desc"] = e.get("description", "")
        elif kind == SQL_END:
            x = e["executionId"]
            if x in starts:
                execs[x]["wall_ms"] = e["time"] - starts[x]
        elif kind == "SparkListenerJobStart":
            sid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            x = int(sid) if sid is not None else None
            (execs[x] if x is not None else outside)["jobs"] += 1
            for s in e.get("Stage IDs", []):
                stage_exec[s] = x
        elif kind == "SparkListenerTaskEnd":
            x = stage_exec.get(e["Stage ID"])
            r = execs[x] if x is not None else outside
            m = e.get("Task Metrics") or {}
            r["tasks"] += 1
            r["run_ms"] += m.get("Executor Run Time", 0)
            r["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            r["deser_ms"] += m.get("Executor Deserialize Time", 0)
    return execs, outside


def main():
    args = sys.argv[1:]
    if not args or args[0] in ("-h", "--help"):
        print(__doc__)
        sys.exit(0 if args else 2)
    top = None
    if "--top" in args:
        i = args.index("--top")
        top = int(args[i + 1])
        del args[i:i + 2]
    execs, outside = read(args[0])
    ids = sorted(execs)
    if top is not None:
        ids = sorted(ids, key=lambda x: -execs[x]["wall_ms"])[:top]
    cols = ("wall_ms", "jobs", "tasks", "run_ms", "cpu_ms", "deser_ms")
    print(f"{'exec':>5} " + " ".join(f"{c:>9}" for c in cols) + "  description")

    def show(name, r):
        vals = " ".join(f"{r[c]:>9.0f}" for c in cols)
        print(f"{name:>5} {vals}  {r['desc'][:80]}")

    for x in ids:
        show(str(x), execs[x])
    if outside["jobs"]:
        show("-", outside)
    total = {c: sum(execs[x][c] for x in execs) + outside[c] for c in cols}
    total["desc"] = f"{len(execs)} SQL executions"
    show("total", total)


if __name__ == "__main__":
    main()
