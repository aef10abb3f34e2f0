#!/usr/bin/env python3
"""Count the processes a JVM started, from a JFR recording.

    python3 tools/forks.py RECORDING.jfr [--top N]

Reads the recording's `jdk.ProcessStart` events through the JDK's `jfr`
tool (`jfr print --json`) and prints three tables: starts per command
(arguments that look like paths dropped, so `chmod 0644 /a` and
`chmod 0644 /b` count together), per top engine frame (the first stack
frame outside the JDK, Scala and Hadoop: the Spark or graft code that
asked for the process) and per thread, each with the first and last
start time. A fork from the driver costs milliseconds; on a per-batch or
per-query path it shows up in wall time but in no Spark metric.

Recording a perfbench run. The harness JVM takes no extra flags, but
every JVM reads `JAVA_TOOL_OPTIONS`, and JFR's default settings record
`jdk.ProcessStart` with stack traces. Build once without the variable
(the build runs the Scala compiler in a JVM too), then record; the
harness runs in its own run directory, so give an absolute file name:

    python3 perfbench/run.py --workload live --seed 1 --seconds 15 --trace 0
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=$PWD/live.jfr" \\
        python3 perfbench/run.py --workload live --seed 1 --seconds 15 --trace 0
    python3 tools/forks.py live.jfr

The recording covers the whole JVM: session start, set-up, the timed
phase and the shutdown hooks (Spark deletes its temporary directories
with `rm -rf` at exit). Per-micro-batch forks come from the
`stream execution thread for metrics_fanout`; per-query forks of the
`catalog` workload from `main`.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys

SKIP = ("java/", "jdk/", "sun/", "scala/", "org/apache/hadoop/")


def jfr_binary():
    found = shutil.which("jfr")
    if found:
        return found
    java = shutil.which("java")
    if java:
        candidate = os.path.join(os.path.dirname(os.path.realpath(java)), "jfr")
        if os.path.exists(candidate):
            return candidate
    raise SystemExit("jfr not found: put the JDK's bin directory on PATH")


def process_starts(recording):
    out = subprocess.run([jfr_binary(), "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ProcessStart", recording],
                         stdout=subprocess.PIPE, check=True).stdout
    return json.loads(out)["recording"]["events"]


def command(values):
    return " ".join(t for t in (values.get("command") or "").split() if "/" not in t) or "?"


def top_frame(values):
    for f in ((values.get("stackTrace") or {}).get("frames") or []):
        cls = f["method"]["type"]["name"]
        if not cls.startswith(SKIP):
            return cls.replace("/", ".") + "." + f["method"]["name"]
    return "?"


def thread(values):
    return (values.get("eventThread") or {}).get("javaName") or "?"


def table(title, events, key, top):
    groups = collections.defaultdict(list)
    for e in events:
        groups[key(e["values"])].append(e["values"]["startTime"])
    print(f"{title}:")
    for name, times in sorted(groups.items(), key=lambda kv: (-len(kv[1]), kv[0]))[:top]:
        times.sort()
        print(f"  {len(times):6d}  {times[0][11:23]}..{times[-1][11:23]}  {name}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=20, help="rows per table (default 20)")
    args = ap.parse_args()
    events = process_starts(args.recording)
    print(f"{len(events)} process starts in {args.recording}")
    if not events:
        return 0
    table("per command", events, command, args.top)
    table("per top engine frame", events, top_frame, args.top)
    table("per thread", events, thread, args.top)
    return 0


if __name__ == "__main__":
    sys.exit(main())
