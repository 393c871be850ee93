#!/usr/bin/env python3
"""Counts the processes a JVM forked, from a JFR recording.

Usage: python3 scripts/forks.py <recording.jfr> [<recording.jfr> ...]

Reads the `jdk.ProcessStart` events (through `jfr print --json
--stack-depth 256 --events jdk.ProcessStart`) and prints the process
starts grouped by command, then by command and the first `graft.` frame
of the forking thread's stack.
A start under `graft.perfbench.` counts as the harness's, one under any
other `graft.` frame as the engine's, one with no `graft.` frame as
other (Spark, Hadoop or JVM threads).

Record a benchmark run with the JDK's own agent option, for example:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/run.jfr,\
settings=default -XX:FlightRecorderOptions=stackdepth=256" \
        python3 perfbench/run.py --workload table_churn --seed 778 \
        --seconds 10 --trace 0

Every JVM the command starts reads JAVA_TOOL_OPTIONS, so build the
checkout first (one plain run) to keep sbt from recording too. The deep
stack keeps the first `graft.` frame inside the recorded frames.
"""
import collections
import json
import subprocess
import sys


def events(path):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "256", "--events",
         "jdk.ProcessStart", path],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out)["recording"]["events"]


def command(cmd):
    """The program and its leading options: path arguments dropped, so
    `chmod 0644 /t/a` and `chmod 0644 /t/b` count as one command."""
    words = cmd.split()
    head = [words[0].rsplit("/", 1)[-1]] if words else ["?"]
    for w in words[1:]:
        if "/" in w:
            break
        head.append(w)
    return " ".join(head)


def first_graft_frame(values):
    frames = (values.get("stackTrace") or {}).get("frames") or []
    for f in frames:
        m = f["method"]
        cls = m["type"]["name"].replace("/", ".")
        if cls.startswith("graft."):
            return f"{cls}.{m['name']}"
    return None


def side(frame):
    if frame is None:
        return "other"
    return "harness" if frame.startswith("graft.perfbench.") else "engine"


def main(paths):
    by_cmd = collections.Counter()
    by_frame = collections.Counter()
    by_side = collections.Counter()
    for p in paths:
        for e in events(p):
            v = e["values"]
            c = command(v.get("command") or "")
            frame = first_graft_frame(v)
            by_cmd[c] += 1
            by_frame[(c, frame or "(no graft frame)")] += 1
            by_side[(side(frame), c)] += 1
    print(f"process starts: {sum(by_cmd.values())}")
    print("\nby command:")
    for c, n in by_cmd.most_common():
        print(f"  {n:6d}  {c}")
    print("\nby side and command:")
    for (s, c), n in sorted(by_side.items()):
        print(f"  {n:6d}  {s:8s} {c}")
    print("\nby command and first graft frame:")
    for (c, f), n in by_frame.most_common():
        print(f"  {n:6d}  {c:16s} {f}")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
