#!/usr/bin/env python3
"""Profile figures of a perfbench run's timed passes from a JFR recording.

    python3 tools/jfr_window.py <recording.jfr> <run stderr> [frame ...]

The recording comes from a perfbench run started with
JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=<recording.jfr>,settings=profile
and the stderr is that run's. The window is the timed passes: from the
stderr line `phase measure` to the `docs_per_cpu_s=… over N <ops>` line.
Prints the execution samples in the window, the share of them whose stack
holds each frame (a substring of `class.method`; defaults below), and the
processes the JVM forked in the window, in all and per operation.
"""
import json
import re
import subprocess
import sys
from datetime import datetime

FRAMES = ["org.apache.hadoop.conf.Configuration.", "SerializableConfiguration", "java.math.BigDecimal.valueOf"]


def stamp(line):
    """The ISO instant of a perfbench stderr line, as epoch seconds."""
    m = re.search(r"(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)\.(\d+)Z", line)
    return datetime.fromisoformat(m.group(1) + "+00:00").timestamp() + float("0." + m.group(2))


def window(stderr):
    lines = open(stderr).read().splitlines()
    start = next(l for l in lines if "phase measure" in l)
    end = next(l for l in lines if "docs_per_cpu_s=" in l)
    ops = int(re.search(r" over (\d+) ", end).group(1))
    return stamp(start), stamp(end), ops


def events(recording):
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ExecutionSample,jdk.ProcessStart",
                          recording], check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frames(event):
    trace = event["values"].get("stackTrace") or {}
    return [f["method"]["type"]["name"].replace("/", ".") + "." + f["method"]["name"]
            for f in trace.get("frames", [])]


def main():
    recording, stderr = sys.argv[1], sys.argv[2]
    wanted = sys.argv[3:] or FRAMES
    lo, hi, ops = window(stderr)
    inside = [e for e in events(recording) if lo <= stamp(e["values"]["startTime"]) <= hi]
    samples = [frames(e) for e in inside if e["type"] == "jdk.ExecutionSample"]
    forks = [e for e in inside if e["type"] == "jdk.ProcessStart"]
    print(f"window {hi - lo:.1f} s, {ops} ops, {len(samples)} execution samples")
    for w in wanted:
        n = sum(1 for s in samples if any(w in f for f in s))
        print(f"  {w}: {n} samples, {100.0 * n / max(1, len(samples)):.1f}%")
    print(f"forked processes: {len(forks)}, {len(forks) / max(1, ops):.1f} per op")


if __name__ == "__main__":
    main()
