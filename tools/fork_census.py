#!/usr/bin/env python3
"""Process starts in a JFR recording, by command and by time window.

Usage:
  python3 tools/fork_census.py RECORDING.jfr [--window SECONDS] [--callers]

Reads the `jdk.ProcessStart` events (recorded by the JDK's default
settings) with the JDK's `jfr` tool and prints:
  - the starts per command (the basename of the command's first word);
  - with --window, the starts per command in windows of that many
    seconds since JVM start, one line per window that has any;
  - with --callers, the starts per (command, first frame outside the JDK
    and Hadoop), which names the code that asked for the file operation.

Recording a perfbench run without editing the benchmark (build it once
first, so the sbt JVM does not overwrite the file):

  JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/run.jfr \\
    python3 perfbench/run.py --workload registry_mix --seed 3 --seconds 4 --trace 0
  python3 tools/fork_census.py /tmp/run.jfr --window 5 --callers
"""
import argparse
import collections
import datetime
import json
import os
import shutil
import subprocess
import sys

# frames skipped when looking for the code that started a process
PLUMBING = ("java.", "jdk.", "sun.", "org.apache.hadoop.")


def jfr_tool():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    return shutil.which("jfr") or sys.exit("fork_census: no `jfr` tool on PATH or in JAVA_HOME")


def instant(s):
    """JFR's ISO instant (nanosecond digits) as seconds since the epoch."""
    whole, _, frac = s.rstrip("Z").partition(".")
    t = datetime.datetime.fromisoformat(whole).replace(tzinfo=datetime.timezone.utc)
    return t.timestamp() + (float("0." + frac) if frac else 0.0)


def caller(stack):
    for f in (stack or {}).get("frames", []):
        m = f["method"]
        cls = m["type"]["name"].replace("/", ".")
        if not cls.startswith(PLUMBING):
            return f"{cls}.{m['name']}"
    return "?"


def events(path):
    """(seconds since JVM start, command, caller) per process start."""
    out = subprocess.run([jfr_tool(), "print", "--events", "jdk.ProcessStart,jdk.JVMInformation",
                          "--stack-depth", "64", "--json", path],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    evs = json.loads(out)["recording"]["events"]
    starts = [e["values"] for e in evs if e["type"] == "jdk.ProcessStart"]
    info = [e["values"] for e in evs if e["type"] == "jdk.JVMInformation"]
    t0 = (instant(info[0]["jvmStartTime"]) if info
          else min((instant(v["startTime"]) for v in starts), default=0.0))
    return sorted((instant(v["startTime"]) - t0, os.path.basename(v["command"].split(" ")[0]),
                   caller(v.get("stackTrace"))) for v in starts)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--window", type=float, help="window width in seconds")
    ap.add_argument("--callers", action="store_true", help="count by command and caller")
    a = ap.parse_args()

    evs = events(a.recording)
    by_cmd = collections.Counter(c for _, c, _ in evs)
    print(f"{len(evs)} process starts in {a.recording}")
    for cmd, n in by_cmd.most_common():
        print(f"  {cmd:<24} {n:>6}")
    if a.window:
        cmds = [c for c, _ in by_cmd.most_common()]
        windows = collections.defaultdict(collections.Counter)
        for t, c, _ in evs:
            windows[int(t // a.window)][c] += 1
        print(f"\nper {a.window:g} s window (seconds since JVM start)")
        print(f"  {'window':<16}" + "".join(f"{c:>10}" for c in cmds))
        for w in sorted(windows):
            span = f"{w * a.window:g}-{(w + 1) * a.window:g}"
            print(f"  {span:<16}" + "".join(f"{windows[w][c]:>10}" for c in cmds))
    if a.callers:
        print("\nper command and caller")
        for (cmd, who), n in collections.Counter((c, w) for _, c, w in evs).most_common():
            print(f"  {cmd:<12} {n:>6}  {who}")


if __name__ == "__main__":
    main()
