#!/usr/bin/env python3
"""Count the processes a JVM forked, per micro-batch, by who forked them.

Usage: python3 tools/forks.py <recording.jfr> [--batches N]

Reads the recording's `jdk.ProcessStart` events (`jfr print --events
jdk.ProcessStart --stack-depth 128`) and groups each fork by its stack:
  - `offset log` if the stack holds `markMicroBatchStart` (the offset
    log entry written before a micro-batch),
  - `commit log` if it holds `markMicroBatchEnd` (the entry after it),
  - otherwise the innermost graft or Spark frame (`Class.method`), or
    `other` when there is none.
Prints one line per group, most forks first: the count, the count per
batch when --batches is given (a traced stream run reports it as
`stream.batches`), and the commands forked (`chmod`, `readlink`, ...).
The recording's forks during session setup and warm-up are counted too;
they land in their own groups.

Reads the text form, not `--json`: the JSON of one 12-second stream run
is about 650 MB, the text about 25 MB, read a line at a time.

To record: run the JVM with
`-XX:FlightRecorderOptions:stackdepth=128 -XX:StartFlightRecording=filename=/abs/x.jfr`
(for the benchmark, in a scratch copy of `graftbench/run.py`'s `java`
command; `graftbench/` itself stays unedited).
"""
import argparse
import collections
import subprocess
import sys

MARKERS = (("markMicroBatchStart", "offset log"), ("markMicroBatchEnd", "commit log"))
OWN = ("graft.", "org.apache.spark.")


def events(recording):
    """Yields (command, [Class.method frames, innermost first]) per fork."""
    proc = subprocess.Popen(["jfr", "print", "--events", "jdk.ProcessStart",
                             "--stack-depth", "128", recording],
                            stdout=subprocess.PIPE, text=True)
    command, frames, in_stack = None, [], False
    for line in proc.stdout:
        s = line.strip()
        if s == "jdk.ProcessStart {":
            command, frames, in_stack = None, [], False
        elif s.startswith("command = "):
            command = s[len("command = "):].strip('"')
        elif s == "stackTrace = [":
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
            yield command, frames
        elif in_stack and s != "...":
            frames.append(s.split("(", 1)[0])
    if proc.wait() != 0:
        sys.exit(f"jfr print failed on {recording}")


def group(frames):
    methods = {f.rsplit(".", 1)[-1] for f in frames}
    for marker, name in MARKERS:
        if marker in methods:
            return name
    return next((f for f in frames if f.startswith(OWN)), "other")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--batches", type=int, help="micro-batches in the recording")
    args = ap.parse_args()
    counts = collections.Counter()
    commands = collections.defaultdict(collections.Counter)
    for command, frames in events(args.recording):
        g = group(frames)
        counts[g] += 1
        commands[g][(command or "?").split(" ", 1)[0].rsplit("/", 1)[-1]] += 1
    total = sum(counts.values())
    per = (lambda n: f"{n / args.batches:8.2f}/batch") if args.batches else (lambda n: "")
    print(f"{total:6d} {per(total)}  all forks")
    for g, n in counts.most_common():
        cmds = ", ".join(f"{c} {k}" for k, c in commands[g].most_common())
        print(f"{n:6d} {per(n)}  {g}  [{cmds}]")


if __name__ == "__main__":
    main()
