#!/usr/bin/env python3
"""Summarize CPU samples of a JFR recording by thread group and frame.

    python3 tools/jfr_summary.py <file.jfr> [--under SUBSTR]

Runs `jfr print --json --stack-depth 300 --events jdk.ExecutionSample`
and streams its output (a profiled minute is hundreds of MB of JSON, so
events are decoded one at a time, never the whole document). Prints:

  * the share of samples per thread group: Spark executor task threads
    ("Executor task launch worker ..."), the benchmark's closed-loop
    callers ("caller-N"), and everything else;
  * per group, the top 25 inclusive frames ("pkg.Class.method"): the
    number of samples whose stack contains the frame at least once.

With --under SUBSTR only stacks that contain a frame whose
"pkg.Class.method" name contains SUBSTR are counted, e.g. `--under
doList` keeps the benchmark's list calls on the caller threads.

Record one with the benchmark, built first so the JVM is the workload.
The JVM keeps 64 frames per stack unless told otherwise; Spark's stacks
are deeper, and a cut stack loses the root-side frames --under matches:
    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions:stackdepth=300 -XX:StartFlightRecording=filename=/tmp/x.jfr,settings=profile,delay=30s" \
        python3 perfbench/run.py --workload catalog_serve --seed 1 --seconds 15 --trace 0
"""
import argparse
import collections
import json
import shutil
import subprocess
import sys

GROUPS = ("executor", "caller", "other")
TOP = 25  # inclusive frames listed per group
CHUNK = 1 << 20  # characters read from `jfr print` at a time


def group_of(thread_name):
    if thread_name.startswith("Executor task launch worker"):
        return "executor"
    if thread_name.startswith("caller-"):
        return "caller"
    return "other"


def iter_events(stream):
    """Yield each element of the document's "events" array, decoding one
    event at a time from a buffer that only keeps the undecoded tail."""
    dec = json.JSONDecoder()
    buf, pos, eof = "", 0, False

    def more():
        nonlocal buf, pos, eof
        chunk = stream.read(CHUNK)
        eof = not chunk
        buf, pos = buf[pos:] + chunk, 0

    while True:
        key = buf.find('"events"')
        bracket = buf.find("[", key) if key >= 0 else -1
        if bracket >= 0:
            pos = bracket + 1
            break
        if eof:
            return
        more()
    while True:
        while pos < len(buf) and buf[pos] in " \t\r\n,":
            pos += 1
        if pos < len(buf) and buf[pos] == "]":
            return
        try:
            event, pos = dec.raw_decode(buf, pos)
        except json.JSONDecodeError:
            if eof:
                raise
            more()
            continue
        yield event


def frame_name(frame):
    method = frame.get("method") or {}
    owner = (method.get("type") or {}).get("name", "?").replace("/", ".")
    return f"{owner}.{method.get('name', '?')}"


def summarize(events, under):
    samples = collections.Counter()
    frames = {g: collections.Counter() for g in GROUPS}
    total = truncated = 0
    for event in events:
        values = event.get("values", {})
        thread = values.get("sampledThread") or {}
        name = thread.get("javaName") or thread.get("osName") or ""
        stack = values.get("stackTrace") or {}
        names = [frame_name(f) for f in stack.get("frames") or []]
        total += 1
        truncated += bool(stack.get("truncated"))
        if under is not None and not any(under in n for n in names):
            continue
        g = group_of(name)
        samples[g] += 1
        frames[g].update(set(names))

    kept = sum(samples.values())
    scope = f" under '{under}'" if under is not None else ""
    print(f"samples: {total} total, {kept} kept{scope}")
    if truncated:
        # a cut stack loses its root-side frames, so --under misses it
        print(f"  {truncated} stacks truncated: record with "
              "-XX:FlightRecorderOptions:stackdepth=300")
    for g in GROUPS:
        share = samples[g] / kept if kept else 0.0
        print(f"  {g:<9}{samples[g]:>8}  {100 * share:5.1f}%")
    for g in GROUPS:
        if not samples[g]:
            continue
        print(f"\ntop inclusive frames, {g} ({samples[g]} samples{scope}):")
        for name, n in frames[g].most_common(TOP):
            print(f"  {n:>7}  {100 * n / samples[g]:5.1f}%  {name}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("jfr", help="recording written by -XX:StartFlightRecording")
    ap.add_argument("--under", help="keep only stacks with a frame containing this")
    a = ap.parse_args()
    if shutil.which("jfr") is None:
        sys.exit("jfr_summary: the JDK's `jfr` tool must be on PATH")
    proc = subprocess.Popen(
        ["jfr", "print", "--json", "--stack-depth", "300",
         "--events", "jdk.ExecutionSample", a.jfr],
        stdout=subprocess.PIPE, text=True)
    try:
        summarize(iter_events(proc.stdout), a.under)
    finally:
        proc.stdout.close()
        rc = proc.wait()
    if rc != 0:
        sys.exit(f"jfr_summary: jfr print exited with {rc}")


if __name__ == "__main__":
    main()
