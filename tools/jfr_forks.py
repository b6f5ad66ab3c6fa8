#!/usr/bin/env python3
"""Summarise the child processes a JVM started, from a JFR recording.

    tools/jfr_forks.py RECORDING.jfr [--from T] [--to T]
                       [--record RUN.json [--pass N]] [--top K]

Reads the recording's jdk.ProcessStart events (through the JDK's `jfr print`)
and prints how many processes started, grouped by command name and by the
innermost `graft.` or Spark frame of the stack that started them (the first
frame of any other code when neither is on the stack).

The window is optional. --from and --to take epoch milliseconds or ISO-8601
instants. --record takes a perfbench run record (.bench_build/records/*.json)
and limits the count to its timed passes, or to pass N with --pass.

Recording a benchmark run, for example (the stack depth reaches past
Hadoop's frames to the caller's):

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=256 -XX:StartFlightRecording=filename=/tmp/ingest.jfr" \\
        python3 perfbench/run.py --workload ingest --seed 301 --seconds 10 --trace 0
    tools/jfr_forks.py /tmp/ingest.jfr --record .bench_build/records/ingest-seed301-trace0.json --pass 1
"""
import argparse
import collections
import datetime
import json
import subprocess
import sys


def instant_ms(text):
    """Epoch milliseconds of an epoch-ms number or an ISO-8601 instant."""
    try:
        return float(text)
    except ValueError:
        t = datetime.datetime.fromisoformat(text.replace("Z", "+00:00"))
        if t.tzinfo is None:
            t = t.replace(tzinfo=datetime.timezone.utc)
        return t.timestamp() * 1000


def event_ms(start_time):
    """Epoch milliseconds of a JFR startTime (nanosecond ISO-8601)."""
    head, _, frac = start_time.rstrip("Z").partition(".")
    t = datetime.datetime.fromisoformat(head).replace(tzinfo=datetime.timezone.utc)
    return t.timestamp() * 1000 + (float("0." + frac) * 1000 if frac else 0.0)


def record_window(path, pass_no):
    """(from_ms, to_ms) of a perfbench record's timed passes, or of one pass."""
    with open(path) as f:
        ops = [o for o in json.load(f)["ops"] if pass_no is None or o["pass"] == pass_no]
    if not ops:
        sys.exit(f"no operations of pass {pass_no} in {path}")
    return (min(o["start_ms"] for o in ops),
            max(o["start_ms"] + o["seconds"] * 1000 for o in ops))


def caller(stack):
    """The innermost graft or Spark frame, else the innermost frame outside the JDK."""
    names = [f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}"
             for f in stack.get("frames", [])]
    hit = next((n for n in names if n.startswith(("graft.", "org.apache.spark."))), None)
    if hit:
        return hit
    other = next((n for n in names if not n.startswith(("java.", "jdk.", "sun."))), "?")
    return other + (" (stack truncated: raise stackdepth)" if stack.get("truncated") else "")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--from", dest="start", type=instant_ms)
    ap.add_argument("--to", dest="end", type=instant_ms)
    ap.add_argument("--record", help="perfbench run record whose timed window to count")
    ap.add_argument("--pass", dest="pass_no", type=int, help="with --record: one timed pass")
    ap.add_argument("--top", type=int, default=15, help="rows per grouping")
    args = ap.parse_args()

    start, end = args.start, args.end
    if args.record:
        start, end = record_window(args.record, args.pass_no)
    out = subprocess.run(["jfr", "print", "--stack-depth", "256", "--events", "jdk.ProcessStart",
                          "--json", args.recording],
                         check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]
    picked = [e["values"] for e in events
              if (start is None or event_ms(e["values"]["startTime"]) >= start)
              and (end is None or event_ms(e["values"]["startTime"]) <= end)]

    window = "" if start is None and end is None else \
        f" from {'-' if start is None else f'{start:.0f}'} to {'-' if end is None else f'{end:.0f}'} ms"
    print(f"{len(picked)} child processes{window} ({len(events)} in the recording)")
    by_command = collections.Counter((v.get("command") or "?").split()[0] for v in picked)
    by_caller = collections.Counter(caller(v.get("stackTrace") or {}) for v in picked)
    for title, counts in (("by command", by_command), ("by caller", by_caller)):
        print(f"\n{title}:")
        for name, n in counts.most_common(args.top):
            print(f"  {n:6d}  {name}")


if __name__ == "__main__":
    main()
