#!/usr/bin/env python3
"""Where a JFR recording's Spark task threads spent their CPU samples.

Runs `jfr print --json --stack-depth 80 --events jdk.ExecutionSample` on the
recording, keeps the samples of Spark executor task threads ("Executor task
launch worker ..."), and prints two tables of sample counts:

  leaf     the innermost frame (where the CPU was),
  caller   the innermost frame whose class is in `graft.` or
           `org.apache.spark.` (which engine code asked for it).

Record one cold call without editing anything, e.g. for perfbench (run.py
passes the environment through to the JVMs it starts):

  mkdir -p /tmp/cold-jfr
  JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/cold-jfr/,settings=profile \\
    python3 perfbench/run.py --workload billmatch-kmeans --seed 1 --seconds 1 --trace 0

A directory as `filename` gives each JVM its own file (JDK 17 does not
expand `%p` in it); the largest one is the workload JVM's.

Sampling shows where a profiled run went, for attribution only: a recording
changes the run it measures, so its numbers are never a speed claim.
"""
import argparse
import collections
import json
import subprocess
import sys

EXECUTOR_THREAD = "Executor task launch worker"
ENGINE_PREFIXES = ("graft.", "org.apache.spark.")


def frame_name(frame):
    method = frame["method"]
    # JSON output names classes in internal form (org/apache/...)
    return f'{method["type"]["name"].replace("/", ".")}.{method["name"]}'


def samples(path):
    """(thread name, [frame names, innermost first]) per execution sample."""
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "80",
         "--events", "jdk.ExecutionSample", path],
        check=True, capture_output=True, text=True).stdout
    for event in json.loads(out)["recording"]["events"]:
        values = event["values"]
        thread = (values.get("sampledThread") or {}).get("javaName") or ""
        frames = (values.get("stackTrace") or {}).get("frames") or []
        yield thread, [frame_name(f) for f in frames]


def table(title, counts, total, top):
    print(f"{title} ({total} samples)")
    for name, n in counts.most_common(top):
        print(f"  {n:6d} {100.0 * n / total:5.1f}%  {name}")


def main():
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("jfr")
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()

    n_all = 0
    leaf = collections.Counter()
    caller = collections.Counter()
    for thread, frames in samples(args.jfr):
        n_all += 1
        if not thread.startswith(EXECUTOR_THREAD) or not frames:
            continue
        leaf[frames[0]] += 1
        caller[next((f for f in frames if f.startswith(ENGINE_PREFIXES)),
                    "(no engine frame)")] += 1
    n_exec = sum(leaf.values())
    print(f"{args.jfr}: {n_all} execution samples, {n_exec} on executor task threads")
    if n_exec == 0:
        sys.exit(1)
    table("by leaf frame", leaf, n_exec, args.top)
    table("by innermost graft./Spark frame", caller, n_exec, args.top)


if __name__ == "__main__":
    main()
