#!/usr/bin/env python3
"""Summarise the process forks in a JFR recording.

Usage: python3 tools/jfr_forks.py <file.jfr>

Reads the recording's `jdk.ProcessStart` events with `jfr print --json`
(the `jfr` tool next to `java`) and prints the forks by program, by thread,
and by thread and program, each with the seconds from the first fork to the
first and last of its group. Record an end-to-end run without touching the
benchmark, for example:

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/live.jfr,settings=profile \\
        python3 perfbench/run.py --workload ais_live --seed 1 --seconds 15 --trace 0

The `profile` settings enable `jdk.ProcessStart`. A thread named
`stream execution thread for ...` runs a streaming query's micro-batches,
its checkpoint commits included.
"""
import collections
import json
import os
import shutil
import subprocess
import sys
from datetime import datetime, timezone


def jfr_tool() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    found = shutil.which("jfr")
    if not found:
        sys.exit("jfr_forks: no `jfr` tool on PATH or under $JAVA_HOME/bin")
    return found


def epoch_s(t: str) -> float:
    """Seconds since the epoch of a JFR UTC timestamp with nanoseconds:
    `2026-01-01T12:00:00.123456789Z`."""
    whole, _, frac = t.rstrip("Z").partition(".")
    return (datetime.fromisoformat(whole).replace(tzinfo=timezone.utc)
            .timestamp() + float("0." + (frac or "0")))


def fork_events(path: str) -> list:
    """(start time in epoch seconds, thread name, command) per
    jdk.ProcessStart, in start order."""
    # the recording's own JAVA_TOOL_OPTIONS must not start another recording
    env = {k: v for k, v in os.environ.items() if k != "JAVA_TOOL_OPTIONS"}
    out = subprocess.run(
        [jfr_tool(), "print", "--json", "--events", "jdk.ProcessStart", path],
        check=True, stdout=subprocess.PIPE, env=env, text=True).stdout
    events = json.loads(out)["recording"]["events"]
    rows = []
    for e in events:
        v = e["values"]
        thread = (v.get("eventThread") or {}).get("javaName") or "?"
        rows.append((epoch_s(v["startTime"]), thread, v.get("command") or ""))
    return sorted(rows)


def program(command: str) -> str:
    """The forked program's base name: `/bin/chmod 644 /x` -> `chmod`."""
    return os.path.basename(command.split(" ", 1)[0]) if command else "?"


def table(title: str, groups: dict, t0: float) -> None:
    print(f"\n{title}")
    print(f"{'forks':>6} {'first_s':>8} {'last_s':>8}  group")
    for key, times in sorted(groups.items(), key=lambda kv: -len(kv[1])):
        label = key if isinstance(key, str) else "  ".join(key)
        print(f"{len(times):6d} {times[0] - t0:8.2f} "
              f"{times[-1] - t0:8.2f}  {label}")


def main(argv: list) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    rows = fork_events(argv[1])
    print(f"{len(rows)} forks in {argv[1]}")
    if not rows:
        return 0
    t0 = rows[0][0]
    by_prog, by_thread, by_both = (collections.defaultdict(list) for _ in range(3))
    for t, thread, cmd in rows:
        by_prog[program(cmd)].append(t)
        by_thread[thread].append(t)
        by_both[(thread, program(cmd))].append(t)
    table("by program", by_prog, t0)
    table("by thread", by_thread, t0)
    table("by thread and program", by_both, t0)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
