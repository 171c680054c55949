#!/usr/bin/env python3
"""Count the child processes a process starts, by command.

Polls /proc for processes whose parent is the watched process (a JVM,
say) and prints how many it saw, grouped by command name, once the
watched process exits or the time limit passes:

    python3 tools/spawn_watch.py --pid 12345
    python3 tools/spawn_watch.py --match perfbench.Harness --seconds 300

`--match` waits for a process that has the string as one of its
arguments (a JVM's main class, say) and watches the first one found.
The last line of output is one JSON object: `pid`, `children`,
`by_command`, `polls` and `seconds`.

It samples: a child that starts and exits between two polls is missed,
so `children` is a lower bound. A child is keyed by its pid and start
time, and counted under the last command name seen for it (a JVM child
shows as `java` or `jspawnhelper` until it execs its command). Polling
keeps about one core busy, so do not time a run that is being watched.
"""
import argparse
import json
import os
import sys
import time
from collections import Counter


def stat(pid):
    """(ppid, comm, starttime) of a process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except OSError:
        return None
    # comm may hold spaces and parentheses: it ends at the last ')'
    head, _, rest = raw.rpartition(")")
    comm = head.split("(", 1)[1]
    fields = rest.split()
    return int(fields[1]), comm, fields[19]


def argv(pid):
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().decode("utf-8", "replace").split("\0")
    except OSError:
        return []


def find(match, timeout_s):
    me = str(os.getpid())
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        for name in os.listdir("/proc"):
            if name.isdigit() and name != me and match in argv(name):
                return int(name)
        time.sleep(0.05)
    return None


def watch(pid, seconds):
    """Poll back to back until `pid` exits or `seconds` pass; count its
    children."""
    seen = {}  # (child pid, start time) -> last command name
    polls = 0
    start = time.monotonic()
    target = str(pid)
    while os.path.exists(f"/proc/{pid}") and time.monotonic() - start < seconds:
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            s = stat(name)
            if s is not None and str(s[0]) == target:
                seen[(name, s[2])] = s[1]
        polls += 1
    return seen, polls, time.monotonic() - start


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    who = ap.add_mutually_exclusive_group(required=True)
    who.add_argument("--pid", type=int, help="process to watch")
    who.add_argument("--match", help="watch the first process with this as one of its arguments")
    ap.add_argument("--seconds", type=float, default=3600, help="stop after this long")
    ap.add_argument("--wait", type=float, default=600,
                    help="with --match, how long to wait for the process to appear")
    args = ap.parse_args()

    pid = args.pid if args.pid is not None else find(args.match, args.wait)
    if pid is None:
        print(f"no process matching {args.match!r} appeared", file=sys.stderr)
        return 1
    print(f"watching pid {pid}: {' '.join(argv(pid))[:120]}", file=sys.stderr)
    seen, polls, elapsed = watch(pid, args.seconds)
    by_command = Counter(seen.values())
    print(json.dumps({"pid": pid, "children": len(seen),
                      "by_command": dict(by_command.most_common()),
                      "polls": polls, "seconds": round(elapsed, 1)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
