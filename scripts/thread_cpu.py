#!/usr/bin/env python3
"""Per-thread-group CPU seconds of a running engine JVM, read from /proc.

Polls /proc/<pid>/task/*/stat and reports how many CPU seconds (user +
system) each thread group used between two instants: the end of
`--delay` and `--seconds` later, or the process's exit. Polling keeps
the last reading of every thread, so a thread that exits inside the
window loses at most one `--interval` of its time.

Groups come from the thread name (the kernel keeps its first 15 chars):
  compiler   JIT compiler threads (C1/C2 CompilerThread)
  gc         GC and VM threads (GC Thread#, G1 *, VM Thread)
  executor   Spark task threads (Executor task launch worker ...)
  stream     stream execution threads (one per streaming query)
  source     graft-socket reader threads (one per device)
  other      everything else

Only reads /proc; it never signals or attaches to the process.

Usage:
  python3 scripts/thread_cpu.py PID [--delay S] [--seconds S]
      [--interval S] [--top N]
Prints one JSON line: window wall seconds, CPU seconds per group, and
the top N threads by CPU seconds.
"""
import argparse
import json
import os
import sys
import time

GROUPS = [
    ("compiler", ("C1 CompilerThre", "C2 CompilerThre")),
    ("gc", ("GC Thread", "G1 ", "VM Thread", "VM Periodic")),
    ("executor", ("Executor task l",)),
    ("stream", ("stream executio",)),
    ("source", ("graft-socket-",)),
]
TICK = os.sysconf("SC_CLK_TCK")


def group_of(name):
    for group, prefixes in GROUPS:
        if name.startswith(prefixes):
            return group
    return "other"


def sample(pid):
    """{tid: (name, cpu seconds)} for every live thread of `pid`."""
    out = {}
    task = f"/proc/{pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # the thread exited between listdir and open
            continue
        # "tid (comm) state ...": comm may hold spaces or parens
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        out[tid] = (name, (int(fields[11]) + int(fields[12])) / TICK)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("pid", type=int)
    ap.add_argument("--delay", type=float, default=0.0,
                    help="seconds to wait before the window opens")
    ap.add_argument("--seconds", type=float, default=None,
                    help="window length (default: until the process exits)")
    ap.add_argument("--interval", type=float, default=0.5)
    ap.add_argument("--top", type=int, default=5)
    args = ap.parse_args()

    time.sleep(args.delay)
    try:
        start = sample(args.pid)
    except FileNotFoundError:
        sys.exit(f"no process {args.pid}")
    t0 = time.monotonic()
    last = dict(start)
    while args.seconds is None or time.monotonic() - t0 < args.seconds:
        time.sleep(args.interval)
        try:
            last.update(sample(args.pid))
        except FileNotFoundError:  # the process exited: close the window
            break
    wall = time.monotonic() - t0

    used = {tid: (name, cpu - start.get(tid, (name, 0.0))[1])
            for tid, (name, cpu) in last.items()}
    groups = {g: 0.0 for g, _ in GROUPS}
    groups["other"] = 0.0
    for name, cpu in used.values():
        groups[group_of(name)] += cpu
    top = sorted(used.values(), key=lambda t: -t[1])[:args.top]
    print(json.dumps({
        "pid": args.pid,
        "wall_s": round(wall, 2),
        "cpu_s": round(sum(groups.values()), 2),
        "groups_s": {g: round(s, 2) for g, s in groups.items()},
        "top_threads": [[n, round(s, 2)] for n, s in top],
    }))


if __name__ == "__main__":
    main()
