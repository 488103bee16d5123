#!/usr/bin/env python3
"""CPU seconds per thread class of a running JVM, read from /proc.

    python3 scripts/thread_cpu.py PID [--interval 0.5] [--seconds N] [--json]

Samples /proc/PID/task/*/stat every --interval seconds until the process
exits or --seconds have passed, keeps each thread's largest user+system
time (so a thread that exits between samples still counts up to its last
sample), and prints the CPU seconds of each thread class with its share.
A thread is classed by the name the JVM gives its native thread (the
kernel keeps the first 15 bytes):

    jit         C1/C2 compiler threads
    executor    Spark executor task threads
    driver      main and the launcher thread
    http        HttpFacade's request pool and the HTTP dispatcher
    gc          garbage collector threads
    scheduler   Spark's scheduler, RPC, shuffle, broadcast and listener threads
    other       anything else (the VM thread, timers, ...)

The script only reads /proc; it attaches nothing to the JVM.
"""
import argparse
import json
import os
import sys
import time

CLASSES = ["jit", "executor", "driver", "http", "gc", "scheduler", "other"]

# (class, name prefixes), tried in order; names are the kernel's 15-byte comm
PREFIXES = [
    ("jit", ("C1 CompilerThre", "C2 CompilerThre", "C1 CompilerThread",
             "C2 CompilerThread", "Sweeper thread")),
    ("executor", ("Executor task l",)),
    ("http", ("pool-", "HTTP-Dispatcher")),
    ("gc", ("GC Thread", "G1 ", "GC ", "ParGC", "ZGC", "Shenandoah")),
    ("scheduler", ("dag-scheduler", "task-result-get", "shuffle-", "dispatcher-",
                   "spark-listener-", "netty-rpc", "rpc-", "block-manager",
                   "map-output-", "driver-heartbea", "executor-heartb",
                   "broadcast-exch", "Spark Context C", "driver-revive",
                   "context-cleaner", "subquery-", "BroadcastStrea")),
]


def classify(name):
    if name in ("main", "java"):
        return "driver"
    for cls, prefixes in PREFIXES:
        if name.startswith(prefixes):
            return cls
    return "other"


def parse_stat(line):
    """(tid, thread name, utime + stime in clock ticks) of one stat line.
    The name sits in parentheses and may itself hold spaces or ')'."""
    tid = int(line[:line.index(" ")])
    name = line[line.index("(") + 1:line.rindex(")")]
    fields = line[line.rindex(")") + 2:].split()
    # fields[0] is the state (stat field 3); utime and stime are fields 14, 15
    return tid, name, int(fields[11]) + int(fields[12])


def sample(pid):
    """{tid: (name, ticks)} of every live thread of `pid`; {} once it exits."""
    out = {}
    base = f"/proc/{pid}/task"
    try:
        tids = os.listdir(base)
    except FileNotFoundError:
        return out
    for t in tids:
        try:
            with open(f"{base}/{t}/stat") as f:
                tid, name, ticks = parse_stat(f.read())
        except (FileNotFoundError, ProcessLookupError, ValueError):
            continue  # the thread exited between the listing and the read
        out[tid] = (name, ticks)
    return out


def merge(seen, snap):
    """Keep each thread's largest tick count across samples."""
    for tid, (name, ticks) in snap.items():
        if tid not in seen or ticks >= seen[tid][1]:
            seen[tid] = (name, ticks)
    return seen


def by_class(seen, hz):
    """{class: CPU seconds} over the threads seen, every class present."""
    out = dict.fromkeys(CLASSES, 0.0)
    for name, ticks in seen.values():
        out[classify(name)] += ticks / hz
    return out


def render(totals):
    total = sum(totals.values())
    lines = [f"{'class':<10} {'cpu_s':>9} {'share':>6}"]
    for cls in CLASSES:
        share = totals[cls] / total if total else 0.0
        lines.append(f"{cls:<10} {totals[cls]:>9.2f} {share:>6.1%}")
    lines.append(f"{'total':<10} {total:>9.2f}")
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("pid", type=int)
    ap.add_argument("--interval", type=float, default=0.5)
    ap.add_argument("--seconds", type=float, default=None,
                    help="stop after this long (default: when the process exits)")
    ap.add_argument("--json", action="store_true", help="print one JSON object")
    a = ap.parse_args(argv)
    hz = os.sysconf("SC_CLK_TCK")
    seen = {}
    end = None if a.seconds is None else time.monotonic() + a.seconds
    while True:
        snap = sample(a.pid)
        if not snap:
            break
        merge(seen, snap)
        if end is not None and time.monotonic() >= end:
            break
        time.sleep(a.interval)
    if not seen:
        print(f"no threads found for pid {a.pid}", file=sys.stderr)
        return 1
    totals = by_class(seen, hz)
    if a.json:
        print(json.dumps({k: round(v, 3) for k, v in totals.items()}))
    else:
        print(render(totals))
    return 0


if __name__ == "__main__":
    sys.exit(main())
