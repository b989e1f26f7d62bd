#!/usr/bin/env python
"""CPU seconds per JVM thread class for the ``java`` processes a command
starts.

Usage: python tools/jvm_threads.py -- <command ...>

Runs the command and, every 0.5 s until it exits, reads
``/proc/<pid>/task/<tid>/stat`` of every ``java`` process below it, keeping
each thread's last ``utime + stime``.  A thread's CPU after its last sample
(at most 0.5 s) is not counted.  When the command exits, CPU seconds per
class go to stderr (the command's own stdout is left as it was):

    jit.c2   C2 compiler threads          jit.c1   C1 compiler threads
    gc       GC threads                   tasks    Spark executor task threads
    driver   py4j ``Thread-N`` and ``dag-scheduler`` threads
    other    everything else

The Spark event log reports task CPU only; JIT compilers, GC and the driver
are visible here alone.  Linux only.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import time

POLL_S = 0.5
CLASSES = ("jit.c2", "jit.c1", "gc", "tasks", "driver", "other")
_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
# /proc truncates thread names to 15 characters: "C2 CompilerThre",
# "Executor task l", "dag-scheduler-e"
_RULES = (
    ("jit.c2", re.compile(r"C2 CompilerThre")),
    ("jit.c1", re.compile(r"C1 CompilerThre")),
    ("gc", re.compile(r"GC Thread|G1 ")),
    ("tasks", re.compile(r"Executor task")),
    ("driver", re.compile(r"Thread-\d+$|dag-scheduler")),
)


def classify(name: str) -> str:
    for cls, pattern in _RULES:
        if pattern.match(name):
            return cls
    return "other"


def parse_stat(text: str) -> tuple[str, float]:
    """(thread name, utime + stime in seconds) from a ``stat`` line.  The
    name sits in parentheses and may itself hold spaces and parentheses, so
    the fields are split after its LAST closing parenthesis."""
    name = text[text.index("(") + 1 : text.rindex(")")]
    fields = text[text.rindex(")") + 2 :].split()
    # fields[0] is stat field 3 (state); utime and stime are fields 14, 15
    return name, (int(fields[11]) + int(fields[12])) * _TICK_S


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process or thread is gone
        return None


def _java_below(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (stat := _read(f"/proc/{entry}/stat")):
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [root]
    while todo:
        pid = todo.pop()
        if (_read(f"/proc/{pid}/comm") or "").strip() == "java":
            found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def _sample(root: int, last: dict[tuple[int, int], tuple[str, float]]) -> None:
    for pid in _java_below(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            if stat := _read(f"/proc/{pid}/task/{tid}/stat"):
                last[(pid, int(tid))] = parse_stat(stat)


def by_class(last: dict[tuple[int, int], tuple[str, float]]) -> dict[str, float]:
    totals = dict.fromkeys(CLASSES, 0.0)
    for name, cpu_s in last.values():
        totals[classify(name)] += cpu_s
    return totals


def main(argv: list[str]) -> int:
    if not argv or argv[0] != "--" or len(argv) < 2:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    proc = subprocess.Popen(argv[1:])
    last: dict[tuple[int, int], tuple[str, float]] = {}
    while proc.poll() is None:
        _sample(proc.pid, last)
        time.sleep(POLL_S)
    totals = by_class(last)
    for cls in CLASSES:
        print(f"{cls:8s} {totals[cls]:8.1f} s", file=sys.stderr)
    print(f"{'total':8s} {sum(totals.values()):8.1f} s", file=sys.stderr)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
