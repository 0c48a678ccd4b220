"""The benchmark's process tree: peak resident memory and clean shutdown.

The tree is this Python driver, the JVM it launched and the JVM's Python
workers. Linux keeps each process's peak resident set as ``VmHWM``;
writing ``5`` to ``/proc/<pid>/clear_refs`` resets it, so a run's peak
is read as the sum of the tree's ``VmHWM`` after a reset at its start.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree() -> list[int]:
    return [os.getpid(), *descendants(os.getpid())]


def reset_peaks() -> None:
    for pid in tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w", encoding="utf-8") as f:
                f.write("5")
        except OSError:
            pass  # process already gone


def peak_rss_mb() -> float:
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, close the JVM's stdin so it exits, and wait
    until every process the session started has ended."""
    started = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.2)
    for p in started:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in started):
        time.sleep(0.1)
