"""Stopping every process a run started.

``SparkSession.stop()`` stops the SparkContext but leaves its JVM
running until the Python interpreter exits, and the JVM's Python
workers (``pyspark.daemon`` and the processes it forks) with it; once
the interpreter has gone, they wind down on their own, after it. A run
must not leave anything behind that a later run could use, so
:func:`stop_all` ends them all itself and waits until each has ended.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time


def _stat(pid: int) -> tuple[int, str, str] | None:
    """(ppid, start time in ticks, state) of ``pid``, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), fields[19], fields[0]


def descendants() -> dict[int, str]:
    """pid -> start time of every live process under this one."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            table[int(name)] = st
    found: dict[int, str] = {}
    frontier = [os.getpid()]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, start, _) in table.items():
            if ppid == parent and pid not in found:
                found[pid] = start
                frontier.append(pid)
    return found


def _alive(pid: int, start: str) -> bool:
    """Same process (the pid was not reused) and not yet a zombie."""
    st = _stat(pid)
    return st is not None and st[1] == start and st[2] != "Z"


def _signal_and_wait(procs: dict[int, str], sig: int,
                     timeout_s: float) -> dict[int, str]:
    """Send ``sig`` to the live ones; return those still alive after
    ``timeout_s``."""
    for pid, start in procs.items():
        if _alive(pid, start):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + timeout_s
    while True:
        live = {p: s for p, s in procs.items() if _alive(p, s)}
        if not live or time.monotonic() > deadline:
            return live
        time.sleep(0.05)


def stop_all(timeout_s: float = 30.0) -> list[int]:
    """Stop the Spark JVM of this process, if one was launched, and
    every other process under this one; wait until each has ended.
    Returns the pids that had to be killed (empty on a clean stop)."""
    procs = descendants()
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark else None
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the JVM exits (running its shutdown hooks) at EOF on stdin
            proc.stdin.close()
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        pyspark.SparkContext._gateway = None
        pyspark.SparkContext._jvm = None
    # what the JVM forked exits at EOF from it; give it a moment first
    live = _signal_and_wait(procs, 0, 5.0)
    live = _signal_and_wait(live, signal.SIGTERM, timeout_s)
    killed = list(live)
    live = _signal_and_wait(live, signal.SIGKILL, timeout_s)
    if live:
        raise RuntimeError(f"processes {sorted(live)} outlived SIGKILL")
    # reap any direct children that ended (their zombies count as gone)
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                break
        except ChildProcessError:
            break
    return killed
