"""Process bookkeeping: the benchmark ends every process it starts.

PySpark starts the Spark JVM as a child process, and the JVM starts Python
workers and, on its way out, helpers that delete its scratch directories.
The JVM only exits when it reads EOF on its stdin, that is after the
Python driver has gone, so without help it outlives the benchmark and
could serve the next run. :func:`adopt_orphans` makes this process the
reaper of its whole tree (orphaned grandchildren come back to it instead
of to init) and :func:`stop_all` ends the JVM and every other descendant
and waits until each has ended.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

_PR_SET_CHILD_SUBREAPER = 36
#: Seconds leftover processes get to end on their own (the JVM's shutdown
#: hooks delete its scratch directories), then seconds from SIGTERM to SIGKILL.
PATIENCE_S = 10.0
GRACE_S = 10.0


def adopt_orphans() -> None:
    """Have orphaned descendants re-parented to this process (Linux)."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def children_map() -> dict[int, list[int]]:
    """Parent pid -> child pids, for every process in /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants() -> list[int]:
    """Every descendant of this process that has not been reaped."""
    kids = children_map()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(sig: int) -> None:
    for pid in descendants():
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _close_spark_gateway(timeout: float) -> None:
    """Let the Spark JVM exit the way PySpark means it to (EOF on stdin,
    which runs its shutdown hooks) and wait for it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is None:
        return
    try:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=timeout)
    except Exception:  # noqa: BLE001 - force it below
        proc.kill()
        proc.wait()


def stop_all() -> None:
    """End every descendant of this process and wait until each has ended:
    first the Spark JVM, then whatever is left (Python workers, the JVM's
    clean-up helpers), with SIGTERM after ``PATIENCE_S`` and SIGKILL after
    ``GRACE_S`` more."""
    try:
        _close_spark_gateway(PATIENCE_S + GRACE_S)
    except Exception:  # noqa: BLE001 - the sweep below still ends it
        pass
    start = time.monotonic()
    while True:
        _reap()
        if not descendants():
            return
        waited = time.monotonic() - start
        if waited > PATIENCE_S + GRACE_S:
            _signal_all(signal.SIGKILL)
        elif waited > PATIENCE_S:
            _signal_all(signal.SIGTERM)
        time.sleep(0.05)
