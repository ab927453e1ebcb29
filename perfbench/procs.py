"""The lifetime of the processes a run starts: the JVM that pyspark
launches, its Python daemon and the daemon's forked workers.

The run makes itself the subreaper of its process tree, so a worker
orphaned by the JVM's exit becomes its child rather than init's, and at
the end it stops the JVM and waits until every descendant has ended.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt the orphans of this process's tree (Linux); also turn SIGTERM
    into an exit that runs the caller's ``finally`` blocks."""
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0):
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))


def proc_table() -> dict:
    """{pid: (parent pid, state)} of every process in ``/proc``."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we looked
        fields = stat.rsplit(")", 1)[1].split()
        table[int(name)] = (int(fields[1]), fields[0])
    return table


def descendants(root: int, table=None) -> set:
    """Pids below ``root`` in the process tree, zombies included."""
    table = proc_table() if table is None else table
    out = set()
    for pid in table:
        p = pid
        while p in table and p != root:
            p = table[p][0]
        if p == root and pid != root:
            out.add(pid)
    return out


def _reap() -> None:
    """Collect the exit status of every ended child."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_jvm() -> None:
    """Stop the active SparkContext and close the JVM's stdin; pyspark's
    gateway server exits when its stdin closes."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None and not proc.stdin.closed:
        proc.stdin.close()
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_all(grace_s: float = 30.0) -> bool:
    """Stop the JVM, then wait until this process has no descendant left,
    reaping each one that is (or becomes) its child. Descendants still
    there after ``grace_s`` get SIGTERM, and SIGKILL ten seconds later.
    Returns whether all of them ended."""
    me = os.getpid()
    try:
        stop_jvm()
    finally:
        t_term = time.monotonic() + grace_s
        t_kill = t_term + 10.0
        t_give_up = t_kill + 10.0
        sent = None
        while True:
            _reap()
            table = proc_table()
            # a zombie below a live descendant has ended; its parent reaps it
            left = {
                p for p in descendants(me, table) if table[p][1] != "Z" or table[p][0] == me
            }
            if not left:
                return True
            now = time.monotonic()
            if now > t_give_up:
                print(f"perfbench: processes {sorted(left)} did not end", file=sys.stderr)
                return False
            sig = signal.SIGKILL if now > t_kill else signal.SIGTERM if now > t_term else None
            if sig is not None and sig != sent:
                for pid in left:
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
                sent = sig
            time.sleep(0.05)
