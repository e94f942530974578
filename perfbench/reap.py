"""End every process a run starts, and wait for each, before it exits.

A run starts the JVM (through ``spark-submit``), and the JVM starts the
Python worker daemon, which forks a worker per task. When the run's
interpreter exits, the JVM and the daemon only notice the closed pipe
and end on their own some time later, so a run that just exits leaves
them running. ``become_subreaper`` makes every orphaned descendant a
child of the run (not of init), so ``reap`` can find all of them, end
them and wait for each.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): "
                           f"{os.strerror(err)}")


def parent(pid: int) -> int:
    """The parent process id of ``pid``; OSError once it has ended."""
    with open(f"/proc/{pid}/stat", "rb") as fh:
        stat = fh.read()
    # the command name (field 2) may hold spaces and parentheses
    return int(stat[stat.rindex(b")") + 2:].split()[1])


def descendants(pid: int) -> list[int]:
    """Every process below ``pid`` in the process tree, zombies too."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = parent(int(entry))
        except OSError:  # ended while we looked
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _wait_children() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap(grace_s: float = 20.0, kill_s: float = 20.0) -> None:
    """Send SIGTERM to every descendant, SIGKILL to any still there after
    ``grace_s``, and return once none is left; raise if one outlives
    ``kill_s`` more."""
    me = os.getpid()
    t0 = time.monotonic()
    sent: dict[int, signal.Signals] = {}
    while True:
        _wait_children()
        left = descendants(me)
        if not left:
            return
        waited = time.monotonic() - t0
        if waited > grace_s + kill_s:
            raise RuntimeError(f"processes {left} did not end")
        sig = signal.SIGKILL if waited > grace_s else signal.SIGTERM
        for pid in left:
            if sent.get(pid) != sig:
                sent[pid] = sig
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
