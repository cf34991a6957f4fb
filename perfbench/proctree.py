"""The benchmark's process tree: its CPU time, and stopping it.

The tree is the benchmark's Python driver, the JVM that PySpark launched
under it and the Python workers that the JVM forks. A process that exits
and is reaped inside a window still counts: its time moves into its
parent's ``cutime``/``cstime``, which :func:`tree_cpu_s` sums too.

A JVM whose driver has exited lingers for a few seconds before it
notices, so a run adopts its orphaned descendants (:func:`adopt_orphans`)
and ends every one of them before it exits (:func:`end_tree`).
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ")"
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat, counted from the state field
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make descendants whose parent dies children of this process (Linux)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_tree(grace_s: float = 15.0) -> None:
    """Signal every descendant to end and reap each; return when none is left.

    SIGTERM first, SIGKILL to whatever is left after ``grace_s``. With
    :func:`adopt_orphans` in force every descendant ends up as a child of
    this process, so ``waitpid`` failing with ECHILD means none is left.
    """
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 60.0)):
        for pid in tree_pids()[1:]:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                time.sleep(0.05)
    raise RuntimeError(f"processes still running: {tree_pids()[1:]}")
