"""Process-tree hygiene from /proc: find, measure and kill descendants.

The harness makes itself a child subreaper, so a descendant whose parent
dies (Spark's ``pyspark.daemon`` moves itself into its own process group,
and the JVM outlives a killed driver for a moment) is re-parented to the
harness instead of to init.  Everything the run started therefore stays
visible here until it is reaped.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def become_subreaper() -> None:
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _stat(pid: int) -> tuple[int, str] | None:
    """(ppid, state) of ``pid``, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), fields[0]


def descendants(root: int, zombies: bool = False) -> list[int]:
    """Descendants of ``root``; zombies only if ``zombies``.  A process
    whose main thread has exited shows as a zombie while its other threads
    (a JVM's) are still being torn down, so waiting for a tree to end must
    count zombies until they are reaped."""
    children: dict[int, list[int]] = {}
    states: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
                states[int(name)] = st[1]
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return [p for p in out if zombies or states.get(p) != "Z"]


def describe(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode(errors="replace").strip()
    except OSError:
        cmd = "?"
    return f"{pid}: {cmd[:160]}"


def rss_mb(pids: list[int]) -> dict[str, float]:
    """Resident set size of ``pids`` summed per command name (``java``,
    ``python3``, ...).  Read from ``statm``, which costs microseconds;
    ``smaps_rollup`` (for PSS) walks the page tables and takes tens of ms
    per read on a multi-GB JVM.

    A child forked but not yet exec'd (the JVM spawning a helper) still
    carries its parent's thread name and pages; it is skipped, or the
    JVM would be counted twice."""
    out: dict[str, float] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0].decode(errors="replace")
            with open(f"/proc/{pid}/statm") as f:
                mb = int(f.read().split()[1]) * _PAGE_KB / 1024.0
        except (OSError, IndexError, ValueError):
            continue
        if os.path.basename(argv0)[:15] != comm:
            continue
        out[comm] = out.get(comm, 0.0) + mb
    return out


def reap() -> None:
    """Collect every exited child (orphans adopted as subreaper included)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_tree(root: int, also: int | None = None) -> None:
    """SIGKILL ``also`` (a process group) and every descendant of ``root``."""
    if also is not None:
        try:
            os.killpg(also, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
    for _ in range(200):
        reap()
        pids = descendants(root, zombies=True)
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        reap()
        time.sleep(0.05)
    reap()


def wait_for_exit(root: int, grace_s: float) -> list[int]:
    """Wait up to ``grace_s`` for descendants of ``root`` to exit on their
    own; return the ones still alive."""
    deadline = time.monotonic() + grace_s
    while True:
        reap()
        pids = descendants(root, zombies=True)
        if not pids or time.monotonic() >= deadline:
            return pids
        time.sleep(0.05)
