"""Whole-process-tree accounting from /proc (Linux only, no psutil).

A sample runs as the leader of its own session, so "the tree" is every
process whose session id is the sample's pid: the Python driver, the JVM it
launches and the PySpark worker daemon with its forked workers (the daemon
moves itself into its own process group, but never out of the session, and
orphans reparented to init keep their session id too).
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1 << 20


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, so that index 0 is
    the state; None when the process has gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(b")") + 2:].decode().split()


def session_stats(sid: int) -> dict[int, list[str]]:
    """pid -> stat fields of every live process in session ``sid``."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and int(st[3]) == sid:
                out[int(name)] = st
    return out


def cpu_s(stats: dict[int, list[str]]) -> float:
    """User + system CPU of the processes, plus that of their children they
    have already reaped (the worker daemon reaps each forked worker)."""
    return sum(int(s[11]) + int(s[12]) + int(s[13]) + int(s[14])
               for s in stats.values()) / CLK_TCK


def rss_mb(stats: dict[int, list[str]]) -> float:
    pages = 0
    for s in stats.values():
        parent = stats.get(int(s[1]))
        # A child that vfork() made (the JVM starting the Python worker
        # daemon) shares its parent's address space until it execs: same
        # size, same resident pages. Counting it would double the JVM.
        if parent is not None and parent[20] == s[20] and parent[21] == s[21]:
            continue
        pages += int(s[21])
    return pages * PAGE / MB


def shm_used_mb(path: str = "/dev/shm") -> float:
    try:
        st = os.statvfs(path)
    except OSError:
        return 0.0
    return (st.f_blocks - st.f_bfree) * st.f_frsize / MB


def dir_mb(path: str) -> float:
    total = 0
    stack = [path]
    while stack:
        try:
            with os.scandir(stack.pop()) as it:
                for e in it:
                    try:
                        if e.is_dir(follow_symlinks=False):
                            stack.append(e.path)
                        else:
                            total += e.stat(follow_symlinks=False).st_size
                    except OSError:
                        pass  # removed while walking
        except OSError:
            pass
    return total / MB


def steal_s() -> float:
    """Host CPU steal time so far, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
