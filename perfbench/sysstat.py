"""Process-tree CPU and memory, and host steal, read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the tree: user + system of every live process, plus
    what each has collected from children it already reaped."""
    total = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_split(root: int) -> dict[str, float]:
    """RSS in MB of each live process of the tree, keyed ``pid:comm``.

    A JVM starts helpers by forking itself; until the child execs, it
    reports the parent's whole RSS. Such a child (same executable as its
    parent) is skipped, or a momentary fork would double the total."""
    procs = {}
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        procs[pid] = (int(f[1]), exe, comm, int(f[21]) * _PAGE / 2**20)
    return {f"{pid}:{comm}": rss for pid, (ppid, exe, comm, rss) in procs.items()
            if not (ppid in procs and procs[ppid][1] == exe and exe.endswith("/java"))}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])
