"""Process-tree and host readings from ``/proc`` (Linux only).

The tree is the benchmark worker, its JVM, and the JVM's Python daemon and
workers. CPU counts the live processes' own time plus the time of children
they have already reaped (``cutime``/``cstime``), so work by Python workers
that exit during a pass is still counted, and counted once.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name (field 2) may hold spaces; fields resume after ")"
    return s[s.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_hwm_mb(root: int) -> dict[str, float]:
    """Resident high-water mark (``VmHWM``) of each live process in the
    tree, in MB, keyed by ``<pid>:<command name>``."""
    out = {}
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def cpu_times() -> dict[str, int]:
    """Host-wide jiffies from the first line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"busy": sum(v[:3]) + sum(v[5:8]), "steal": v[7] if len(v) > 7 else 0, "total": sum(v[:8])}


def psi_cpu_some_us() -> int | None:
    """Cumulative microseconds some task waited for a CPU, or None."""
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    return int(line.split("total=")[1])
    except (OSError, IndexError, ValueError):
        return None
    return None


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
