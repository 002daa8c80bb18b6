"""Process-tree readings from ``/proc`` (psutil is not available).

The benchmark process is the root of the tree it measures: the Spark
JVM is its child and the Python workers are forked below the JVM, so
"descendants of this process" is exactly the job's footprint.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm (field 2) may hold spaces and parentheses: split after it
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live process below ``root`` (default: self)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and all descendants, including
    children they have already reaped (``cutime``/``cstime``)."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def python_worker_peak_rss_mb() -> float:
    """Largest peak RSS (``VmHWM``) of any PySpark Python worker."""
    peaks = [_vm_hwm_kb(p) for p in descendants()
             if "pyspark.daemon" in _cmdline(p)
             or "pyspark.worker" in _cmdline(p)]
    return max(peaks, default=0) / 1024.0


def tree_bytes(path: str) -> int:
    """Bytes of all regular files under ``path`` (0 if absent)."""
    total = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(dirpath, name)
            if os.path.isfile(full) and not os.path.islink(full):
                total += os.path.getsize(full)
    return total


def reap_descendants(timeout_s: float = 30.0) -> None:
    """Wait for every descendant to exit; SIGKILL what outlives the
    timeout, then wait for those too."""
    deadline = time.monotonic() + timeout_s
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10.0
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
