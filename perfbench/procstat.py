"""CPU and memory of the benchmark's process tree, read from /proc.

The tree is the driver process, the JVM it launched and the JVM's
``pyspark.daemon`` Python workers.  A process's CPU counts its own utime and
stime plus those of its reaped children (cutime, cstime), so summing all
four over the live tree counts every process that ran exactly once, whether
it is still alive or has already been reaped.  Memory is each live
process's peak RSS (VmHWM) since it was reset before the op, summed, so
nothing samples the tree while an op runs.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name (field 2) may hold spaces: split after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """The root pid and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime + cutime + cstime summed over the pids."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def reset_peak_rss(pids: list[int]) -> None:
    """Reset each process's peak RSS (VmHWM) to its current RSS.  A process
    whose peak cannot be reset keeps reporting its lifetime peak."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_bytes(pids: list[int]) -> int:
    """Each process's peak RSS (VmHWM) since its last reset, summed."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over the cores
    since boot (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _running(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def wait_ended(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until none of the pids is running (an unreaped zombie has
    ended); kill the ones still running at the timeout."""
    for sig in (None, signal.SIGKILL):
        for p in pids:
            if sig is not None and _running(p):
                os.kill(p, sig)
        deadline = time.monotonic() + timeout_s
        while any(_running(p) for p in pids):
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
        else:
            return
    raise RuntimeError(f"processes still running: "
                       f"{[p for p in pids if _running(p)]}")


def _is_py_worker(pid: int) -> bool:
    """A process started as ``python -m pyspark.<module>``; the JVM's own
    command line names pyspark too, in its classpath."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            args = f.read().split(b"\0")
    except OSError:
        return False
    return any(a == b"-m" and b.startswith(b"pyspark.")
               for a, b in zip(args, args[1:]))


def py_worker_cpu_seconds(root: int) -> float:
    """CPU of the Python worker processes (``pyspark.daemon`` and the
    workers it forks) under the root."""
    return cpu_seconds([p for p in tree(root) if p != root and _is_py_worker(p)])
