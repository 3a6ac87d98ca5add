"""Host fit for the benchmark: which cores a level may use, whether
another Spark JVM would share them, and the memory of a process tree.
Pure /proc reads; no Spark imports."""

from __future__ import annotations

import os
import time


class HostError(RuntimeError):
    """The host cannot run the benchmark as asked."""


def cores_for_level(level: int, allowed: set[int] | None = None) -> list[int]:
    """The first ``level`` cores this process may run on. Refuses a level
    above the cores the affinity mask grants: ``taskset -c 0-7`` on a
    4-core host succeeds, and its "8-core" run would really use 4."""
    allowed = sorted(os.sched_getaffinity(0) if allowed is None else allowed)
    if level < 1:
        raise HostError(f"parallelism level {level} must be at least 1")
    if level > len(allowed):
        raise HostError(f"parallelism level {level} exceeds the "
                        f"{len(allowed)} cores this process may use")
    return allowed[:level]


def _cmdline(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:  # the process ended while we looked
        return ""


def spark_jvms() -> list[int]:
    """PIDs of running Spark driver JVMs (spark-submit launches them)."""
    return [
        int(pid) for pid in os.listdir("/proc")
        if pid.isdigit() and "org.apache.spark.deploy.SparkSubmit" in _cmdline(pid)
    ]


def wait_for_quiet_host(timeout_s: float) -> None:
    """Wait up to ``timeout_s`` for other Spark JVMs to exit; a
    concurrent session on the same cores would skew every timing."""
    deadline = time.monotonic() + timeout_s
    while True:
        pids = spark_jvms()
        if not pids:
            return
        if time.monotonic() >= deadline:
            raise HostError(f"another Spark JVM is running (pids {pids})")
        time.sleep(0.5)


def _stat(pid: str) -> tuple[str, int, int] | None:
    """(state, ppid, pgid) of a process, None once it has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # fields after the parenthesised command: state ppid pgrp ...
    fields = stat[stat.rfind(")") + 2:].split()
    return fields[0], int(fields[1]), int(fields[2])


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                children.setdefault(st[1], []).append(int(pid))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def group_members(pgid: int) -> list[int]:
    """Live (not yet exited) processes of a process group."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None and st[2] == pgid and st[0] != "Z":
                out.append(int(pid))
    return out


def pin_tree(root: int, cores: list[int]) -> None:
    """Pin every thread of ``root``'s process tree to ``cores``; threads
    and processes started later inherit the mask."""
    for pid in process_tree(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:  # ended while we looked
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cores)
            except OSError:
                pass


def cpu_ticks(cores) -> tuple[int, int]:
    """(busy, stolen) clock ticks of ``cores`` since boot, from
    ``/proc/stat``. Busy is user, nice, system, irq and softirq time;
    stolen is time a core was runnable while the hypervisor ran another
    guest. An idle core accrues neither."""
    want = {f"cpu{c}" for c in cores}
    busy = stolen = 0
    with open("/proc/stat") as f:
        for line in f:
            fields = line.split()
            if fields[0] in want:
                v = [int(x) for x in fields[1:9]]
                busy += v[0] + v[1] + v[2] + v[5] + v[6]
                stolen += v[7]
    return busy, stolen


def mark(cores=None) -> tuple[float, int, int]:
    """A point in time for ``elapsed``: the system-wide monotonic clock
    and the busy and stolen ticks of ``cores`` (default: the cores this
    process may run on). Marks taken by different processes on the same
    cores can be compared."""
    cores = os.sched_getaffinity(0) if cores is None else cores
    return (time.monotonic(), *cpu_ticks(cores))


def elapsed(since: tuple[float, int, int],
            until: tuple[float, int, int] | None = None) -> tuple[float, float]:
    """(wall, net) seconds between two marks (``until`` defaults to now).

    On a shared virtual machine the hypervisor takes runnable cores away
    from the guest, and that stolen time stretches a wall interval by the
    share of its CPU demand that was not served. Net time removes it: wall
    × busy / (busy + stolen) over the interval, what it would have taken on
    cores that were not taken away. A serial stretch loses the steal of
    the one core it runs on, a parallel one the average over its cores;
    the ratio covers both because only busy cores accrue steal."""
    until = mark() if until is None else until
    wall = until[0] - since[0]
    busy, stolen = until[1] - since[1], until[2] - since[2]
    if busy <= 0 or stolen <= 0:
        return wall, wall
    return wall, wall * busy / (busy + stolen)


_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


def _age_s(pid: int) -> float | None:
    """Seconds since the process started, None once it has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
    except OSError:
        return None
    started = int(stat[stat.rfind(")") + 2:].split()[19])
    return uptime - started / _TICKS


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root``'s process tree. A process younger
    than a second is skipped: the JVM spawns shell helpers while it
    writes files, and until such a child execs it shares the JVM's
    memory and would count it twice."""
    total = 0
    for pid in process_tree(root):
        age = _age_s(pid)
        if age is None or age < 1.0:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass  # ended between listing and reading
    return total
