"""Process-tree peak memory and process age from ``/proc``, and a clean stop
of the Spark JVM."""

from __future__ import annotations

import os
import time


def _children() -> dict[int, list[int]]:
    """Live processes by parent pid."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children = _children()
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def driver_peak_rss_bytes(root: int) -> int:
    """Sum over the driver, ``root`` and the JVM it started (its children),
    of each process's high-water RSS (``VmHWM``), which the kernel keeps: no
    sampling thread competes with the measured work for the GIL or a core.

    The JVM's Python workers are left out. How many of them a pass forks
    depends on task timing, and counting them made dedup runs of the same
    code read 968 or 1075 MB."""
    total = 0
    for pid in [root, *_children().get(root, ())]:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


def process_age_s() -> float:
    """Seconds since this process started, from its start time in
    ``/proc/self/stat`` (clock ticks since boot, 10 ms resolution)."""
    with open("/proc/self/stat", encoding="ascii", errors="replace") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait for every process started below this one.

    ``spark.stop()`` alone leaves the gateway JVM running: it is still
    listed after the Python process has exited, and would overlap the next
    run. Closing its stdin makes it exit; its Python workers follow."""
    from pyspark import SparkContext

    started = descendants(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout_s)
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline and any(map(_alive, started)):
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    """Whether ``pid`` still runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False
