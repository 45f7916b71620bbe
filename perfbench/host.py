"""Host readings from /proc: CPU steal and load around each timed repeat
(the noise fingerprint published beside the timings) and the summed
resident memory of this process and all its descendants (the JVM and the
Python workers it forks)."""

from __future__ import annotations

import os
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class NoiseProbe:
    """Steal (in cores) and the 1-minute load average over one repeat."""

    def __init__(self):
        self.j0 = steal_jiffies()
        self.t0 = time.perf_counter()
        self.load_before = load1()

    def finish(self) -> dict:
        wall = max(time.perf_counter() - self.t0, 1e-9)
        return {"steal_cores": (steal_jiffies() - self.j0) / _HZ / wall,
                "load1_before": self.load_before, "load1_after": load1()}


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = pid or os.getpid()
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_rss_mb(pid: int | None = None) -> float:
    """Current resident memory of `pid` and its descendants, in MB."""
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 1e6


class RssPeak:
    """Peak of the summed tree RSS over the samples taken with `sample`."""

    def __init__(self):
        self.peak = 0.0

    def sample(self) -> None:
        self.peak = max(self.peak, tree_rss_mb())


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM it launched and wait until every
    process started under this one (the JVM, the Python worker daemon and
    its workers) has exited; kill any that outlive `timeout`."""
    import signal
    import subprocess

    from pyspark import SparkContext
    started = descendants()[1:]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()       # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)
