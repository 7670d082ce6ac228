"""Host facts for the benchmark: core count, the load gate, the RSS sampler
and process teardown.  Everything is read from ``/proc`` (``psutil`` is not
a dependency of the engine)."""

from __future__ import annotations

import os
import platform
import signal
import threading
import time

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_busy_share(interval: float = 0.5) -> float:
    """Share of all CPUs busy over ``interval`` seconds."""
    before = cpu_times()
    time.sleep(interval)
    delta = [b - a for a, b in zip(before, cpu_times())]
    return 1.0 - (delta[3] + delta[4]) / max(sum(delta), 1)  # idle, iowait


def load_stamp() -> dict:
    l1, l5, l15 = os.getloadavg()
    return {"load1": round(l1, 2), "load5": round(l5, 2),
            "load15": round(l15, 2), "busy": round(cpu_busy_share(), 3)}


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def wait_for_quiet(cores: int, bound_s: float) -> dict:
    """Wait up to ``bound_s`` seconds until the host is quiet, and stamp it.

    Quiet means the 1-min load is below half the cores, or the CPUs are
    less than half busy right now.  The second test exists because the
    1-min average lags by about a minute: straight after a previous run it
    still reads high although nothing is running any more."""
    before = load_stamp()
    t0 = time.monotonic()
    stamp = before
    while True:
        quiet = stamp["load1"] < 0.5 * cores or stamp["busy"] < 0.5
        if quiet or time.monotonic() - t0 >= bound_s:
            break
        time.sleep(1.0)
        stamp = load_stamp()
    return {"before": before, "after": stamp, "quiet": quiet,
            "waited_s": round(time.monotonic() - t0, 2)}


def host_facts() -> dict:
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": nproc(), "cpu_model": model,
            "mem_gb": round(mem_kb / 1048576, 1),
            "python": platform.python_version()}


def descendants() -> list[int]:
    """Pids of every descendant of this process."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after it are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total_kb += int(f.read().split()[1]) * _PAGE_KB
        except (OSError, IndexError, ValueError):
            continue                       # the process ended meanwhile
    return total_kb / 1024.0


class RssSampler:
    """Background sampler of the summed RSS of this process's descendants
    (the JVM and its Python workers); ``reset`` starts a new peak."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            mb = rss_mb(descendants())
            with self._lock:
                self.peak_mb = max(self.peak_mb, mb)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = 0.0

    def peak(self) -> float:
        with self._lock:
            return self.peak_mb

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_spark(timeout_s: float = 30.0) -> None:
    """Stop the active Spark context, end the JVM and wait until every
    process it started (JVM, Python daemon and workers) has exited.  The
    next ``getOrCreate`` in this process then launches a fresh JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    gateway = SparkContext._gateway
    started = descendants()
    try:
        session = SparkSession.getActiveSession()
        if session is not None:
            session.stop()
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        # a later context must not reuse the dead gateway
        SparkContext._gateway = None
        SparkContext._jvm = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                # the JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=timeout_s)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=timeout_s)
    # workers orphaned by the JVM's exit are no longer our descendants,
    # so wait on the pids recorded before the stop
    wait_gone(started + descendants(), timeout_s)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL what is left after the timeout."""
    deadline = time.monotonic() + timeout_s
    while any(map(_alive, pids)) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in filter(_alive, pids):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(map(_alive, pids)) and time.monotonic() < deadline:
        time.sleep(0.1)
