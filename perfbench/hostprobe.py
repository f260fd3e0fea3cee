"""Host-side measurement helpers: CPU calibration, ambient CPU, the
process tree's resident memory, and clean shutdown of the Spark JVM.

Everything here reads /proc (Linux only) and the interpreter's own
clock; nothing touches the engine.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


class ProcessClock:
    """Seconds since this process started. /proc gives the age at 10 ms
    resolution once; the monotonic clock extends it from there."""

    def __init__(self) -> None:
        with open("/proc/self/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        self._t0 = time.perf_counter()
        # field 22 of stat (starttime) is index 19 after the comm field
        self._age0 = uptime - int(fields[19]) / CLK_TCK

    def age_s(self) -> float:
        return self._age0 + (time.perf_counter() - self._t0)


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_cpu_ticks(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[11]) + int(f[12])  # utime + stime
    return total


def _machine_busy_ticks() -> int:
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()[1:]
    # user nice system idle iowait irq softirq steal
    return sum(int(cpu[i]) for i in (0, 1, 2, 5, 6, 7))


CALIB_ITERS = 2_000_000


def _loop_seconds(n: int = CALIB_ITERS) -> float:
    t = time.perf_counter()
    s = 0
    for i in range(n):
        s += i
    return time.perf_counter() - t


_ALL_CPUS_PROBE = f"""
import sys, time
print("ready", flush=True)
sys.stdin.read()
t = time.perf_counter()
s = 0
for i in range({CALIB_ITERS}):
    s += i
print(time.perf_counter() - t)
"""


def _all_cpus_miter_s(n: int) -> float:
    """One loop per CPU in ``n`` interpreters released together once all
    are up; the sum of their rates."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _ALL_CPUS_PROBE],
                         stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        for _ in range(n)
    ]
    for p in procs:
        p.stdout.readline()
    for p in procs:
        p.stdin.close()
    rates = [CALIB_ITERS / 1e6 / float(p.stdout.read()) for p in procs]
    for p in procs:
        p.stdout.close()
        p.wait()
    return sum(rates)


def calibrate() -> dict[str, float]:
    """Host speed in million loop iterations per second: one thread
    (best of three), and all CPUs at once (one loop per CPU, in
    separate processes). Also the ambient CPU other processes used
    during the single-thread probe, in cores. The host clock is
    bimodal, so every run records these at its start and its end."""
    pids = tree_pids()
    busy0, self0, wall0 = _machine_busy_ticks(), _tree_cpu_ticks(pids), time.perf_counter()
    best = min(_loop_seconds() for _ in range(3))
    wall = time.perf_counter() - wall0
    other = (_machine_busy_ticks() - busy0) - (_tree_cpu_ticks(pids) - self0)
    return {
        "calib_miter_s": CALIB_ITERS / 1e6 / best,
        "calib_all_cpus_miter_s": _all_cpus_miter_s(len(os.sched_getaffinity(0))),
        "ambient_cpus": max(0.0, other / CLK_TCK / wall),
    }


class RssSampler:
    """Peak RSS of this process tree (Python driver, JVM, Python
    workers), summed and per role, sampled from a background thread;
    plus each long-lived process's own high-water mark (VmHWM)."""

    ROLES = ("driver", "jvm", "workers")

    def __init__(self, interval_s: float = 0.25) -> None:
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_kb = 0
        self.role_peak_kb = dict.fromkeys(self.ROLES, 0)
        self.hwm_kb = dict.fromkeys(("driver", "jvm"), 0)

    def _role(self, pid: int) -> str:
        if pid == os.getpid():
            return "driver"
        try:
            with open(f"/proc/{pid}/comm") as fh:
                return "jvm" if fh.read().strip() == "java" else "workers"
        except OSError:
            return "workers"

    def _sample(self) -> None:
        by_role = dict.fromkeys(self.ROLES, 0)
        for pid in tree_pids():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    kb = int(fh.read().split()[1]) * PAGE_KB
            except (OSError, IndexError):
                continue
            role = self._role(pid)
            by_role[role] += kb
            if role in self.hwm_kb:
                self.hwm_kb[role] = max(self.hwm_kb[role], _hwm_kb(pid))
        self.peak_kb = max(self.peak_kb, sum(by_role.values()))
        for role, kb in by_role.items():
            self.role_peak_kb[role] = max(self.role_peak_kb[role], kb)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def shutdown_spark(spark) -> None:
    """Stop the session, end the JVM it launched, and wait until every
    process the session started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = tree_pids(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_until_gone(spawned)


def _alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def wait_until_gone(pids: list[int], grace_s: float = 30.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives ``grace_s``."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} survived SIGKILL")
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 5
        time.sleep(0.05)
