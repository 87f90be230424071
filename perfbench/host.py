"""Host hygiene for one benchmark process: CPU pinning, refusing to run
beside another benchmark, peak-RSS sampling of the process tree, and
capturing the JVM's log output."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

# Scripts whose runs interleave and corrupt each other's timings.
BENCH_SCRIPTS = ("bench.py", os.path.join("perfbench", "run.py"))


def pin_cores(n: int) -> list[int]:
    """Pin this process (and so the JVM and Python workers it starts) to
    the first ``n`` of the cores it may use."""
    cores = sorted(os.sched_getaffinity(0))[:n]
    os.sched_setaffinity(0, cores)
    return cores


def steal_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the whole machine so far. Steal is time
    a virtual CPU was ready to run but the hypervisor ran another guest;
    on a shared VM it slows every wall-clock figure of the run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(since: tuple[int, int]) -> float:
    """Share of the machine's CPU time stolen since ``since`` (steal_ticks())."""
    steal, total = (b - a for a, b in zip(since, steal_ticks()))
    return steal / total if total > 0 else 0.0


def _ancestors() -> set[int]:
    pids, pid = set(), os.getpid()
    while pid > 1:
        pids.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            break
    return pids


def other_benchmarks() -> list[str]:
    """Command lines of other running Python processes whose script is a
    benchmark (ours or ``bench.py``)."""
    mine = _ancestors()
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                argv = [a.decode(errors="replace") for a in f.read().split(b"\0") if a]
        except OSError:
            continue
        if len(argv) >= 2 and "python" in os.path.basename(argv[0]) and argv[1].endswith(BENCH_SCRIPTS):
            found.append(" ".join(argv))
    return found


def wait_for_exclusive(timeout_s: float) -> list[str]:
    """Wait up to ``timeout_s`` for other benchmarks to end; return the
    ones still running (empty when the host is ours)."""
    deadline = time.time() + timeout_s
    while True:
        others = other_benchmarks()
        if not others or time.time() >= deadline:
            return others
        time.sleep(2.0)


def _tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo += [int(c) for c in f.read().split()]
        except OSError:
            continue
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler:
    """Background thread that records the peak RSS of this process tree."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


class StderrToFile:
    """Point file descriptor 2 at ``path`` so the JVM (which inherits it)
    logs there; restore it on exit."""

    def __init__(self, path: str):
        self.path = path

    def __enter__(self) -> StderrToFile:
        sys.stderr.flush()
        self._saved = os.dup(2)
        fd = os.open(self.path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        return self

    def __exit__(self, *exc) -> None:
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)

    def tail(self, n: int = 40) -> str:
        with open(self.path, errors="replace") as f:
            return "".join(f.readlines()[-n:])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
