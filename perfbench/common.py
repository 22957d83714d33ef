"""Pieces every workload shares: progress logging, percentiles, the
session's start and stop, and memory sampling."""

from __future__ import annotations

import os
import select
import signal
import subprocess
import sys
import time

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


# ---------------------------------------------------------------------------
# Session lifetime
# ---------------------------------------------------------------------------


def start_session():
    """Start the program's tuned session; returns (spark, seconds)."""
    from annotation_service_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session("perfbench")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop every stream, the context and the JVM, and wait for the JVM
    (and with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway server exits on EOF of its stdin
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # the Python workers the JVM forked exit on EOF of their pipes
    deadline = time.monotonic() + 15
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in workers:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


# ---------------------------------------------------------------------------
# Memory: high-water RSS of the JVM plus its Python workers, from /proc
# ---------------------------------------------------------------------------


def _descendants(root: int) -> list[int]:
    """Every process below ``root``, from the parent ids in /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        for c in kids.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of a process tree and keeps the peak. The
    sampling runs in a child process, so it never competes for this
    interpreter's lock with the threads being measured. ``stop`` ends
    the child and waits for it; it may be called more than once."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root = root_pid
        self.interval = interval_s
        self.peak_mb: float | None = None
        self._proc: subprocess.Popen | None = None

    def start(self) -> RssSampler:
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(self.root), str(self.interval)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return self

    def stop(self) -> float:
        """Peak RSS in MB since ``start``."""
        if self.peak_mb is None and self._proc is not None:
            out, _ = self._proc.communicate(input="", timeout=60)  # EOF ends the child
            self.peak_mb = int(out.strip() or 0) / 1024.0
        return self.peak_mb or 0.0


def _sample_until_eof(root: int, interval_s: float) -> None:
    """Child-process body of ``RssSampler``: print the peak in KB once
    stdin reaches EOF. The process tree is re-listed every second."""
    peak, pids, listed = 0, [], 0.0
    while True:
        if time.monotonic() - listed >= 1.0:
            pids = _descendants(root)
            listed = time.monotonic()
        peak = max(peak, _rss_kb(root) + sum(_rss_kb(p) for p in pids))
        ready, _, _ = select.select([sys.stdin], [], [], interval_s)
        if ready and not sys.stdin.read():
            break
    peak = max(peak, _rss_kb(root) + sum(_rss_kb(p) for p in _descendants(root)))
    print(peak, flush=True)


if __name__ == "__main__":
    _sample_until_eof(int(sys.argv[1]), float(sys.argv[2]))
