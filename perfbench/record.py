"""Run record: box fingerprint, versions and peak memory of the process
tree (driver JVM, its Python workers and this process)."""

from __future__ import annotations

import hashlib
import os
import platform
import threading
import time


def box_fingerprint() -> dict:
    """The two single-core probes of ``bench.py``'s box fingerprint (kept
    identical so figures compare), the CPU model and the usable cores.
    Runs from boxes whose probes differ are not comparable."""
    t0 = time.perf_counter()
    h = b"x" * 1000
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    sha = time.perf_counter() - t0
    t0 = time.perf_counter()
    s = 0
    for i in range(10**6):
        s += i
    loop = time.perf_counter() - t0
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {"sha256_200k_sec": round(sha, 4), "pyloop_1e6_sec": round(loop, 4),
            "cpu": model, "nproc": len(os.sched_getaffinity(0))}


def versions() -> dict:
    import pyspark

    return {"python": platform.python_version(), "spark": pyspark.__version__}


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the summed resident memory of this process and all its
    descendants every ``period`` seconds on a daemon thread."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(_children(pid))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
