"""Process-tree sampling from /proc: summed resident memory (PSS),
Python-worker CPU, and clean-up of leftover processes.

The benchmark process is the Spark driver; the JVM and the PySpark
worker daemon (with its forked workers) are its descendants. Everything
here reads /proc only, so it needs no Spark listener and no extra
package. Memory is sampled by a separate process running this file:

    python3 perfbench/procmon.py <root pid> <interval seconds>

samples until its stdin closes, then prints the peak in bytes.
"""

from __future__ import annotations

import os
import select
import subprocess
import sys

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


def process_start_boottime() -> float:
    """When this process started, in seconds on the CLOCK_BOOTTIME clock."""
    return int(_stat_fields(os.getpid())[19]) / _TICK


def tree_pids(root: int) -> list[int]:
    """`root` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds used so far by the PySpark worker daemon and its
    workers: user+system time of the live ones plus the time of workers
    the daemon has already reaped."""
    total = 0
    for pid in tree_pids(root):
        if "pyspark.daemon" not in _cmdline(pid):
            continue
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime
            total += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return total / _TICK


def tree_pss_bytes(root: int, skip: int = 0) -> int:
    """Summed resident memory of the tree under `root`, each shared page
    split among the processes that map it (PSS). Plain RSS would count the
    pages a forked PySpark worker shares with its daemon once per worker,
    and a JVM caught mid-fork twice."""
    return sum(_pss_bytes(pid) for pid in tree_pids(root) if pid != skip)


class RssSampler:
    """Peak summed PSS of this process's tree between start() and stop(),
    sampled from a separate process (not counted in the tree)."""

    def __init__(self, interval_s: float = 0.2):
        self.cmd = [sys.executable, os.path.abspath(__file__), str(os.getpid()), str(interval_s)]
        self.peak_bytes = 0
        self._proc = None

    def start(self) -> None:
        self._proc = subprocess.Popen(self.cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE)

    def stop(self) -> None:
        """Take a last sample, read the peak and wait for the sampler."""
        if self._proc is not None:
            out, _ = self._proc.communicate(timeout=30)
            self.peak_bytes = int(out)
            self._proc = None


def _sample_until_eof(root: int, interval_s: float) -> int:
    me, peak = os.getpid(), 0
    while True:
        peak = max(peak, tree_pss_bytes(root, skip=me))
        if select.select([sys.stdin], [], [], interval_s)[0]:  # stdin closed
            return max(peak, tree_pss_bytes(root, skip=me))


def wait_for_descendants(root: int, timeout_s: float) -> None:
    """Wait until `root` has no live descendants; terminate, then kill,
    any still alive after the wait."""
    import signal
    import time

    for sig, wait_s in ((None, timeout_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for pid in (p for p in tree_pids(root) if p != root and sig is not None):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if tree_pids(root) == [root]:
                return
            time.sleep(0.1)


if __name__ == "__main__":
    print(_sample_until_eof(int(sys.argv[1]), float(sys.argv[2])))
