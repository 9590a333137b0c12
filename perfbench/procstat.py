"""Process-tree resource readings from /proc.

The benchmark's process tree is the driver (this Python process), the
JVM that spark-submit launches, and the Python workers the JVM forks.
CPU is read as utime+stime+cutime+cstime summed over the live tree:
when a child exits and is reaped its time moves into the parent's
cutime/cstime, so the sum never loses the work of finished workers.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: fields
        # start after the LAST ')'
        ppid = int(raw[raw.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _stat_fields(pid: int) -> list[bytes] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(b")") + 2 :].split()


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """CPU seconds of the process tree, including reaped children."""
    total = 0
    for pid in pids if pids is not None else tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 (1-based) = utime stime cutime cstime
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_mb(pids: list[int] | None = None) -> float:
    """Resident memory of the process tree. The JVM counts its RSS (it
    shares no anonymous memory, and reading its smaps costs ~30 ms); a
    JVM child that has not yet exec'd its command (Hadoop's local file
    system forks for chmod) still mirrors the JVM and is skipped. Every
    other process counts its PSS, so pages the forked Python workers
    share with their daemon count once and the figure does not jump
    with the number of workers forked."""
    total_kb = 0
    for pid in pids if pids is not None else tree_pids():
        f = _stat_fields(pid)
        if f is None:
            continue
        if _comm(pid) == b"java":
            if _comm(int(f[1])) != b"java":  # field 4 = ppid
                total_kb += int(f[21]) * _PAGE_KB  # field 24 = rss in pages
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def _comm(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/comm", "rb") as fh:
            return fh.read().strip()
    except OSError:
        return b""


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total / (1 << 20)


class PeakSampler:
    """Background sampler of the tree's summed RSS and, while
    ``scan_scratch`` is set (inside traced spans only), of the size of a
    scratch directory. ``reset()`` starts a new peak window; ``peaks()``
    reads the maxima since the last reset. The sampler runs in this
    process, so its own CPU lands in the tree's; ``own_cpu_s()`` reads
    it so that callers can take it out again."""

    def __init__(self, scratch_dir: str, interval_s: float = 0.5):
        self.scratch_dir = scratch_dir
        self.scan_scratch = False
        self._interval = interval_s
        self._lock = threading.Lock()
        self._rss = 0.0
        self._scratch_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-sampler", daemon=True)

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _scratch(self) -> float:
        return dir_mb(self.scratch_dir) if self.scan_scratch else 0.0

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_mb()
            scratch = self._scratch()
            with self._lock:
                self._rss = max(self._rss, rss)
                self._scratch_mb = max(self._scratch_mb, scratch)
            self._stop.wait(self._interval)

    def own_cpu_s(self) -> float:
        """CPU seconds the sampler thread has used so far."""
        tid = self._thread.native_id
        if tid is None:
            return 0.0
        try:
            with open(f"/proc/self/task/{tid}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:  # the thread has ended
            return 0.0
        f = raw[raw.rindex(b")") + 2 :].split()
        return (int(f[11]) + int(f[12])) / _TICK  # utime stime

    def reset(self) -> None:
        with self._lock:
            self._rss = tree_rss_mb()
            self._scratch_mb = self._scratch()

    def peaks(self) -> tuple[float, float]:
        """(peak tree RSS MB, peak scratch MB) since the last reset."""
        rss, scratch = tree_rss_mb(), self._scratch()
        with self._lock:
            return max(self._rss, rss), max(self._scratch_mb, scratch)
