"""A17 — performance monitoring: the analog of the reference's sampling
monitor thread (/root/reference/src/audiopro/monitor/monitor.py:19-57,
84-150): 0.5 s sampling of per-core CPU + RSS, outlier-filtered (±2σ)
summary with avg/peak CPU and avg/peak active cores.

psutil is not in this sandbox; samples come from /proc (Linux). Used by
bench.py to report the measurement quantities the reference pins down
(SURVEY.md §6). On a real cluster the equivalent signals come from the
Spark listener/executor metrics; this covers the local[N] harness.
"""

from __future__ import annotations

import ctypes
import os
import platform
import sys
import threading
import time

# Linux kcmp(2) syscall numbers; KCMP_VM compares two processes' address
# spaces
_SYS_KCMP = (
    {"x86_64": 312, "aarch64": 272}.get(platform.machine()) if sys.platform == "linux" else None
)
_KCMP_VM = 1
_libc = ctypes.CDLL(None, use_errno=True) if _SYS_KCMP is not None else None


def _cpu_times() -> tuple[float, float, float]:
    """(busy_jiffies, steal_jiffies, total_jiffies) across all cores from
    /proc/stat. Steal is EXCLUDED from busy and returned separately — on
    this shared VM counting hypervisor-stolen time as our own work would
    inflate avg/peak CPU during exactly the steal episodes the repo's
    contention diagnostics exist to flag."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [float(x) for x in parts]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0.0)
    steal = vals[7] if len(vals) > 7 else 0.0
    total = sum(vals)
    return total - idle - steal, steal, total


def _rss_gb() -> float:
    """Total RSS of this process AND its descendants (GB): in local mode
    the workload's memory lives in the JVM child and the pyspark.daemon
    Python workers, not the driver — /proc/self alone reported a few
    hundred MB while the executor heap held gigabytes."""
    root = str(os.getpid())
    pids = {root}
    ppids: dict[str, str] = {}
    # one pass over /proc to collect the descendant set (parents appear
    # before children often but not always — iterate to a fixed point;
    # the tree is tiny, this is 2-3 passes at most)
    try:
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parts = f.read().rsplit(")", 1)[1].split()
                ppids[d] = parts[1]  # field 4 = ppid
            except OSError:
                continue
        changed = True
        while changed:
            changed = False
            for pid, ppid in ppids.items():
                if ppid in pids and pid not in pids:
                    pids.add(pid)
                    changed = True
    except OSError:
        pass
    total_kb = 0.0
    for pid in pids:
        # a child between clone(CLONE_VM) and exec — every process the JVM
        # launches (Hadoop's local file system runs `chmod` for each file
        # and directory it creates) — shares the JVM's address space and
        # reports its whole VmRSS; counting it would add the JVM's RSS a
        # second time in any sample that lands in that window. Sharing
        # only ends (at exec), so asking before reading VmRSS is safe.
        if pid != root and _shares_vm(pid, ppids.get(pid)):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS"):
                        total_kb += float(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024 / 1024


def _shares_vm(pid: str, other: str | None) -> bool:
    """True when `pid` and `other` share one address space (kcmp KCMP_VM).
    False when they do not, or when kcmp is unavailable."""
    if _libc is None or other is None:
        return False
    return _libc.syscall(_SYS_KCMP, int(pid), int(other), _KCMP_VM, 0, 0) == 0


class PerformanceMonitor:
    """Sampling thread; call stop() then summary()."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        # (cpu_pct, rss_gb, steal_pct)
        self.samples: list[tuple[float, float, float]] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._ncpu = os.cpu_count() or 1

    def start(self) -> "PerformanceMonitor":
        def loop():
            prev_busy, prev_steal, prev_total = _cpu_times()
            while not self._stop.wait(self.interval):
                busy, steal, total = _cpu_times()
                d_total = total - prev_total
                pct = 100.0 * (busy - prev_busy) / d_total if d_total > 0 else 0.0
                st = 100.0 * (steal - prev_steal) / d_total if d_total > 0 else 0.0
                self.samples.append((pct, _rss_gb(), st))
                prev_busy, prev_steal, prev_total = busy, steal, total

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=2.0)

    def summary(self) -> dict:
        """±2σ outlier filter then avg/peak — reference monitor.py:99-129."""
        if not self.samples:
            return {"samples": 0}
        cpu = [s[0] for s in self.samples]
        rss = [s[1] for s in self.samples]
        steal = [s[2] for s in self.samples]
        mean = sum(cpu) / len(cpu)
        var = sum((c - mean) ** 2 for c in cpu) / len(cpu)
        sd = var**0.5
        kept = [c for c in cpu if abs(c - mean) <= 2 * sd] or cpu
        avg_cpu = sum(kept) / len(kept)
        return {
            "samples": len(self.samples),
            "avg_cpu_pct": round(avg_cpu, 2),
            "peak_cpu_pct": round(max(kept), 2),
            "avg_active_cores": round(avg_cpu / 100.0 * self._ncpu, 2),
            "peak_active_cores": round(max(kept) / 100.0 * self._ncpu, 2),
            "peak_rss_gb": round(max(rss), 3),
            "avg_steal_pct": round(sum(steal) / len(steal), 2),
            "peak_steal_pct": round(max(steal), 2),
            "n_cpus": self._ncpu,
        }
