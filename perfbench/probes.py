"""Run qualification: peak resident memory of the benchmark's process tree
and the load other tenants put on the box while a run measures.

The CPU and disk probes are the ones ``bench.py`` already uses for its
quiet-window gate; they are imported, not copied."""

from __future__ import annotations

import os
import threading
import time

import bench

_PAGE = os.sysconf("SC_PAGE_SIZE")
#: Seconds between two resident-memory samples.
RSS_PERIOD_S = 0.2


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                parent[int(p)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    out = []
    for pid in parent:
        q = pid
        while q in parent and q != root:
            q = parent[q]
        if q == root:
            out.append(pid)
    return out


def jit_cpu_ticks() -> int:
    """CPU ticks the JVM has spent compiling bytecode: the sum over the
    HotSpot compiler threads (``C1 CompilerThre…``/``C2 CompilerThre…``)
    of every JVM in the process tree.  Exact only while compiler threads
    never exit, which ``run.isolate`` asks of the JVM."""
    total = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            comm, rest = stat[stat.index("(") + 1 :].rsplit(")", 1)
            if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                f = rest.split()
                total += int(f[11]) + int(f[12])
    return total


def tree_rss_bytes(root: int | None = None) -> int:
    """Resident bytes of ``root`` and all its descendants: the Python
    driver, the Spark JVM and the Python workers it forks."""
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory on a thread and keeps
    the peak.  ``stop`` joins the thread."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(RSS_PERIOD_S)

    def stop(self) -> None:
        """Join the thread and take a last sample; later calls keep the
        peak as it was."""
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())


class LoadWindow:
    """External CPU cores busy and external disk I/O over a window, from
    ``bench.py``'s /proc probes."""

    def __init__(self) -> None:
        self.t0 = time.monotonic()
        self.busy0 = bench._cpu_busy_ticks()
        self.tree_cpu0 = bench._tree_cpu_ticks()
        self.disk0 = bench._disk_bytes()
        self.tree_io0 = bench._tree_io_bytes()

    def close(self) -> dict:
        return {
            "nproc": os.cpu_count(),
            "ext_cores": round(bench._ext_cores(self.t0, self.busy0, self.tree_cpu0), 3),
            "ext_io_gb": bench._ext_io_gb(self.disk0, self.tree_io0),
            "loadavg_1m": os.getloadavg()[0],
        }
