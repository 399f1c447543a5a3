"""Host fingerprint, run environment and process-tree memory sampling.

Records carry the fingerprint so that numbers from different hosts are
never compared or pooled: two records are comparable only when their
``fingerprint.id`` values are equal.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import sys
import threading
import time

# JVM heap for every run. The session default is 16g, more memory than a
# 15 GiB host has; an unbounded heap also let RSS swing by
# how far the heap happened to grow.
DRIVER_MEM = "2g"

# Environment variables the program reads, recorded with every run.
PROGRAM_ENV = (
    "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS",
    "PYTHONPATH", "PYSPARK_PYTHON", "TMPDIR", "MALLOC_ARENA_MAX",
    "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
)


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def run_env(root: str, work: str) -> dict[str, str]:
    """Environment for a run's process: local[nproc], a bounded JVM
    heap and Spark scratch space inside the checkout."""
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    env.update(
        SPARK_GRAFT_CPUS=str(ncpu()),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=root,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # the launcher JVM would otherwise write /tmp/hsperfdata_<user>
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    return env


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor()


def fingerprint(env: dict[str, str]) -> dict:
    import pyspark

    fp = {
        "nproc": ncpu(),
        "mem_total_mib": _meminfo_kb("MemTotal") // 1024,
        "cpu_model": _cpu_model(),
        "kernel": platform.release(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
    }
    fp["id"] = hashlib.sha256(json.dumps(fp, sort_keys=True).encode()).hexdigest()[:16]
    fp["env"] = {k: env[k] for k in PROGRAM_ENV if k in env}
    return fp


# --- process-tree memory and CPU ----------------------------------------------

TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (ppid, user+system CPU ticks) for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields follow the last ')'
        fields = stat.rsplit(")", 1)[1].split()
        table[int(name)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    return table


def process_tree(pid: int, table: dict[int, tuple[int, int]] | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for p, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def host_ticks() -> tuple[int, int]:
    """(ticks stolen by the hypervisor, all ticks) summed over CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # guest time is already counted in user time
    return ticks[7], sum(ticks[:8])


def _hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def _command(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def reset_peaks(pid: int) -> None:
    """Reset the peak-RSS mark (VmHWM) of every process in pid's tree to
    its current RSS (``clear_refs`` value 5)."""
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


class PeakSampler:
    """Samples VmHWM and CPU ticks of every process in a tree, and the
    host's stolen ticks, from a background thread.

    Times are ``time.monotonic`` seconds, which is system-wide on Linux,
    so a child's timestamps compare with these. The run's process resets
    the marks when its timed calls start, so a VmHWM read after that is
    the process's peak RSS since then (or since it started)."""

    def __init__(self, pid: int, interval_s: float = 0.2):
        self.pid = pid
        self.interval_s = interval_s
        self.samples: list[tuple[float, dict[int, int]]] = []
        self.cpu: list[tuple[float, dict[int, int], tuple[int, int]]] = []
        self.commands: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.is_set():
            t = time.monotonic()
            table = _proc_table()
            tree = process_tree(self.pid, table)
            marks = {p: kb for p in tree if (kb := _hwm_kb(p)) is not None}
            self.cpu.append((t, {p: table[p][1] for p in tree if p in table}, host_ticks()))
            for p in marks:  # re-read: a launcher script execs into java
                self.commands[p] = _command(p)
            self.samples.append((t, marks))
            self._stop.wait(self.interval_s)

    def _windows(self, t0: float, t1: float):
        """The samples in [t0, t1], each cut to the processes that were also
        in the sample before it. A process the JVM forks to run a command
        (``chmod``, or the fork itself before its exec) reports the JVM's
        RSS as its own for a moment; it lives for less than a sample
        interval, so it is left out."""
        prev: dict[int, int] = {}
        for t, marks in self.samples:
            if t0 <= t <= t1:
                yield {p: kb for p, kb in marks.items() if p in prev}
            prev = marks

    def peaks_kb(self, t0: float, t1: float) -> dict[int, int]:
        """pid → highest VmHWM (KiB) read in [t0, t1]."""
        best: dict[int, int] = {}
        for marks in self._windows(t0, t1):
            for p, kb in marks.items():
                best[p] = max(best.get(p, 0), kb)
        return best

    def peak_mib(self, t0: float, t1: float) -> float | None:
        """The highest sum, over the processes alive at one sample, of their
        peak RSS, read in [t0, t1]. A process that has ended no longer
        counts, so workers that replace each other are not added up."""
        sums = [sum(m.values()) for m in self._windows(t0, t1)]
        return max(sums) / 1024 if sums else None

    def cpu_in(self, t0: float, t1: float) -> dict:
        """CPU seconds the tree used and the share of the host's ticks the
        hypervisor stole, between the first and last samples in [t0, t1]."""
        win = [c for c in self.cpu if t0 <= c[0] <= t1]
        if len(win) < 2:
            return {}
        first, last = win[0], win[-1]
        used = sum(ticks - first[1].get(p, 0) for p, ticks in last[1].items())
        # processes that ended inside the window keep their last reading
        gone = {}
        for _, ticks, _ in win:
            gone.update({p: v for p, v in ticks.items() if p not in last[1]})
        used += sum(v - first[1].get(p, 0) for p, v in gone.items())
        steal, total = (b - a for a, b in zip(first[2], last[2]))
        return {"cpu_s": used / TICKS_PER_S, "steal_share": steal / max(total, 1)}

    def peak_by_command_mib(self, t0: float, t1: float) -> dict[str, float]:
        """The same peak split by process command name (java, python3, ...)."""
        out: dict[str, float] = {}
        for p, kb in self.peaks_kb(t0, t1).items():
            name = self.commands.get(p, "?")
            out[name] = out.get(name, 0.0) + kb / 1024
        return out
