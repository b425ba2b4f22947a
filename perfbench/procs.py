"""Process-tree bookkeeping (memory sampling, pinning, ending every
process the benchmark started) and the hardware fingerprint (Linux /proc)."""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

MIB = 2**20


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # comm may contain spaces: the ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants() -> list[int]:
    kids = _children_map()
    todo, out = list(kids.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants.  The JVM
    starts the Python worker daemon, which forks the workers; when the JVM
    exits they are re-parented here instead of to init, so
    ``end_descendants`` can still see them and wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace: float = 10.0) -> list[int]:
    """Wait up to ``grace`` seconds for every process below this one to
    exit, then send SIGTERM, and SIGKILL to what is left after as long
    again; reap them all.  Returns the pids that had to be signalled."""
    signalled: list[int] = []
    deadline, sig = time.monotonic() + grace, signal.SIGTERM
    while True:
        _reap()
        live = _descendants()
        if not live:
            return signalled
        if time.monotonic() > deadline:
            for pid in live:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            signalled += [p for p in live if p not in signalled]
            deadline, sig = time.monotonic() + grace, signal.SIGKILL
        time.sleep(0.05)


def pin_descendants(cores: set[int]) -> None:
    """Pin every thread of every process below this one (the driver JVM
    and its Python workers) to ``cores``; threads and processes they start
    later inherit it."""
    for pid in _descendants():
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                os.sched_setaffinity(int(tid), cores)
        except (FileNotFoundError, ProcessLookupError):
            pass  # exited meanwhile


def _rss_and_kind(pid: int) -> tuple[int, str] | None:
    """Resident anonymous memory (``RssAnon``) and the process kind.  File
    pages are left out: Spark memory-maps shuffle blocks it reads, which
    swings the JVM's total RSS by a GiB between identical runs."""
    try:
        with open(f"/proc/{pid}/status") as f:
            rss = [int(line.split()[1]) * 1024 for line in f if line.startswith("RssAnon:")]
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            exe = os.path.basename(f.read().split(b"\0", 1)[0]).decode()
    except OSError:
        return None  # exited while being read
    if not rss:
        return None  # a zombie has no memory left
    if exe == "java":
        return rss[0], "jvm"
    if exe.startswith("python"):
        return rss[0], "python"
    return rss[0], "other"


class TreeSampler:
    """Polls the resident memory of every process below this one: the driver JVM and
    the Python worker daemon and workers it forks.  ``peak`` holds the
    largest sum seen for each kind; ``python_pids`` holds every Python
    worker seen since sampling started.  Use as a context manager; ``reset_peak()`` starts a
    new window for the peaks."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._lock = threading.Lock()
        self.python_pids: set[int] = set()
        self.reset_peak()

    def reset_peak(self) -> None:
        with self._lock:
            self.peak = {"total": 0, "jvm": 0, "python": 0}

    def sample(self) -> None:
        sums, pys = {"jvm": 0, "python": 0}, set()
        for pid in _descendants():
            got = _rss_and_kind(pid)
            if got is None or got[1] == "other":
                continue
            rss, kind = got
            sums[kind] += rss
            if kind == "python":
                pys.add(pid)
        with self._lock:
            for kind in ("jvm", "python"):
                self.peak[kind] = max(self.peak[kind], sums[kind])
            self.peak["total"] = max(self.peak["total"], sums["jvm"] + sums["python"])
            self.python_pids |= pys

    def _loop(self) -> None:
        try:
            while not self._stop.wait(self.interval):
                self.sample()
        except Exception as e:  # surfaced by __exit__: peaks would be wrong
            self.error = e

    def __enter__(self) -> "TreeSampler":
        self.error = None
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        if self.error is not None and exc[0] is None:
            raise RuntimeError("memory sampling failed") from self.error


CLK_TCK = os.sysconf("SC_CLK_TCK")


# HotSpot names its JIT compiler threads "C1 CompilerThreadN" and "C2
# CompilerThreadN" (``comm`` keeps the first 15 bytes).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_seconds() -> float:
    """CPU seconds so far of the JIT compiler threads of every JVM below
    this process.  Only exact when the JVM keeps its compiler threads
    (-XX:-UseDynamicNumberOfCompilerThreads): a thread that exits takes
    its CPU time with it."""
    total = 0
    for pid in _descendants():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # exited meanwhile
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if stat[stat.index("(") + 1:stat.rindex(")")].startswith(JIT_THREADS):
                utime, stime = stat[stat.rindex(")") + 2:].split()[11:13]
                total += int(utime) + int(stime)
    return total / CLK_TCK


def cpu_seconds() -> tuple[float, float, float]:
    """(busy, steal, total) CPU seconds of the whole machine since boot.
    Steal is the time a virtual machine's CPUs were runnable but held by
    its host; busy (user, nice, system, irq, softirq) leaves it out."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    busy = user + nice + system + irq + softirq
    return busy / CLK_TCK, steal / CLK_TCK, (busy + idle + iowait + steal) / CLK_TCK


def fingerprint() -> dict:
    cpu = "unknown"
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {"cpu_model": cpu, "nproc": len(os.sched_getaffinity(0)),
            "mem_total_kb": mem_kb}
