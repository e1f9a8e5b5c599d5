"""Host-side measurement: process-tree memory sampled from /proc, host
context for the run record, and shutdown of every process the run
started."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, start time) for every visible process that has not
    exited (zombies are left out)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        # comm may contain spaces/parens: fields resume after the last ')'
        rest = st[st.rindex(")") + 2:].split()
        if rest[0] != "Z":
            out[int(d)] = (int(rest[1]), rest[19])
    return out


def descendants(root: int) -> dict[int, tuple[int, str]]:
    """pid -> (ppid, start time) for every live descendant of ``root``."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out[c] = table[c]
            todo.append(c)
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _pss(pid: int) -> int:
    """Proportional set size: each page shared by n processes counts 1/n in
    each, so forked Python workers are not charged for their parent's
    copy-on-write pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return "?"


class RssSampler:
    """Peak resident memory of this process plus all its descendants (the
    JVM and the Python workers it forks), sampled every ``INTERVAL`` s.

    The JVM is read from ``statm`` (its pages are its own, and reading
    ``smaps_rollup`` of a multi-GB JVM costs tens of ms of kernel time that
    would slow the run); the small Python workers are read as PSS. A JVM
    child between fork and exec shares the JVM's pages and is skipped."""

    INTERVAL = 0.25

    def __init__(self) -> None:
        self.peak = 0
        #: MB per executable (python3, java) at the peak sample
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self, me: int) -> dict[int, tuple[str, int]]:
        out = {me: (_exe(me), _rss(me))}
        for pid, (ppid, _) in descendants(me).items():
            exe = _exe(pid)
            if exe == "java":
                if ppid == me:
                    out[pid] = (exe, _rss(pid))
            else:
                out[pid] = (exe, _pss(pid))
        return out

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sample = self._sample(me)
            total = sum(b for _, b in sample.values())
            if total > self.peak:
                self.peak = total
                parts: dict[str, float] = {}
                for exe, b in sample.values():
                    parts[exe] = parts.get(exe, 0) + b / 2**20
                self.peak_parts = parts
            self._stop.wait(self.INTERVAL)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def host_context() -> dict:
    """Load average, CPU steal, cores and other JVM / pytest processes on
    the host, recorded with every run so a noisy run is visible in the
    record."""
    mine = set(descendants(os.getpid())) | {os.getpid()}
    others = []
    for pid in _proc_table():
        if pid in mine:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd.split(" ")[0] or "pytest" in cmd:
            others.append({"pid": pid, "cmd": cmd[:120]})
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {
        "loadavg": os.getloadavg(),
        # cumulative jiffies: (steal, total) — compare two records to get
        # the share of CPU time the hypervisor gave to someone else
        "cpu_steal_total": (cpu[7] if len(cpu) > 7 else 0, sum(cpu)),
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "other_jvm_or_pytest": others,
    }


def stop_tree(procs: dict[int, tuple[int, str]], timeout: float = 20.0) -> None:
    """Wait for the given processes (from :func:`descendants`) to end;
    SIGTERM and then SIGKILL the ones still alive. The start time guards
    against a recycled pid."""

    def alive() -> list[int]:
        table = _proc_table()
        return [p for p, (_, st) in procs.items() if p in table and table[p][1] == st]

    deadline = time.monotonic() + timeout
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in alive():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
        if not alive():
            return
        deadline = time.monotonic() + 5.0
