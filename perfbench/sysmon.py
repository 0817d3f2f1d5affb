"""Host and process measurements read from /proc: process start time, peak
RSS of the benchmark's process tree, CPU steal share and load."""

from __future__ import annotations

import os
import threading


def process_start_epoch() -> float:
    """Wall-clock time at which this interpreter process was started, so
    set-up time includes interpreter start and imports."""
    with open("/proc/self/stat") as fh:
        # field 22 (starttime, clock ticks since boot); the command name in
        # field 2 may hold spaces, so split after its closing parenthesis
        after_comm = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(after_comm[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime "))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) summed over all CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


class HostWindow:
    """Steal share of CPU time and 1-minute load over a measured window."""

    def __init__(self) -> None:
        self.steal0, self.total0 = cpu_times()
        self.load1_before = os.getloadavg()[0]
        self.steal_frac = 0.0
        self.load1_after = self.load1_before

    def close(self) -> None:
        steal, total = cpu_times()
        self.steal_frac = (steal - self.steal0) / max(total - self.total0, 1)
        self.load1_after = os.getloadavg()[0]


def _status(pid: int) -> dict[str, str]:
    out = {}
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            k, _, v = line.partition(":")
            out[k] = v.strip()
    return out


def _children(root: int) -> dict[int, int]:
    """pid -> parent pid for every live descendant of `root`."""
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        parent[int(name)] = ppid
    desc: dict[int, int] = {}
    frontier = [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in desc:
                desc[c] = pp
                frontier.append(c)
    return desc


class RssSampler:
    """Polls the peak RSS (VmHWM) of this process, the JVM it launched and
    the JVM's Python workers. VmHWM is each process's own high-water mark,
    so polling misses only growth in the last interval before a process
    exits."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_kb: dict[int, int] = {}
        self.kind: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        me = os.getpid()
        tree = _children(me)
        jvms = set()
        for pid in [me, *tree]:
            try:
                st = _status(pid)
            except (FileNotFoundError, ProcessLookupError):
                continue
            if pid == me:
                kind = "driver"
            elif st.get("Name") == "java":
                kind = "jvm"
                jvms.add(pid)
            else:
                kind = self.kind.get(pid, "other")
            hwm = int(st.get("VmHWM", "0 kB").split()[0])
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), hwm)
            self.kind[pid] = kind
        # Python workers are the JVM's descendants (pyspark.daemon and its forks)
        for pid, ppid in tree.items():
            anc = ppid
            while anc in tree and anc not in jvms:
                anc = tree[anc]
            if anc in jvms and pid not in jvms:
                self.kind[pid] = "worker"

    def peak_mb(self, kind: str) -> float:
        """Sum of the peak RSS of every process of one kind (driver, jvm or
        worker), in MB."""
        return sum(kb for pid, kb in self.peak_kb.items() if self.kind.get(pid) == kind) / 1024
