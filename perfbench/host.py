"""Host record and peak-memory sampling, read from ``/proc``."""

from __future__ import annotations

import hashlib
import os
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from ``/proc/stat``: time the
    hypervisor gave to other guests while this one wanted to run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def source_rev(root: str) -> dict:
    """The git commit when the checkout has one, and always a digest of the
    engine's sources (benchmark checkouts are not git repositories)."""
    out = {"git_rev": None}
    head = os.path.join(root, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(root, ".git", ref[5:])
            if os.path.isfile(ref_path):
                with open(ref_path) as f:
                    out["git_rev"] = f.read().strip()
        else:
            out["git_rev"] = ref
    h = hashlib.sha256()
    pkg = os.path.join(root, "hoopstat_haus_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    out["source_sha256"] = h.hexdigest()[:16]
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return ""


class RssSampler:
    """Tracks the JVM's VmHWM and the largest VmHWM of any Python worker the
    JVM spawned. Workers can exit between samples, so a background thread
    samples every ``period_s``; VmHWM itself is the kernel's own peak."""

    def __init__(self, jvm_pid: int, period_s: float = 0.5) -> None:
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.worker_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        kids = _children_map()
        todo = list(kids.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            if _comm(pid).startswith("python"):
                self.worker_peak_kb = max(self.worker_peak_kb, _status_kb(pid, "VmHWM"))

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def jvm_peak_kb(self) -> int:
        return _status_kb(self.jvm_pid, "VmHWM")
