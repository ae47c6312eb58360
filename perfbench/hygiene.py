"""Run hygiene: temp-dir diffs, process-tree memory, host facts."""

from __future__ import annotations

import os
import shutil
import threading
import time


def snapshot(root: str) -> set[str]:
    """Entries two levels under ``root`` (``aub_ckpt/<run>``,
    ``aub_streamsink/<run>``, ...): the granularity the engine creates
    per-op scratch at."""
    out = set()
    if not os.path.isdir(root):
        return out
    for top in os.listdir(root):
        p = os.path.join(root, top)
        out.add(p)
        if os.path.isdir(p) and not os.path.islink(p):
            out.update(os.path.join(p, c) for c in os.listdir(p))
    return out


def created(before: set[str], after: set[str]) -> list[str]:
    """Entries new in ``after``, outermost only (a new directory's
    children are removed with it)."""
    new = sorted(after - before)
    keep: list[str] = []
    for p in new:
        if not any(p.startswith(k + os.sep) for k in keep):
            keep.append(p)
    return keep


def remove(paths: list[str]) -> None:
    for p in paths:
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.remove(p)
            except FileNotFoundError:
                pass


def tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every process below ``pid`` (not ``pid`` itself)."""
    kids = _children()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _proc_kb(pid: int, name: str, field: str) -> int:
    """One ``field:  N kB`` line of ``/proc/<pid>/<name>``, in bytes."""
    try:
        with open(f"/proc/{pid}/{name}", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def engine_processes(me: int) -> list[tuple[int, bool]]:
    """(pid, is_jvm) of the engine's processes: ``me`` (the PySpark
    driver), the JVM it launched (a direct child running ``java``) and
    everything the JVM started (Python workers).  Left out: the
    benchmark's own helpers (other children of ``me``, such as the click
    generator) and a JVM child that has not yet exec'd, which still shares
    the JVM's memory and would count it twice."""
    kids = _children()
    out = [(me, False)]
    for jvm in kids.get(me, ()):
        exe = _exe(jvm)
        if os.path.basename(exe) != "java":
            continue
        out.append((jvm, True))
        todo = list(kids.get(jvm, ()))
        while todo:
            p = todo.pop()
            if _exe(p) != exe:
                out.append((p, False))
            todo.extend(kids.get(p, ()))
    return out


def resident_bytes(pid: int, is_jvm: bool) -> int:
    """Resident memory of one engine process.  The JVM shares no pages
    with the others, so its RSS is read (cheap); Python processes read
    their proportional set size, so a forked worker's copy-on-write
    pages count once, not in every worker.  (PSS of the JVM costs ~20 ms
    a read and stalls it while the kernel walks its page tables.)"""
    if is_jvm:
        return _proc_kb(pid, "status", "VmRSS:")
    return _proc_kb(pid, "smaps_rollup", "Pss:")


class RssSampler:
    """Samples the summed resident memory of the engine's processes
    (:func:`engine_processes`) from ``/proc`` and keeps the peak."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        self.peak = max(
            self.peak,
            sum(resident_bytes(p, jvm) for p, jvm in engine_processes(os.getpid())),
        )

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()
            self.sample()


def host_facts(seed: int, cores_used: int, java: str) -> dict:
    import pyspark

    load1, load5, load15 = os.getloadavg()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores_used": cores_used,
        "load_avg": [load1, load5, load15],
        "seed": seed,
        "pyspark": pyspark.__version__,
        "java": java,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
