"""Host readings: environment record, hardware probe, process-tree RSS.

The environment record and the probe are report-only: no reading here
selects, discards or retries a run.
"""

from __future__ import annotations

import hashlib
import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def ram_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 2**20, 1)
    return 0.0


def hw_probe() -> dict:
    """Best-of-3 memcpy bandwidth over 64 MB and sha256 of 32 MB."""
    import numpy as np

    a = np.ones(8_000_000, dtype=np.int64)
    b = np.empty_like(a)
    np.copyto(b, a)  # fault the pages in, untimed
    best_copy = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        np.copyto(b, a)
        best_copy = max(best_copy, 2 * a.nbytes / (time.perf_counter() - t0) / 1e9)
    data = a.tobytes()[:32_000_000]
    best_sha = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        hashlib.sha256(data).digest()
        best_sha = min(best_sha, time.perf_counter() - t0)
    return {"memcpy_gbps": round(best_copy, 2), "sha256_32mb_s": round(best_sha, 4)}


def cpu_steal_s() -> float:
    """Seconds the hypervisor ran something else on this host's vCPUs,
    summed over them, since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _kind(cmdline: str) -> str:
    if "java" in cmdline.split(" ", 1)[0]:
        return "spark_jvm"
    if "pyspark.daemon" in cmdline or "pyspark.worker" in cmdline:
        return "spark_python_workers"
    if "multiprocessing" in cmdline:
        return "pool_workers"
    return "benchmark"


class RssSampler:
    """Peak summed RSS of this process and all its descendants, with
    the split by process kind at the peak."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.peak_split: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        rss = {p: _rss_bytes(p) for p in [me, *descendants(me)]}
        total = sum(rss.values())
        if total > self.peak:
            self.peak = total
            split: dict[str, float] = {}
            for p, b in rss.items():
                k = "benchmark" if p == me else _kind(_cmdline(p))
                split[k] = split.get(k, 0.0) + b / 2**20
            self.peak_split = split

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


#: environment variable that marks every process of one run: children
#: inherit it, also those a child leaves behind when it exits
RUN_TAG = "PERFBENCH_RUN_TAG"


def tag_run() -> str:
    """Mark this process, and so every process it starts, as the run's."""
    tag = f"{os.getpid()}-{time.time_ns()}"
    os.environ[RUN_TAG] = tag
    return tag


def _tagged(tag: str) -> list[int]:
    """Live processes other than this one that carry the run's tag."""
    me, want = os.getpid(), f"{RUN_TAG}={tag}".encode()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if want not in f.read().split(b"\0"):
                    continue
            with open(f"/proc/{name}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state in ("Z", "X"):
            # exited; reap it if it is this process's child
            try:
                os.waitpid(int(name), os.WNOHANG)
            except ChildProcessError:
                pass
            continue
        out.append(int(name))
    return out


def stop_run_processes(tag: str, grace: float) -> list[str]:
    """Wait up to ``grace`` seconds for every process of the run to end,
    descendants and orphans alike; then kill what is left and wait for
    it. Returns the processes that had to be killed."""
    deadline = time.monotonic() + grace
    procs = _tagged(tag)
    while procs and time.monotonic() < deadline:
        time.sleep(0.1)
        procs = _tagged(tag)
    killed = [f"{p} {_cmdline(p)}" for p in procs]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in procs:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.monotonic() + 10
        while procs and time.monotonic() < deadline:
            time.sleep(0.1)
            procs = _tagged(tag)
    return killed


def stop_resource_tracker() -> None:
    """Stop multiprocessing's resource tracker and wait for it. It runs
    until its parent exits, and a lock finalized after it stopped would
    start it again, so every pool queue and its locks go first."""
    import gc
    from multiprocessing import active_children, resource_tracker

    active_children()  # reap pool workers that have ended
    gc.collect()
    # a collected queue's feeder thread still holds two of its locks;
    # they are released, and unregistered, when the thread ends
    for t in threading.enumerate():
        if t.name == "QueueFeederThread":
            t.join(timeout=10)
    gc.collect()
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def dir_bytes(root: str) -> tuple[int, int]:
    """(total bytes, file count) under ``root``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def segment_bytes(index_dir: str, seg_ids: set[int]) -> int:
    """Bytes of the given segments across all of the index's tables."""
    tags = {f"seg={i}" for i in seg_ids}
    total = 0
    for dirpath, _dirs, names in os.walk(index_dir):
        if tags.intersection(dirpath.split(os.sep)):
            total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total
