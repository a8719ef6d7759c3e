"""Spans, Spark stage counters and host probes for the benchmark.

Spans are recorded by the benchmark around its own calls into the
program's public functions — the program itself is not instrumented.
Spark is lazy, so a layer's cost is taken from a *prefix plan*: the plan up
to and including that layer, executed into the ``noop`` sink inside a span.
A layer's self time is its prefix time minus the time of the prefix it
extends. Each traced span tags its Spark jobs with its own job group; after
the span ends the group's stages are read back from the JVM's
``AppStatusStore`` (run time, CPU time, input / shuffle / spill bytes,
tasks, failed tasks).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

STAGE_FIELDS = {
    # StageData accessor -> counter name (executorCpuTime is in ns, run time ms)
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "inputBytes": "input_bytes",
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
}


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.trace_id = 0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time a block; when enabled, record it and collect its Spark stages."""
        if not self.enabled:
            rec = {"name": name}
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["dur"] = time.perf_counter() - t0
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace_id": self.trace_id,
            "start": time.time(),
        }
        self.spans.append(rec)
        group = f"perfbench-{sid}"
        self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            parent = f"perfbench-{self._stack[-1]}" if self._stack else None
            self.sc.setLocalProperty("spark.jobGroup.id", parent)
            rec["stages"] = self._stage_counters(group)

    def noop(self, name: str, df) -> dict:
        """Execute ``df`` into the noop sink inside a span (a prefix plan)."""
        with self.span(name) as rec:
            df.write.format("noop").mode("overwrite").save()
        return rec

    def _stage_counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        empty = self.sc._jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        out = {v: 0 for v in STAGE_FIELDS.values()}
        seen = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            stage_ids = store.job(job_id).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, empty, False, quantiles)
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    for field, key in STAGE_FIELDS.items():
                        out[key] += int(getattr(sd, field)())
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# host probes (run metadata, not metrics)
# ---------------------------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return sum(int(x) for x in fields[1:]), int(fields[8])


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return 100.0 * (t1[1] - t0[1]) / max(t1[0] - t0[0], 1)


def membw_canary_gbps() -> float:
    """256 MB numpy copy sweep (read + write bytes per second) — the same
    probe as the legacy ``bench_extra.membw_canary_gbps``: a memory-bandwidth
    storm that does not show as steal time shows as a low value here."""
    import numpy as np

    a = np.empty(32 * 1024 * 1024, dtype=np.float64)
    a[:] = 1.0
    t0 = time.perf_counter()
    b = a.copy()
    dt = time.perf_counter() - t0
    del b
    return 2 * a.nbytes / dt / 1e9


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> dict[int, int]:
    """Resident bytes of the driver JVM ``root`` (RSS) and of each Python
    worker below it (PSS), by pid.

    Workers are forked from one daemon, so plain RSS would count the pages
    they share with it once per worker; PSS splits them. Other descendants
    are skipped: a child the JVM spawns shares the JVM's memory until it
    execs, and counting it doubled the reading."""
    kids = _children()
    out, todo = {}, list(kids.get(root, ()))
    with open(f"/proc/{root}/statm") as f:
        out[root] = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        if "pyspark" not in _cmdline(pid):
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) * 1024
                        break
        except OSError:  # exited while sampling
            continue
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")[:80]
    except OSError:
        return "?"


def old_gen_pool(spark):
    """The driver JVM's old-generation heap pool (a MemoryPoolMXBean). With a
    fixed heap RSS hardly moves with on-heap memory; the pool's peak usage
    does (broadcasts, cached blocks, sort buffers that outlive a young GC)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if "Old Gen" in pool.getName():
            return pool
    raise RuntimeError("driver JVM has no old-generation memory pool")


class RssSampler:
    """Background sampler of the peak RSS of a process tree (the driver JVM
    and the Python workers it forks), active only between start() and stop()."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_process: dict[str, float] = {}  # "pid cmdline" -> MiB at the peak
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            by_pid = tree_rss_bytes(self.root_pid)
            total = sum(by_pid.values())
            if total > self.peak:
                self.peak = total
                self.peak_by_process = {f"{p} {_cmdline(p)}": b / 2**20 for p, b in by_pid.items()}
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
