"""Spans, Spark counters and memory sampling, all from outside the program.

A span records (name, start, end, parent) around a call into one layer.
When tracing is on, each span also carries per-span deltas of the Spark
app status store (jobs, stages, tasks, executor run and CPU time,
shuffle bytes, spill bytes) and of the JVM's garbage-collector time.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

FINISHED = ("COMPLETE", "FAILED", "SKIPPED")
STAGE_FIELDS = {
    "tasks": "numTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "shuffle_read_b": "shuffleReadBytes",
    "shuffle_write_b": "shuffleWriteBytes",
    "spill_b": "memoryBytesSpilled",
    "disk_spill_b": "diskBytesSpilled",
}
SAMPLE_PERIOD_S = 0.5  # memory sampler period


class SparkCounters:
    """Cumulative counters of one SparkContext, read over py4j.

    Stages are listed in id order; the leading run of finished stages is
    summed once and skipped afterwards, so a read costs O(new stages)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._empty = self._jvm.java.util.ArrayList
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._gcs = list(self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._done_prefix = 0
        self._done = dict.fromkeys(STAGE_FIELDS, 0)
        self._done["stages"] = 0

    def read(self) -> dict:
        stages = self._store.stageList(
            self._empty(), False, False, self._gateway.new_array(self._jvm.double, 0), self._empty()
        )
        rows = json.loads(self._mapper.writeValueAsString(stages.drop(self._done_prefix)))
        out = dict(self._done)
        prefix = True
        for r in rows:
            vals = {k: int(r.get(f) or 0) for k, f in STAGE_FIELDS.items()}
            vals["stages"] = 1
            prefix = prefix and r["status"] in FINISHED
            for k, v in vals.items():
                out[k] += v
                if prefix:
                    self._done[k] += v
            if prefix:
                self._done_prefix += 1
        out["jobs"] = self._store.jobsList(self._empty()).size()
        out["gc_ms"] = sum(g.getCollectionTime() for g in self._gcs)
        return out


class Tracer:
    """Span recorder. With ``enabled`` false every span is a no-op, so
    untraced runs pay nothing for the instrumentation."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._counters = SparkCounters(spark) if enabled else None

    @contextlib.contextmanager
    def span(self, name: str, counters: bool = True, **attrs):
        """Record a span; ``counters`` False records its time only (a
        counter read walks the stage list, too costly for short spans)."""
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        before = self._counters.read() if counters else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if counters:
                after = self._counters.read()
                rec["counters"] = {k: after[k] - before[k] for k in after}
            self._stack.pop()

    def total(self, name: str) -> float:
        """Summed duration of every span ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def _dir_mb(root: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total / (1 << 20)


class MemSampler:
    """Background sampler of the peak RSS of this process tree (JVM,
    Python driver, Python workers), of the Python workers alone, and of
    the size of the Spark local directory (shuffle and spill files; only
    when ``local_dir`` is given, since walking it costs a little CPU)."""

    def __init__(self, local_dir: str | None):
        self.local_dir = local_dir
        self.peak_tree_mb = 0.0
        self.peak_workers_mb = 0.0
        self.peak_local_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        me = os.getpid()
        procs = descendants(me)
        tree = _rss_mb(me) + sum(_rss_mb(p) for p in procs)
        workers = sum(_rss_mb(p) for p in procs if _is_python(p))
        self.peak_tree_mb = max(self.peak_tree_mb, tree)
        self.peak_workers_mb = max(self.peak_workers_mb, workers)
        if self.local_dir:
            self.peak_local_mb = max(self.peak_local_mb, _dir_mb(self.local_dir))

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_PERIOD_S):
            self.sample()

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
        return False
