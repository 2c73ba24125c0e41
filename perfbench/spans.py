"""Spans, process-tree memory and Spark stage counters for the benchmark.

Spans are recorded from the benchmark's own files around calls into each
layer's public function; nothing inside `logpipe` is instrumented. They are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path

SAMPLE_INTERVAL_S = 0.1
STATUS_WAIT_S = 5.0


class Tracer:
    """In-memory span recorder: name, start, end, parent and run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "run_id": self.run_id,
            "span_id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            self._stack.pop()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


class TreeRss:
    """Peak summed VmRSS of this process and all its descendants, sampled
    from /proc every SAMPLE_INTERVAL_S by one thread (psutil is not
    available)."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def processes() -> dict[int, tuple[int, str]]:
        """{pid: (parent pid, executable)} for every process."""
        table = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
                exe = os.readlink(f"/proc/{name}/exe")
            except OSError:  # exited since listdir, or a kernel thread
                continue
            table[int(name)] = (int(stat.rsplit(")", 1)[1].split()[1]), exe)
        return table

    @classmethod
    def descendants(cls, root: int) -> list[int]:
        """The processes below `root`, except a JVM child that has not yet
        exec'd: the JVM starts programs with vfork, and until the child
        execs it shares, and would double, the JVM's memory."""
        table = cls.processes()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, exe) in table.items():
            if ppid in table and table[ppid][1] == exe and os.path.basename(exe) == "java":
                continue
            kids.setdefault(ppid, []).append(pid)
        out, todo = [], list(kids.get(root, ()))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, ()))
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> int:
        total = sum(self._rss_kb(pid) for pid in [self.root, *self.descendants(self.root)])
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(SAMPLE_INTERVAL_S)

    def __enter__(self) -> "TreeRss":
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="tree-rss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def collect_jvm_garbage(spark) -> None:
    """Full GC in the driver JVM between staging and the timed window: the
    garbage the harness made while staging would otherwise decide how far
    the JVM heap has grown, and so the window's peak RSS."""
    spark.sparkContext._jvm.java.lang.System.gc()


def stage_counters(spark, job_group: str) -> dict:
    """Sum of the stage counters of every job run under `job_group`, read
    from the JVM status store, plus the shuffle bytes each post-shuffle task
    read. The status store is fed by an asynchronous listener, so this waits
    (up to STATUS_WAIT_S) until no stage of the group is still pending or
    active."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    deadline = time.monotonic() + STATUS_WAIT_S
    while True:
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(job_group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = []
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            if attempts.size():
                stages.append(attempts.apply(attempts.size() - 1))
        busy = [s for s in stages if s.status().toString() in ("ACTIVE", "PENDING")]
        if not busy or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    out = {"input_records": 0, "shuffle_write_bytes": 0, "post_shuffle_task_bytes": []}
    for s in stages:
        if s.status().toString() != "COMPLETE":
            continue
        out["input_records"] += s.inputRecords()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        if s.shuffleReadBytes() > 0:
            tasks = store.taskList(s.stageId(), s.attemptId(), s.numTasks())
            for k in range(tasks.size()):
                m = tasks.apply(k).taskMetrics()
                if m.isDefined():
                    r = m.get().shuffleReadMetrics()
                    out["post_shuffle_task_bytes"].append(r.localBytesRead() + r.remoteBytesRead())
    return out
