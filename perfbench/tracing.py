"""In-memory spans around calls into the engine's layers, with Spark's own
per-job accounting attributed to each span.

A span records its name, start, end and parent. While a span is open, its
id is the thread's Spark job group, so every job the call launches lands
in that group. After the traced pass, ``attribute_spark`` reads the
status store once (after the listener bus drains) and attaches the jobs,
tasks, executor run time, GC time, deserialize time and shuffle bytes of
each span's group to it, so the timed region pays only for the span
bookkeeping. Nothing is written until the run ends. A disabled tracer
only times the root operations the benchmark needs anyway.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import time

SPARK_FIELDS = ("jobs", "tasks", "executor_run_s", "gc_s", "deserialize_s",
                "shuffle_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self.phase = "setup"  # "setup", "warm" or "measure"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time one call into a layer; ``attrs`` are kept with the span."""
        rec = {"name": name, "attrs": dict(attrs), "parent": None,
               "children_s": 0.0, "phase": self.phase}
        if not self.enabled:
            yield rec
            return
        rec["id"] = next(self._ids)
        rec["group"] = f"perfbench-{os.getpid()}-{rec['id']}"
        parent = self._stack[-1] if self._stack else None
        rec["parent"] = parent["id"] if parent else None
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if parent is not None:
                parent["children_s"] += rec["dur_s"]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def record(self, name: str, dur_s: float, parent: dict | None = None,
               group: str | None = None) -> dict:
        """Add a finished span timed elsewhere: by another thread, or by
        Spark itself (streaming progress). Jobs of ``group`` (Spark tags a
        streaming query's jobs with its run id) are attributed to it by
        ``attribute_spark``."""
        rec = {"name": name, "attrs": {}, "phase": self.phase,
               "parent": parent["id"] if parent else None,
               "children_s": 0.0, "id": next(self._ids), "dur_s": dur_s,
               "group": group}
        if parent is not None:
            parent["children_s"] += dur_s
        self.spans.append(rec)
        return rec

    def attribute_spark(self, skip_jobs=()) -> None:
        """Attach Spark's accounting to every span that has none yet: the
        jobs of the span's group, less ``skip_jobs`` (jobs counted
        before the span began)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if "spark" in rec:
                continue
            acc = dict.fromkeys(SPARK_FIELDS, 0.0)
            jobs = tracker.getJobIdsForGroup(rec["group"]) if rec["group"] \
                else []
            for job in set(jobs) - set(skip_jobs):
                jd = store.job(job)
                acc["jobs"] += 1
                acc["tasks"] += jd.numCompletedTasks() + jd.numFailedTasks()
                for stage in tracker.getJobInfo(job).stageIds:
                    sd = store.lastStageAttempt(stage)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    acc["executor_run_s"] += sd.executorRunTime() / 1e3
                    acc["gc_s"] += sd.jvmGcTime() / 1e3
                    acc["deserialize_s"] += sd.executorDeserializeTime() / 1e3
                    acc["shuffle_bytes"] += (sd.shuffleReadBytes()
                                             + sd.shuffleWriteBytes())
            rec["spark"] = acc

    # -- summaries -----------------------------------------------------------

    def by_name(self, name: str, phase: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (phase is None or s["phase"] == phase)]

    def mean(self, name: str, phase: str = "measure") -> float:
        """Mean duration of the named spans of one phase (0 if none)."""
        spans = self.by_name(name, phase)
        return sum(s["dur_s"] for s in spans) / max(1, len(spans))

    def self_times(self, phase: str = "measure") -> dict[str, float]:
        """Per span name: summed duration minus the time its child spans
        cover (children never overlap: spans nest on one thread)."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["phase"] == phase:
                out[s["name"]] = out.get(s["name"], 0.0) + (
                    s["dur_s"] - s["children_s"])
        return out

    def spark_totals(self, phase: str = "measure") -> dict[str, float]:
        """Spark accounting summed over every span of one phase."""
        acc = dict.fromkeys(SPARK_FIELDS, 0.0)
        for s in self.spans:
            if s["phase"] == phase:
                for k in SPARK_FIELDS:
                    acc[k] += s.get("spark", {}).get(k, 0.0)
        return acc

    def dump(self) -> list[dict]:
        keep = ("id", "parent", "name", "phase", "dur_s", "children_s",
                "attrs", "spark")
        return [{k: s[k] for k in keep if k in s} for s in self.spans]


def descendants(root_pid: int | None = None) -> list[int]:
    """Live (not zombie) processes below ``root_pid`` (default: this
    process): the JVM, its Python workers, the feed generator."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        except OSError:
            continue  # the process ended while we looked
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(entry))
    found, todo = [], [root_pid or os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        found += kids
        todo += kids
    return found


def process_tree_rss_mb(root_pid: int | None = None) -> float:
    """Resident memory of this process and all its descendants, summed
    from /proc."""
    root_pid = root_pid or os.getpid()
    pages = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            continue  # the process ended while we looked
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Peak process-tree RSS, sampled on a background thread."""

    def __init__(self, enabled: bool, interval_s: float = 0.5) -> None:
        import threading

        self.enabled = enabled
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._interval = interval_s
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, process_tree_rss_mb())
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if not self.enabled:
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, process_tree_rss_mb())
