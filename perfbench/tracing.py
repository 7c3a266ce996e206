"""Spans around the benchmark's calls into the program, the shims that
add spans inside ``engine.table_format`` and ``engine.tests`` in a traced
run, and the fold of Spark's event log onto spans.

Spans live in memory and are read out when the run ends. A disabled
tracer records nothing and its ``span`` is a no-op, so the untraced run
pays one attribute check per call.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict
from pathlib import Path

from stats import median, self_time

# Task metrics folded per span: (metric suffix, event-log extractor).
MB = 1e6
TASK_METRICS = {
    "cpu_s": lambda tm, acc: tm.get("Executor CPU Time", 0) / 1e9,
    "gc_s": lambda tm, acc: tm.get("JVM GC Time", 0) / 1e3,
    "shuffle_read_mb": lambda tm, acc: (
        tm.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
        + tm.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
    ) / MB,
    "shuffle_write_mb": lambda tm, acc: (
        tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
    ),
    "spill_mb": lambda tm, acc: (
        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    ) / MB,
    "python_mb": lambda tm, acc: (
        acc.get("data sent to Python workers", 0)
        + acc.get("data returned from Python workers", 0)
    ) / MB,
}
GROUP_PREFIX = "perfbench-"


class Tracer:
    """Records ``(name, parent, unit, start, end)`` spans.

    A span opened on a thread with no open span of its own (a
    ``ModelGraph`` pool thread, a streaming ``foreachBatch`` callback)
    takes the main thread's innermost open span as its parent: that is
    the call the thread works for.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        # (name, unit, value, name of the main thread's innermost open span)
        self.counters: list[tuple[str, int | None, float, str | None]] = []
        self.unit: int | None = None  # 0 inside the run's unit, None in set-up
        self.spark_context = None
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, job_group: bool = False):
        """Time the body as span ``name``. With ``job_group`` the Spark
        jobs the body submits from this thread carry the span's id as
        their job group, which is how the event-log fold finds them."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "unit": self.unit, "start": time.time(), "end": None, "group": None}
            self.spans.append(rec)
        if job_group and self.spark_context is not None:
            rec["group"] = f"{GROUP_PREFIX}{rec['id']}"
            self.spark_context.setJobGroup(rec["group"], name)
        stack.append(rec["id"])
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()
            if rec["group"] is not None:
                self.spark_context.setLocalProperty("spark.jobGroup.id", None)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                under = self.spans[self._main_stack[-1]]["name"] if self._main_stack else None
                self.counters.append((name, self.unit, value, under))

    # -- read-out ---------------------------------------------------------

    @staticmethod
    def unit_sums(values: list[tuple[str, int | None, float]]) -> dict[str, float]:
        """Sum ``(name, unit, value)`` triples by name over the unit,
        leaving out those of the set-up (unit None)."""
        sums: dict[str, float] = defaultdict(float)
        for name, unit, value in values:
            if unit is not None:
                sums[name] += value
        return dict(sums)

    def span_seconds(self) -> dict[str, float]:
        """Total duration of every span name in the unit."""
        return self.unit_sums(
            [(s["name"], s["unit"], s["end"] - s["start"]) for s in self.spans if s["end"]]
        )

    def self_seconds(self) -> dict[str, float]:
        """Self time of every span name in the unit."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                children[s["parent"]].append((s["start"], s["end"]))
        return self.unit_sums(
            [
                (s["name"], s["unit"], self_time((s["start"], s["end"]), children[s["id"]]))
                for s in self.spans if s["end"]
            ]
        )

    def setup_seconds(self) -> dict[str, float]:
        """Median over set-ups of each set-up span (spans outside the unit)."""
        by_name: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            if s["unit"] is None and s["end"]:
                by_name[s["name"]].append(s["end"] - s["start"])
        return {name: median(v) for name, v in by_name.items()}


# -- shims ------------------------------------------------------------------


def _dir_files(path: Path) -> tuple[int, int]:
    files = [p for p in Path(path).rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def install_shims(tracer: Tracer) -> None:
    """Wrap ``LocalParquetFormat``'s public methods and ``DataTest.run``
    in spans, for the rest of the process; the write shim also counts
    the files and bytes the write left on disk."""
    from oroboro_dw_dbt_spark.engine.table_format import LocalParquetFormat
    from oroboro_dw_dbt_spark.engine.tests import DataTest

    def wrap(cls: type, attr: str, span_name: str, after=None) -> None:
        orig = cls.__dict__[attr]

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            with tracer.span(span_name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(*args, **kwargs)
            return out

        setattr(cls, attr, shim)

    def count_write(self, df, path, partition_by=()) -> None:
        files, size = _dir_files(path)
        tracer.count("table_format.files_written", files)
        tracer.count("table_format.bytes_written", size)

    wrap(LocalParquetFormat, "write", "table_format.write", after=count_write)
    wrap(LocalParquetFormat, "read", "table_format.read")
    wrap(LocalParquetFormat, "replace", "table_format.replace")
    wrap(DataTest, "run", "tests.run")


# -- event log --------------------------------------------------------------


def read_jobs(log_dir: Path) -> list[dict]:
    """One record per Spark job in every event log under ``log_dir``:
    submission time (epoch ms), job group, task count and the task
    metrics of ``TASK_METRICS`` summed over the job's tasks."""
    jobs: list[dict] = []
    for path in sorted(Path(log_dir).iterdir()):
        stage_job: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    job = {"submit": e["Submission Time"],
                           "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                           "tasks": 0, **{k: 0.0 for k in TASK_METRICS}}
                    jobs.append(job)
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = job
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(e["Stage ID"])
                    tm = e.get("Task Metrics")
                    if job is None or tm is None:
                        continue
                    acc = {a.get("Name"): _num(a.get("Update"))
                           for a in e.get("Task Info", {}).get("Accumulables", [])}
                    job["tasks"] += 1
                    for k, fn in TASK_METRICS.items():
                        job[k] += fn(tm, acc)
    return jobs


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _windows(spans: list[dict], names) -> list[tuple[float, float, dict]]:
    return [(s["start"] * 1000, s["end"] * 1000, s) for s in spans if s["name"] in names and s["end"]]


def fold_jobs(jobs: list[dict], spans: list[dict], names: tuple[str, ...], unit_name: str):
    """Attribute each job to one span named in ``names``: by job group
    when the span set one, else by the span whose wall interval holds
    the job's submission time (``ModelGraph.run`` submits from pool
    threads that do not inherit the caller's group; a stream submits
    from its own thread). Returns ``(triples, unattributed)``: the
    triples are ``(metric, unit, value)`` for ``Tracer.unit_sums``, and
    ``unattributed`` counts the jobs submitted inside a ``unit_name``
    span that no span in ``names`` claims (set-up and check jobs fall
    outside every unit and are not counted)."""
    by_group = {s["group"]: s for s in spans if s["group"]}
    windows = _windows(spans, names)
    units = _windows(spans, (unit_name,))
    triples: list[tuple[str, int | None, float]] = []
    unattributed = 0
    for job in jobs:
        span = by_group.get(job["group"])
        if span is not None and span["name"] not in names:
            span = None
        if span is None:
            span = next((s for a, b, s in windows if a <= job["submit"] <= b), None)
        if span is None:
            unattributed += any(a <= job["submit"] <= b for a, b, _ in units)
            continue
        name, unit = span["name"], span["unit"]
        triples.append((f"{name}.jobs", unit, 1))
        triples.append((f"{name}.tasks", unit, job["tasks"]))
        for k in TASK_METRICS:
            triples.append((f"{name}.{k}", unit, job[k]))
    return triples, unattributed
