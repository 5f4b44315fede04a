"""Traced-run support: label Spark jobs from the benchmark side and read
the per-label stage metrics back from the Spark event log.

Labels are *sticky*: ``Labels.set`` names every job the driver thread
starts until the next ``set``. The engine builds DataFrames lazily and
runs their jobs later inside the same public call, so wrapping a lazy
builder (``extract_stage``, ``pending`` ...) labels the jobs that run
from that point of the call up to the next wrapped builder. The Python
side keeps the same timeline, which gives each label its wall seconds.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import time
from collections import defaultdict


class Labels:
    """Sticky job descriptions plus the wall-time timeline behind them."""

    def __init__(self, sc, enabled: bool):
        self._sc = sc
        self.enabled = enabled
        self.role = ""
        self._open: tuple[str, float] | None = None
        self.seconds: dict[str, float] = defaultdict(float)

    def set(self, label: str | None) -> None:
        if not self.enabled:
            return
        now = time.monotonic()
        if self._open is not None:
            self.seconds[self._open[0]] += now - self._open[1]
        self._open = (label, now) if label is not None else None
        self._sc.setJobDescription(label)


@contextlib.contextmanager
def wrapped(labels: Labels, targets: list[tuple[object, str, str]]):
    """Replace ``module.name`` by a wrapper that sets the label
    ``<current role>:<label>`` before calling the original, for the
    duration of the block."""
    saved = []
    try:
        for module, name, label in targets:
            orig = getattr(module, name)

            def wrapper(*a, _orig=orig, _label=label, **kw):
                labels.set(f"{labels.role}:{_label}")
                return _orig(*a, **kw)

            saved.append((module, name, orig))
            setattr(module, name, functools.wraps(orig)(wrapper))
        yield
    finally:
        for module, name, orig in reversed(saved):
            setattr(module, name, orig)


class LabelStats:
    """Task metrics of every job carrying one label."""

    __slots__ = ("jobs", "run_ms", "gc_ms", "spill", "shuffle_write",
                 "task_ms")

    def __init__(self):
        self.jobs = 0
        self.run_ms = self.gc_ms = self.spill = self.shuffle_write = 0
        self.task_ms: list[int] = []

    @property
    def task_skew(self) -> float:
        """Slowest task over the median task (1.0 = no skew)."""
        if not self.task_ms:
            return 1.0
        ts = sorted(self.task_ms)
        return max(ts) / max(ts[len(ts) // 2], 1)


def read_event_log(log_dir: str) -> dict[str, LabelStats]:
    """Per job description: job count, task run and GC time, spill and
    shuffle bytes written, parsed from the (uncompressed) event log Spark
    wrote into ``log_dir``. Call after ``spark.stop()``, which flushes
    it."""
    stage_label: dict[int, str] = {}
    stats: dict[str, LabelStats] = defaultdict(LabelStats)
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    label = props.get("spark.job.description") or ""
                    stats[label].jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_label.setdefault(sid, label)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    s = stats[stage_label.get(ev["Stage ID"], "")]
                    s.run_ms += m["Executor Run Time"]
                    s.gc_ms += m["JVM GC Time"]
                    s.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    s.shuffle_write += m["Shuffle Write Metrics"][
                        "Shuffle Bytes Written"
                    ]
                    s.task_ms.append(m["Executor Run Time"])
    return dict(stats)


def total(stats: dict[str, LabelStats], prefix: str) -> LabelStats:
    """Sum of every label starting with ``prefix``."""
    out = LabelStats()
    for label, s in stats.items():
        if label.startswith(prefix):
            out.jobs += s.jobs
            out.run_ms += s.run_ms
            out.gc_ms += s.gc_ms
            out.spill += s.spill
            out.shuffle_write += s.shuffle_write
            out.task_ms += s.task_ms
    return out
