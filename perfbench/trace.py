"""Spans around layer calls, with the Spark stage counters of each span.

A span records its name, start, end and parent. In a traced run every
span also runs its Spark jobs under a job group of its own; when the
span ends, the group's stages are read back from the status store
(``spark.ui.enabled=false`` keeps the store, only the UI is off). Spans
stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import ctypes
import gc
import itertools
import json
import time
import traceback
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JError


def proc_status_mb(pid: int | str, key: str) -> float:
    """A memory field of ``/proc/<pid>/status`` (VmRSS, VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"{key} missing for pid {pid}")


def reset_peak_rss() -> float:
    """Hand memory this process no longer uses back to the OS (Python
    garbage, then the C heap's free pages), reset its peak RSS (VmHWM)
    to the current RSS, and return that RSS in MB."""
    gc.collect()
    ctypes.CDLL(None).malloc_trim(0)
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")
    return proc_status_mb("self", "VmRSS")


class Stopwatch:
    """Accumulates time between ``start`` and ``stop``, so a job can
    leave its untimed output collection out of its wall time. It also
    keeps this process's peak RSS over the timed sections, and the
    peak's largest rise over the RSS at the start of a section; the peak
    is reset before each section's clock starts, so memory that set-up
    and the untimed checks used does not count."""

    def __init__(self) -> None:
        self.total = 0.0
        self.peak_rss_mb = 0.0
        self.rss_rise_mb = 0.0
        self._rss0 = 0.0
        self._t0: float | None = None

    def start(self) -> None:
        self._rss0 = reset_peak_rss()
        self._t0 = time.perf_counter()

    def stop(self) -> float:
        self.total += time.perf_counter() - self._t0
        self._t0 = None
        peak = proc_status_mb("self", "VmHWM")
        self.peak_rss_mb = max(self.peak_rss_mb, peak)
        self.rss_rise_mb = max(self.rss_rise_mb, peak - self._rss0)
        return self.total


@dataclass
class Span:
    name: str
    job: int  # the job (request) the span belongs to
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    child_s: float = 0.0
    failed: bool = False
    error: str = ""
    rows_out: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise only counts calls and
    failures, so an untraced run pays for nothing but the clock."""

    spark: object
    enabled: bool
    cores: int
    spans: list[Span] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failed_checks: list[str] = field(default_factory=list)
    job: int = 0
    _stack: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)

    @contextmanager
    def span(self, name: str):
        """Time one layer call; re-raises what the call raises."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.job, next(self._ids), parent.span_id if parent else None,
                  time.perf_counter())
        sc = self.spark.sparkContext
        group = f"perfbench-{sp.span_id}"
        if self.enabled:
            sc.setJobGroup(group, name)
        self._stack.append(sp)
        try:
            yield sp
        except Exception as exc:
            sp.failed = True
            sp.error = "".join(traceback.format_exception_only(type(exc), exc))[-600:]
            raise
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.wall_s
            if self.enabled:
                self._read_stages(sp, group)
                if parent is not None:
                    sc.setJobGroup(f"perfbench-{parent.span_id}", parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                self.spans.append(sp)

    def call(self, name: str, fn, *args, **kwargs):
        """One counted layer call: returns ``fn``'s result, or None when
        it raised (the failure is counted, the run goes on)."""
        self.attempted += 1
        try:
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, list):
                    sp.rows_out = len(out)
                return out
        except Exception:  # a failing layer call is a measured outcome
            self.failed += 1
            return None

    def check(self, ok: bool, what: str) -> bool:
        """Count a failed output check as a failed operation."""
        if not ok:
            self.failed += 1
            self.failed_checks.append(what)
        return ok

    @contextmanager
    def wrapped(self, targets: list[tuple[object, str, str]]):
        """While held, each ``(module, attr, span_name)`` function runs
        inside a span of its own, so calls the program makes internally
        (e.g. the pipeline's global pass into canonicalize and rank)
        show up as child spans. Module attributes are restored on exit."""
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]

        def wrap(fn, name):
            def traced(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)
            return traced

        for (mod, attr, fn), (_, _, name) in zip(saved, targets):
            setattr(mod, attr, wrap(fn, name))
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def _read_stages(self, sp: Span, group: str) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JError:  # skipped stage: its shuffle was reused
                    continue
                sp.stages += 1
                sp.tasks += st.numTasks()
                sp.run_ms += st.executorRunTime()
                sp.cpu_ms += st.executorCpuTime() / 1e6
                sp.shuffle_write_bytes += st.shuffleWriteBytes()
                sp.spill_bytes += st.diskBytesSpilled() + st.memoryBytesSpilled()

    def layer_metrics(self, job: int) -> dict[str, float]:
        """Per-layer measures of one job, summed over its spans of the
        same name."""
        out: dict[str, float] = {}
        by_name: dict[str, list[Span]] = {}
        for sp in self.spans:
            if sp.job == job:
                by_name.setdefault(sp.name, []).append(sp)
        for name, sps in by_name.items():
            self_s = sum(s.self_s for s in sps)
            run_s = sum(s.run_ms for s in sps) / 1000.0
            out[f"{name}.s"] = self_s
            out[f"{name}.rows_out"] = sum(s.rows_out for s in sps)
            out[f"{name}.stages"] = sum(s.stages for s in sps)
            out[f"{name}.tasks"] = sum(s.tasks for s in sps)
            out[f"{name}.shuffle_write_mb"] = sum(s.shuffle_write_bytes for s in sps) / 2**20
            out[f"{name}.spill_mb"] = sum(s.spill_bytes for s in sps) / 2**20
            out[f"{name}.busy_frac"] = run_s / (self_s * self.cores) if self_s > 0 else 0.0
            out[f"{name}.failed"] = sum(1 for s in sps if s.failed)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f, indent=1)
