"""Closed-loop timing, failure accounting, tracing spans and the result
line. Spark is only touched through the ``spark`` handle a Tracer is
given, so everything else here runs without a session."""

from __future__ import annotations

import json
import re
import statistics
import time
import traceback
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

from . import procstat

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
CODEGEN_FALLBACK = "Whole-stage codegen disabled"


@dataclass
class Attempt:
    """One operation: a pipeline run, one attach, or one dedup call."""

    name: str
    ok: bool
    records: int
    wall_s: float
    problems: list[str] = field(default_factory=list)  # failed output checks
    error: str = ""  # traceback when the call raised


def attempt(name: str, call: Callable[[], object], check: Callable[[object], list[str]],
            records: int) -> tuple[Attempt, object]:
    """Time ``call`` (the program's work, outputs collected), then check
    its output untimed. An operation that raises or whose check reports
    a problem is failed and counts 0 records. Returns the attempt and
    the output (None when the call raised)."""
    t0 = time.perf_counter()
    try:
        out = call()
    except Exception:  # any failure of the program is an outcome to count
        wall = time.perf_counter() - t0
        return Attempt(name, False, 0, wall, error=traceback.format_exc(limit=3)), None
    wall = time.perf_counter() - t0
    problems = check(out)
    return Attempt(name, not problems, 0 if problems else records, wall, problems), out


@dataclass
class Iteration:
    attempts: list[Attempt]
    wall_s: float
    cpu_s: float  # without the sampler's own CPU
    sampler_cpu_s: float
    peak_rss_mb: float
    steal_pct: float
    load_1m: float
    processes: int  # size of the process tree at the end (JVM, daemon, workers)

    @property
    def records(self) -> int:
        return sum(a.records for a in self.attempts)


def timed_loop(iterate: Callable[[], list[Attempt]], seconds: float,
               sampler: procstat.PeakSampler) -> list[Iteration]:
    """Closed loop with one client: the next iteration starts when the
    previous one ends, until ``seconds`` have passed (at least one).
    Each iteration records its process-tree CPU less the sampler's own,
    peak RSS, hypervisor steal, load average and tree size so an
    outlier can be explained."""
    out: list[Iteration] = []
    deadline = time.perf_counter() + seconds
    while not out or time.perf_counter() < deadline:
        sampler.reset()
        cpu0, steal0 = procstat.tree_cpu_s(), procstat.steal_ticks()
        own0 = sampler.own_cpu_s()
        t0 = time.perf_counter()
        attempts = iterate()
        wall = time.perf_counter() - t0
        own = sampler.own_cpu_s() - own0
        cpu = procstat.tree_cpu_s() - cpu0 - own
        rss, _ = sampler.peaks()
        out.append(Iteration(attempts, wall, cpu, own, rss,
                             procstat.steal_pct(steal0, procstat.steal_ticks()),
                             procstat.loadavg_1m(), len(procstat.tree_pids())))
    return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- tracing ----------------------------------------------------------------


class Tracer:
    """Spans around the benchmark's calls into each layer: name, start,
    end, parent and run id, with process-tree CPU, Spark task counts
    per job group and codegen fallbacks counted from the captured Spark
    log. The sampler scans the scratch directory only while a span is
    open, and its own CPU is left out of the span's. Spans stay in
    memory until ``write``."""

    def __init__(self, spark, run_id: str, log_path: str, cores: int,
                 sampler: procstat.PeakSampler):
        self.spark = spark
        self.run_id = run_id
        self.log_path = log_path
        self.cores = cores
        self.sampler = sampler
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def _log_offset(self) -> int:
        with open(self.log_path, "rb") as fh:
            return fh.seek(0, 2)

    def _codegen_fallbacks(self, start: int) -> int:
        with open(self.log_path, "rb") as fh:
            fh.seek(start)
            return fh.read().decode("utf-8", "replace").count(CODEGEN_FALLBACK)

    def _task_counts(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        done = failed = 0
        for job in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage:
                    done += stage.numCompletedTasks
                    failed += stage.numFailedTasks
        return done, failed

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        group = f"{self.run_id}-{sid}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        self._stack.append(sid)
        self.sampler.scan_scratch = True
        self.sampler.reset()
        scratch0 = procstat.dir_mb(self.sampler.scratch_dir)
        log0, cpu0 = self._log_offset(), procstat.tree_cpu_s()
        own0 = self.sampler.own_cpu_s()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            cpu = procstat.tree_cpu_s() - cpu0 - (self.sampler.own_cpu_s() - own0)
            _, scratch = self.sampler.peaks()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", None)
            tasks, failed = self._task_counts(group)
            wall = t1 - t0
            rec.update(
                start_s=t0 - self._t0, end_s=t1 - self._t0, wall_s=wall, cpu_s=cpu,
                cpu_util=cpu / (wall * self.cores) if wall > 0 else 0.0,
                tasks=tasks, failed_tasks=failed,
                codegen_fallbacks=self._codegen_fallbacks(log0),
                scratch_peak_mb=max(scratch - scratch0, 0.0),
            )
            if self._stack:  # the parent's job group resumes
                sc.setJobGroup(f"{self.run_id}-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                self.sampler.scan_scratch = False

    def total(self, name: str, key: str = "wall_s") -> float:
        return sum(s.get(key, 0.0) for s in self.spans if s["name"] == name)

    def failed_tasks(self) -> int:
        """Failed Spark tasks over all spans; each span has its own job
        group, so no task counts twice."""
        return sum(s.get("failed_tasks", 0) for s in self.spans)

    def cpu_util(self, name: str) -> float:
        wall = self.total(name)
        return self.total(name, "cpu_s") / (wall * self.cores) if wall > 0 else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# -- result -----------------------------------------------------------------


def check_metric_names(names) -> list[str]:
    return [n for n in names if not (METRIC_NAME.fullmatch(n) and len(n) <= 64)]


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
