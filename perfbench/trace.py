"""Measurement helpers: spans, Spark stage metrics by job group, resident
memory of the JVM and its Python workers, plan inspection, quantiles."""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def weighted_quantile(pairs: list[tuple[float, float]], q: float) -> float:
    """Quantile of (value, weight) pairs: the smallest value whose
    cumulative weight reaches q of the total."""
    xs = sorted(pairs)
    target = q * sum(w for _, w in xs)
    cum = 0.0
    for v, w in xs:
        cum += w
        if cum >= target:
            return v
    return xs[-1][0]


class Tracer:
    """Spans kept in memory until the run ends: name, start, end, parent
    span and attributes; every span of a run carries the run's id."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "run": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


class StageMetrics:
    """Stage metrics of the jobs run under one Spark job group, read from
    Spark's own status store (populated with the UI off)."""

    FIELDS = ("run_s", "cpu_s", "gc_s", "input_bytes", "output_bytes", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    @contextlib.contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _stages(self, name: str) -> tuple[int, list]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(name)
        ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        return len(jobs), [self.store.lastStageAttempt(sid) for sid in sorted(ids)]

    def totals(self, name: str) -> dict:
        n_jobs, stages = self._stages(name)
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["jobs"] = n_jobs
        for s in stages:
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["input_bytes"] += s.inputBytes()
            out["output_bytes"] += s.outputBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def reduce_task_skew(self, name: str) -> float:
        """max / median task run time over the tasks of the group's stages
        that read a shuffle (the post-exchange side of an aggregate)."""
        _, stages = self._stages(name)
        ratios = []
        for s in stages:
            if s.shuffleReadBytes() <= 0:
                continue
            tasks = self.store.taskList(s.stageId(), s.attemptId(), 100000)
            times = [tasks.apply(k).duration().get() for k in range(tasks.size()) if tasks.apply(k).duration().isDefined()]
            if times:
                ratios.append(max(times) / max(statistics.median(times), 1))
        return max(ratios) if ratios else 1.0


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_problems(plan: str, want: dict[str, bool], exchanges: int | None = None) -> list[str]:
    """`want` maps an operator name to whether it must (True) or must not
    (False) appear; `exchanges` is the exact number of shuffle exchanges."""
    problems = [
        f"plan {'lacks' if must else 'has'} {op}" for op, must in want.items() if (op in plan) != must
    ]
    if exchanges is not None:
        n = sum(1 for line in plan.splitlines() if "Exchange hashpartitioning" in line and "Broadcast" not in line)
        if n != exchanges:
            problems.append(f"plan has {n} shuffle exchanges, want {exchanges}")
    return problems


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


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared with the forking parent count
    once across the Python workers instead of once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Samples the resident memory of the Spark JVM (its RSS) plus the
    Python workers it forks (their PSS) from /proc every `interval` seconds."""

    def __init__(self, root_pid: int, interval: float = 0.2) -> None:
        self.root = root_pid
        self.interval = interval
        self.peak = 0
        self.peak_jvm = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> int:
        kids = _children()
        jvm = _rss_bytes(self.root)
        total, todo = jvm, list(kids.get(self.root, ()))
        while todo:
            pid = todo.pop()
            total += _pss_bytes(pid)
            todo.extend(kids.get(pid, ()))
        self.peak = max(self.peak, total)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.samples += 1
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
