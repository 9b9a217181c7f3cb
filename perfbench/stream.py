"""Open-loop streaming: a generator thread moves pre-generated parquet
files into the directory start_stream_pipeline watches, on a fixed
schedule; each file's latency runs from when it was due until the
micro-batch that read it committed. A catch-up drain times an availableNow
query over a backlog of files, the stream's processing throughput."""

from __future__ import annotations

import json
import os
import threading
import time
from urllib.parse import unquote, urlparse

from logpipe.streaming import start_stream_pipeline

from .trace import quantile


def schedule(rates: list[float], phase_s: float, turns_per_file: int) -> list[tuple[float, int]]:
    """(due offset in seconds, phase index) per file: phase i sends one file
    every turns_per_file / rates[i] seconds for phase_s seconds."""
    out = []
    for i, rate in enumerate(rates):
        gap = turns_per_file / rate
        n = max(int(round(phase_s / gap)), 1)
        out.extend((i * phase_s + k * gap, i) for k in range(n))
    return out


def committed(ckpt: str) -> dict[str, float]:
    """{input file path: wall time its micro-batch committed}, read from the
    query's checkpoint: the file-source log names each batch's files, the
    commit log's file time is when the batch committed."""
    src = os.path.join(ckpt, "sources", "0")
    commits = os.path.join(ckpt, "commits")
    try:
        done = {int(n): os.stat(os.path.join(commits, n)).st_mtime for n in os.listdir(commits) if n.isdigit()}
        logs = sorted(os.listdir(src))
    except FileNotFoundError:
        return {}
    out = {}
    for name in logs:
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(src, name)) as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:  # compaction replaced it
            continue
        for line in lines:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:  # a log still being written
                continue
            if e.get("batchId") in done:
                out[unquote(urlparse(e["path"]).path)] = done[e["batchId"]]
    return out


class OpenLoop:
    def __init__(self, spark, pipe, work: str, staged: list[str], plan: list[tuple[float, int]], warm_files: int) -> None:
        self.spark, self.pipe = spark, pipe
        self.watch = os.path.join(work, "stream_in")
        self.out = os.path.join(work, "stream_out")
        self.ckpt = os.path.join(work, "stream_ckpt")
        os.makedirs(self.watch, exist_ok=True)
        self.staged = staged
        self.plan = plan
        self.warm = warm_files
        self.final = [os.path.join(self.watch, f"f{k:05d}.parquet") for k in range(len(staged))]
        self.due: dict[str, float] = {}
        self.moved: dict[str, float] = {}
        self.query = None
        self._warm_batches: set[int] = set()

    def _move(self, k: int) -> None:
        os.rename(self.staged[k], self.final[k])
        self.moved[self.final[k]] = time.time()

    def _wait(self, paths: list[str], deadline: float) -> dict[str, float]:
        while True:
            done = committed(self.ckpt)
            if all(p in done for p in paths) or time.time() > deadline:
                return done
            if self.query.exception() is not None:
                raise RuntimeError(f"stream query failed: {self.query.exception()}")
            time.sleep(0.2)

    def start(self, timeout: float) -> None:
        """Start the query and send the warm files one micro-batch each (untimed)."""
        self.query = start_stream_pipeline(self.spark, self.watch, self.out, self.ckpt, pipe=self.pipe, available_now=False)
        deadline = time.time() + timeout
        for k in range(self.warm):
            self._move(k)
            if self.final[k] not in self._wait([self.final[k]], deadline):
                raise RuntimeError("stream warm-up files were not committed in time")
        self._warm_batches = {p["batchId"] for p in self.query.recentProgress}

    def run(self, timeout: float) -> dict[str, float]:
        """Send the scheduled files, then wait for them to commit."""
        t0 = time.time() + 0.2
        for (off, _), k in zip(self.plan, range(self.warm, len(self.staged))):
            self.due[self.final[k]] = t0 + off

        def gen():
            for k in range(self.warm, len(self.staged)):
                p = self.final[k]
                delay = self.due[p] - time.time()
                if delay > 0:
                    time.sleep(delay)
                self._move(k)

        th = threading.Thread(target=gen, name="stream-generator", daemon=True)
        th.start()
        th.join()
        return self._wait(list(self.due), time.time() + timeout)

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()

    def progress(self) -> list[dict]:
        return [
            p for p in self.query.recentProgress
            if p.get("numInputRows", 0) > 0 and p["batchId"] not in self._warm_batches
        ]


def drain(spark, pipe, files: list[str], work: str, timeout: float) -> tuple[float, list[str]]:
    """Move `files` into `work`/in, then run an availableNow query of
    start_stream_pipeline, writing to `work`/out, until it has drained them
    and stopped (at most `timeout` seconds). Returns (seconds from the
    query's start until it stopped, the files' paths in the watched
    directory)."""
    watch = os.path.join(work, "in")
    os.makedirs(watch)
    moved = [os.path.join(watch, os.path.basename(f)) for f in files]
    for src, dst in zip(files, moved):
        os.rename(src, dst)
    t = time.perf_counter()
    query = start_stream_pipeline(
        spark, watch, os.path.join(work, "out"), os.path.join(work, "ckpt"), pipe=pipe, available_now=True
    )
    finished = query.awaitTermination(timeout)
    dt = time.perf_counter() - t
    if not finished:
        query.stop()
        raise RuntimeError(f"drain query still running after {timeout} s")
    if query.exception() is not None:
        raise RuntimeError(f"drain query failed: {query.exception()}")
    return dt, moved


def summarize(loop: OpenLoop, done: dict[str, float], rates: list[float], limit_s: float) -> dict:
    """Per phase: latency p50/p95 of the committed files, backlog growth and
    whether the rate is sustainable; plus generator lag and peak backlog."""
    lat_by_phase: dict[int, list[float]] = {i: [] for i in range(len(rates))}
    order = sorted(loop.due, key=loop.due.get)
    for (_, phase), p in zip(loop.plan, order):
        if p in done:
            lat_by_phase[phase].append(done[p] - loop.due[p])
    phases = []
    for i, rate in enumerate(rates):
        lat = lat_by_phase[i]
        n = len(lat)
        if n == 0:
            phases.append({"rate": rate, "files": 0, "p50": float("inf"), "p95": float("inf"), "growing": True, "ok": False})
            continue
        q = max(n // 4, 1)
        first, last = quantile(lat[:q], 0.5), quantile(lat[-q:], 0.5)
        growing = last > 2 * first and last - first > 1.0
        p95 = quantile(lat, 0.95)
        phases.append({"rate": rate, "files": n, "p50": quantile(lat, 0.5), "p95": p95, "growing": growing,
                       "ok": p95 <= limit_s and not growing and n == sum(1 for _, ph in loop.plan if ph == i)})
    sustainable = max((ph["rate"] for ph in phases if ph["ok"]), default=0.0)
    lag = [loop.moved[p] - loop.due[p] for p in order if p in loop.moved]
    events = sorted([(t, 1) for t in loop.due.values()] + [(done[p], -1) for p in order if p in done])
    backlog = peak = 0
    for _, d in events:
        backlog += d
        peak = max(peak, backlog)
    return {"phases": phases, "sustainable_turns_per_s": sustainable,
            "generator_lag_p95_s": quantile(lag, 0.95) if lag else 0.0, "backlog_peak_files": peak}


def progress_metrics(progress: list[dict]) -> dict:
    """Medians over the data-carrying micro-batches from Spark's query
    progress; fixed cost is the intercept of batch time against rows."""
    def med(key):
        return quantile([p["durationMs"].get(key, 0) / 1e3 for p in progress], 0.5)

    rows = [float(p["numInputRows"]) for p in progress]
    secs = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
    if len(set(rows)) > 1:
        mx, my = sum(rows) / len(rows), sum(secs) / len(secs)
        slope = sum((x - mx) * (y - my) for x, y in zip(rows, secs)) / sum((x - mx) ** 2 for x in rows)
        fixed = my - slope * mx
    else:
        fixed = quantile(secs, 0.5)
    return {
        "batches": len(progress),
        "rows_per_batch": quantile(rows, 0.5),
        "add_batch_s": med("addBatch"),
        "planning_s": med("queryPlanning"),
        "offsets_s": quantile([(p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("walCommit", 0)) / 1e3 for p in progress], 0.5),
        "commit_s": med("commitOffsets"),
        "fixed_cost_s": fixed,
        "rows": sum(rows),
        "busy_s": sum(secs),
    }
