"""The two workloads: set-up, seeded inputs, the measured loop, the oracle
on every output, and the traced run's per-layer metrics."""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from pathlib import Path

from . import inputs, jobs, oracle
from . import stream as stream_mod
from .trace import RssSampler, StageMetrics, Tracer, quantile, weighted_quantile

HERE = Path(__file__).resolve().parent

END_TO_END = (
    ("setup_s", "s"),
    ("turns_per_s", "turns/s"),
)
# printed with the end-to-end metrics but not bounded: a stream run holds
# only 5-6 micro-batches, so its latency moves with every swing of the
# shared machine's speed (IQR/median 0.13-0.27 over ten seeds)
PRINTED = (("latency_p50_s", "s"), ("latency_p95_s", "s"))
_GC = lambda layer: ((f"{layer}.gc_s", "s"), (f"{layer}.spill_bytes", "bytes"))  # noqa: E731
PER_LAYER = (
    ("session.first_job_s", "s"), ("session.peak_rss_mb", "MB"),
    ("read.self_s", "s"), ("read.bytes_in", "bytes"), *_GC("read"),
    ("parse.self_s", "s"), ("parse.cpu_s", "s"), ("parse.python_wait_s", "s"),
    ("parse.matched_ratio", "ratio"), ("parse.json_share", "ratio"), *_GC("parse"),
    ("mask.self_s", "s"), ("mask.rows_redacted", "count"), *_GC("mask"),
    ("enrich.self_s", "s"), ("enrich.rows_dropped", "count"), *_GC("enrich"),
    ("route.self_s", "s"),
    *((f"route.rows.{f}", "count") for f in oracle.FAMILIES if f != "default"),
    ("route.unrouted_rows", "count"), *_GC("route"),
    ("aggregate.self_s", "s"), ("aggregate.shuffle_write_bytes", "bytes"), ("aggregate.groups_out", "count"),
    ("aggregate.task_skew", "ratio"), *_GC("aggregate"),
    ("write.self_s", "s"), ("write.bytes_out", "bytes"), ("write.files_out", "count"),
    ("write.persist_bytes", "bytes"), *_GC("write"),
    ("stream.batches", "count"), ("stream.rows_per_batch", "count"), ("stream.add_batch_s", "s"),
    ("stream.planning_s", "s"), ("stream.offsets_s", "s"), ("stream.commit_s", "s"),
    ("stream.fixed_cost_s", "s"), ("stream.backlog_files", "count"), ("stream.generator_lag_s", "s"), *_GC("stream"),
    ("dedup.exact_s", "s"), ("dedup.signature_s", "s"), ("dedup.lsh_s", "s"), ("dedup.candidate_pairs", "count"),
    ("dedup.verified_pairs", "count"), ("dedup.pair_yield", "ratio"), ("dedup.cluster_s", "s"),
    ("dedup.cluster_jobs", "count"), ("dedup.shuffle_write_bytes", "bytes"), *_GC("dedup"),
    ("trace.gap_s", "s"), ("trace.overhead_s", "s"), ("trace.spans", "count"),
    ("scaling.efficiency_1_to_nproc", "ratio"),
)


def say(msg: str) -> None:
    print(msg, flush=True)


class Run:
    """One benchmark process: its session, inputs, counters and spans."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, size: str, work: Path) -> None:
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.spec = json.loads((HERE / "spec.json").read_text())
        self.sz = self.spec["sizes"][size]
        self.work = str(work)
        self.ncpu = len(os.sched_getaffinity(0))
        self.tracer = Tracer(f"{workload}-{seed}")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layers: dict[str, dict] = {}
        self.extra: dict[str, float] = {}
        self.con = oracle.connect()

    # -- session ---------------------------------------------------------
    def start_session(self, master: str, repeats: int) -> list[float]:
        """get_spark `repeats` times at the logpipe.job prewarm level, in a
        JVM that is already up, each after stopping the session before it."""
        from logpipe.session import get_spark

        times = []
        for _ in range(repeats):
            self.spark.stop()
            with self.tracer.span("setup", master=master) as sp:
                self.spark = get_spark(f"perfbench-{self.workload}", master=master)
            times.append(sp["end"] - sp["start"])
        self.stages = StageMetrics(self.spark)
        return times

    def boot_jvm(self, master: str) -> int:
        from logpipe.session import get_spark

        os.environ["LOGPIPE_PREWARM"] = "0"
        with self.tracer.span("jvm_start"):
            self.spark = get_spark(f"perfbench-{self.workload}", master=master)
        os.environ["LOGPIPE_PREWARM"] = self.spec["prewarm"]
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    # -- bookkeeping -----------------------------------------------------
    def outcome(self, what: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)
        return not problems

    def attempt(self, what: str, fn, check) -> tuple[float, bool]:
        """Run one job, time it, then check its outputs (outside the time)."""
        t = time.perf_counter()
        try:
            fn()
        except Exception:  # a failed job is counted, the loop goes on
            dt = time.perf_counter() - t
            traceback.print_exc(file=sys.stderr)
            return dt, self.outcome(what, ["raised"])
        dt = time.perf_counter() - t
        return dt, self.outcome(what, check())

    def persisted_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))


# ---------------------------------------------------------------------------
# batch_closed_loop
# ---------------------------------------------------------------------------


class BatchInputs:
    """The three jobs' inputs, written before timing, and the oracle's
    expected sink-family counts for the transcript jobs."""

    def __init__(self, run: Run) -> None:
        sz, spark, w, seed, tpc = run.sz, run.spark, run.work, run.seed, run.spec["turns_per_conv"]
        self.mixed, self.skew_raw, self.structured = f"{w}/in_mixed", f"{w}/in_skew_raw", f"{w}/in_structured"
        self.docs, self.truth = f"{w}/in_docs", f"{w}/in_truth"
        inputs.transcripts_df(spark, seed, sz["mixed_turns"], tpc).write.parquet(self.mixed)
        inputs.transcripts_df(spark, seed + 1, sz["structured_turns"], tpc, skew=sz["structured_skew"]).write.parquet(
            self.skew_raw
        )
        # the structured fast path's rows arrive already parsed
        jobs.pipeline(spark).parsed(spark.read.parquet(self.skew_raw)).write.mode("overwrite").parquet(self.structured)
        self.corpus = inputs.write_near_dup_corpus(
            spark, self.docs, self.truth, seed + 2, sz["near_dup_base_docs"], sz["near_dup_exact_share"],
            sz["near_dup_near_share"], run.spec["near_dup_tail_words"], run.spec["near_dup_vocab"], tpc,
        )
        self.expected_mixed = oracle.expected_families(run.con, f"{self.mixed}/*.parquet")
        self.expected_structured = oracle.expected_families(run.con, f"{self.skew_raw}/*.parquet")


def batch_kinds(run: Run, pipe, inp: BatchInputs, after_job=None) -> list[tuple[str, int, callable, callable]]:
    """(kind, turns, job, check) for the cycle the closed-loop client runs."""
    spark, w, mh = run.spark, run.work, run.spec["minhash"]
    out = {k: f"{w}/out_{k}" for k in ("mixed", "structured_skewed", "near_dup")}
    hook = after_job or (lambda kind, path: None)

    def check_routed(kind, expected):
        def check():
            hook(kind, out[kind])
            return oracle.check_routed(run.con, out[kind], expected)
        return check

    def check_near():
        hook("near_dup", out["near_dup"])
        problems, recall = oracle.check_near_dup(run.con, out["near_dup"], inp.docs, inp.truth, run.spec["near_dup_recall_floor"])
        say(f"near_dup recall of planted pairs {recall:.4f} (floor {run.spec['near_dup_recall_floor']})")
        return problems

    return [
        ("mixed", run.sz["mixed_turns"], lambda: jobs.run_mixed(spark, pipe, inp.mixed, out["mixed"]),
         check_routed("mixed", inp.expected_mixed)),
        ("structured_skewed", run.sz["structured_turns"],
         lambda: jobs.run_structured(spark, pipe, inp.structured, out["structured_skewed"]),
         check_routed("structured_skewed", inp.expected_structured)),
        ("near_dup", inp.corpus["docs"], lambda: jobs.run_near_dup(spark, inp.docs, out["near_dup"], mh), check_near),
    ]


def batch_closed_loop(run: Run, inp: BatchInputs, after_job=None) -> dict:
    pipe = jobs.pipeline(run.spark)
    kinds = batch_kinds(run, pipe, inp, after_job)
    # one untimed cycle pays each job's one-time costs (code generation,
    # Python worker and parser start-up, JIT) before timing
    with run.tracer.span("warm_cycle"):
        first = [run.attempt(f"warm {k}", fn, check)[0] for k, _, fn, check in kinds]
    run.extra["session.first_job_s"] = first[0]
    if run.traced:
        return batch_traced(run, pipe, inp)
    # as many whole cycles as fill --seconds at the warm cycle's pace. Jobs
    # still speed up in the second cycle, so the count must not flip with
    # the machine's speed, as "cycles until --seconds have passed" would.
    cycles = max(1, round(run.seconds / sum(first)))
    done = []  # (kind, turns, seconds) of the timed jobs that passed
    with run.tracer.span("measure", cycles=cycles):
        for _ in range(cycles):
            for kind, turns, fn, check in kinds:
                dt, ok = run.attempt(kind, fn, check)
                if ok:
                    done.append((kind, turns, dt))
    # per kind the median job, so one cycle or more give the same mix
    med = {}
    for kind, turns, _, _ in kinds:
        ts = [d for k, _, d in done if k == kind]
        if not ts:
            raise RuntimeError(f"no timed {kind} job succeeded")
        med[kind] = (quantile(ts, 0.5), turns)
        say(f"job {kind}: median {med[kind][0]:.3f} s over {len(ts)} jobs: " + " ".join(f"{t:.3f}" for t in ts))
    # a turn's latency: from its job's start until the job's outputs are written
    lat = list(med.values())
    n = f"{len(done)} jobs"
    return {
        "turns_per_s": (sum(t for _, t in lat) / sum(d for d, _ in lat), n),
        "latency_p50_s": (weighted_quantile(lat, 0.5), n),
        "latency_p95_s": (weighted_quantile(lat, 0.95), n),
    }


def fused(run: Run, kind: str, fn, traced_fn=None) -> tuple[float, float]:
    """Time the workload's job once untraced, then once under a job group;
    returns (untraced seconds, traced seconds)."""
    with run.tracer.span(f"fused.{kind}", traced=False) as a:
        fn()
    with run.tracer.span(f"fused.{kind}", traced=True) as b:
        with run.stages.group(f"fused.{kind}"):
            (traced_fn or fn)()
    return a["end"] - a["start"], b["end"] - b["start"]


def record_plan(run: Run, what: str, problems: list[str]) -> None:
    say(f"plan check {what}: {'ok' if not problems else '; '.join(problems)}")
    run.outcome(f"plan {what}", problems)


def transcript_layers(run: Run, probe: jobs.LayerProbe, pipe, kind: str, inp: str, parsed: bool, run_fused) -> float:
    """Fused job (untraced and traced, persisted size), then per-layer probes;
    returns the fused job's untraced seconds."""
    kept = {}
    t_plain, t_traced = fused(run, kind, lambda: run_fused(keep=False), lambda: kept.update(run_fused(keep=True)))
    # the traced run left its routed frame cached: that is what run() persists
    run.layers.setdefault("write", {})
    run.layers["write"]["persist_bytes"] = run.layers["write"].get("persist_bytes", 0) + run.persisted_bytes()
    kept["routed"].unpersist()
    run.extra["trace.overhead_s"] = run.extra.get("trace.overhead_s", 0.0) + (t_traced - t_plain)
    before = dict(probe.kind_self)
    probe.transcripts(pipe, run.con, inp, kind, parsed_input=parsed)
    run.extra["trace.gap_s"] = run.extra.get("trace.gap_s", 0.0) + t_plain - (probe.kind_self.get(kind, 0.0) - before.get(kind, 0.0))
    return t_plain


def scaling(run: Run, job) -> float:
    """Seconds of `job` on a local[1] session. The JVM is already warm and
    the session's prewarm starts the Python worker and parser, so no warm
    job runs first: the figure is a slight overestimate of warm local[1]."""
    run.start_session("local[1]", 1)
    with run.tracer.span("scaling.local1") as sp:
        job(run.spark)
    return sp["end"] - sp["start"]


def batch_traced(run: Run, pipe, inp: BatchInputs) -> dict:
    spark = run.spark
    record_plan(run, "mixed", jobs.plan_check(spark, pipe, inp.mixed, parsed_input=False))
    record_plan(run, "structured_skewed", jobs.plan_check(spark, pipe, inp.structured, parsed_input=True))
    probe = jobs.LayerProbe(spark, run.tracer, run.stages, run.work, run.layers)
    t_mixed = transcript_layers(
        run, probe, pipe, "mixed", inp.mixed, False,
        lambda keep: jobs.run_mixed(spark, pipe, inp.mixed, f"{run.work}/t_mixed", keep_persisted=keep),
    )
    transcript_layers(
        run, probe, pipe, "structured_skewed", inp.structured, True,
        lambda keep: jobs.run_structured(spark, pipe, inp.structured, f"{run.work}/t_structured", keep_persisted=keep),
    )
    t_plain, t_traced = fused(run, "near_dup", lambda: jobs.run_near_dup(spark, inp.docs, f"{run.work}/t_near", run.spec["minhash"]))
    run.extra["trace.overhead_s"] += t_traced - t_plain
    probe.near_dup(inp.docs, "near_dup", run.spec["minhash"])
    run.extra["trace.gap_s"] += t_plain - probe.kind_self.get("near_dup", 0.0)
    t1 = scaling(run, lambda s: jobs.run_mixed(s, jobs.pipeline(s), inp.mixed, f"{run.work}/t_mixed1"))
    run.extra["scaling.efficiency_1_to_nproc"] = t1 / t_mixed / run.ncpu
    return {}


# ---------------------------------------------------------------------------
# stream_open_loop
# ---------------------------------------------------------------------------


class StreamInputs:
    """The open loop's files (one warm file, then the schedule's) and the
    drains' backlogs, written before timing."""

    def __init__(self, run: Run) -> None:
        sz = run.sz
        self.rates, self.tpf = sz["stream_rates_turns_per_s"], sz["stream_turns_per_file"]
        self.plan = stream_mod.schedule(self.rates, run.seconds / len(self.rates), self.tpf)
        self.warm = 1
        # the traced run reports no turns_per_s, so it drains nothing
        n_drains, self.drain_files = 0 if run.traced else sz["stream_drains"], sz["stream_drain_files"]
        n_loop = self.warm + len(self.plan)
        staged = inputs.write_stream_files(
            run.spark, f"{run.work}/stream_staging", run.seed + 3, n_loop + n_drains * self.drain_files, self.tpf,
            run.spec["turns_per_conv"],
        )
        self.loop_files = staged[:n_loop]
        self.drains = [staged[n_loop + d * self.drain_files:][:self.drain_files] for d in range(n_drains)]


def stream_open_loop(run: Run, inp: StreamInputs, after_job=None) -> dict:
    spark, rates = run.spark, inp.rates
    pipe = jobs.pipeline(spark)
    loop = stream_mod.OpenLoop(spark, pipe, f"{run.work}/stream", inp.loop_files, inp.plan, inp.warm)
    try:
        with run.tracer.span("stream.warm") as warm_span:
            loop.start(timeout=120)
        # the query's start and first micro-batch are this workload's cold first job
        run.extra["session.first_job_s"] = warm_span["end"] - warm_span["start"]
        with run.tracer.span("stream.measure", rates=rates):
            done = loop.run(run.spec["stream_commit_timeout_s"])
        progress = loop.progress()
        group = str(loop.query.runId)
    finally:
        loop.stop()
    if after_job is not None:
        after_job("stream", loop.out)
    with run.tracer.span("stream.check"):
        bad = oracle.check_stream(run.con, loop.out, loop.final)
    for p in loop.final:
        run.outcome(f"stream file {os.path.basename(p)}", ([bad[p]] if p in bad else []) + ([] if p in done else ["not committed"]))
    summary = stream_mod.summarize(loop, done, rates, run.spec["stream_latency_limit_s"])
    for i, ph in enumerate(summary["phases"]):
        say(f"latency_p50_s.r{i + 1} {ph['p50']:.4f} s  latency_p95_s.r{i + 1} {ph['p95']:.4f} s  "
            f"(rate {ph['rate']} turns/s, {ph['files']} files, backlog growing: {ph['growing']})")
    say(f"sustainable_turns_per_s {summary['sustainable_turns_per_s']} turns/s "
        f"(limit p95 <= {run.spec['stream_latency_limit_s']} s)")
    phases = summary["phases"]
    if not progress or not all(ph["files"] for ph in phases):
        raise RuntimeError("a rate had no committed file")
    pm = stream_mod.progress_metrics(progress)
    say(f"micro-batches {pm['batches']}: median {pm['rows_per_batch']:.0f} rows, fixed cost {pm['fixed_cost_s']:.3f} s, "
        f"busy {pm['busy_s']:.3f} s")
    if run.traced:
        tot = run.stages.totals(group)
        run.layers["stream"] = {
            **{k: pm[k] for k in ("batches", "rows_per_batch", "add_batch_s", "planning_s", "offsets_s", "commit_s", "fixed_cost_s")},
            "backlog_files": summary["backlog_peak_files"],
            "generator_lag_s": summary["generator_lag_p95_s"],
            "gc_s": tot["gc_s"],
            "spill_bytes": tot["spill_bytes"],
        }
        return stream_traced(run, pipe, loop)
    # catch-up throughput: a backlog drained by an availableNow query, in the
    # warm session the open loop left behind; one oracle pass checks them all
    drains = []  # (seconds, files in the watched directory)
    with run.tracer.span("stream.drains"):
        for d, files in enumerate(inp.drains):
            try:
                drains.append(stream_mod.drain(spark, pipe, files, f"{run.work}/drain{d}", run.spec["stream_commit_timeout_s"]))
            except Exception:  # a failed drain fails its files, the run goes on
                traceback.print_exc(file=sys.stderr)
                for f in files:
                    run.outcome(f"drain file {os.path.basename(f)}", ["raised"])
    moved = [p for _, ps in drains for p in ps]
    with run.tracer.span("stream.drains_check"):
        bad = oracle.check_stream(run.con, f"{run.work}/drain*/out", moved)
    for p in moved:
        run.outcome(f"drain file {os.path.basename(p)}", [bad[p]] if p in bad else [])
    drains = [dt for dt, ps in drains if not any(p in bad for p in ps)]
    if not drains:
        raise RuntimeError("no drain succeeded")
    drain_turns = inp.drain_files * inp.tpf
    say(f"drains of {drain_turns} turns: " + " ".join(f"{t:.3f}" for t in drains) + " s")
    n = f"{sum(ph['files'] for ph in phases)} files in {len(phases)} rates"
    return {
        "turns_per_s": (drain_turns / quantile(drains, 0.5), f"{len(drains)} drains of {inp.drain_files} files"),
        # each rate weighs the same, however many files it sent
        "latency_p50_s": (sum(ph["p50"] for ph in phases) / len(phases), n),
        "latency_p95_s": (sum(ph["p95"] for ph in phases) / len(phases), n),
    }


def stream_traced(run: Run, pipe, loop) -> dict:
    spark = run.spark
    # the streamed files as one batch: the same layers the micro-batches run
    inp = f"{run.work}/stream_all"
    spark.read.parquet(*loop.final).write.mode("overwrite").parquet(inp)
    record_plan(run, "stream batch", jobs.plan_check(spark, pipe, inp, parsed_input=False))
    probe = jobs.LayerProbe(spark, run.tracer, run.stages, run.work, run.layers)
    t_batch = transcript_layers(
        run, probe, pipe, "stream_batch", inp, False,
        lambda keep: jobs.run_mixed(spark, pipe, inp, f"{run.work}/t_stream", keep_persisted=keep),
    )
    t1 = scaling(run, lambda s: jobs.run_mixed(s, jobs.pipeline(s), inp, f"{run.work}/t_stream1"))
    run.extra["scaling.efficiency_1_to_nproc"] = t1 / t_batch / run.ncpu
    return {}


# ---------------------------------------------------------------------------


def per_layer(run: Run) -> dict[str, float]:
    L = run.layers
    get = lambda layer, key: float(L.get(layer, {}).get(key, 0.0))  # noqa: E731
    out = {k: run.extra[k] for k in ("session.first_job_s", "session.peak_rss_mb")}
    for layer in ("read", "parse", "mask", "enrich", "route", "aggregate", "write"):
        out[f"{layer}.self_s"] = get(layer, "self_s")
        out[f"{layer}.gc_s"] = get(layer, "gc_s")
        out[f"{layer}.spill_bytes"] = get(layer, "spill_bytes")
    out["read.bytes_in"] = get("read", "bytes_in")
    out["parse.cpu_s"] = get("parse", "cpu_s")
    out["parse.python_wait_s"] = max(get("parse", "run_s") - get("parse", "cpu_s"), 0.0)
    rows = max(get("parse", "rows"), 1.0)
    out["parse.matched_ratio"] = get("parse", "matched") / rows
    out["parse.json_share"] = get("parse", "json_rows") / rows
    out["mask.rows_redacted"] = get("mask", "rows_redacted")
    out["enrich.rows_dropped"] = get("enrich", "rows_dropped")
    for f in oracle.FAMILIES:
        if f != "default":
            out[f"route.rows.{f}"] = get("route", f"rows.{f}")
    out["route.unrouted_rows"] = get("route", "unrouted_rows")
    out["aggregate.shuffle_write_bytes"] = get("aggregate", "shuffle_write_bytes")
    out["aggregate.groups_out"] = get("aggregate", "groups_out")
    out["aggregate.task_skew"] = get("aggregate", "task_skew")
    out["write.bytes_out"] = get("write", "output_bytes")
    out["write.files_out"] = get("write", "files_out")
    out["write.persist_bytes"] = get("write", "persist_bytes")
    for k in ("batches", "rows_per_batch", "add_batch_s", "planning_s", "offsets_s", "commit_s", "fixed_cost_s",
              "backlog_files", "generator_lag_s", "gc_s", "spill_bytes"):
        out[f"stream.{k}"] = get("stream", k)
    subs = ("dedup.exact", "dedup.signature", "dedup.lsh", "dedup.cluster")
    out["dedup.exact_s"] = get("dedup.exact", "self_s")
    out["dedup.signature_s"] = get("dedup.signature", "self_s")
    out["dedup.lsh_s"] = get("dedup.lsh", "self_s")
    out["dedup.cluster_s"] = get("dedup.cluster", "self_s")
    out["dedup.candidate_pairs"] = get("dedup", "candidate_pairs")
    out["dedup.verified_pairs"] = get("dedup", "verified_pairs")
    out["dedup.pair_yield"] = get("dedup", "verified_pairs") / max(get("dedup", "candidate_pairs"), 1.0)
    out["dedup.cluster_jobs"] = get("dedup", "cluster_jobs")
    out["dedup.shuffle_write_bytes"] = sum(get(s, "shuffle_write_bytes") for s in subs)
    out["dedup.gc_s"] = sum(get(s, "gc_s") for s in subs)
    out["dedup.spill_bytes"] = sum(get(s, "spill_bytes") for s in subs)
    out["trace.gap_s"] = run.extra.get("trace.gap_s", 0.0)
    out["trace.overhead_s"] = run.extra.get("trace.overhead_s", 0.0)
    out["trace.spans"] = float(len(run.tracer.spans))
    out["scaling.efficiency_1_to_nproc"] = run.extra.get("scaling.efficiency_1_to_nproc", 0.0)
    return out


def run(workload: str, seed: int, seconds: float, traced: bool, size: str, work: Path, after_job=None) -> dict:
    """One benchmark run; returns the result object the CLI prints last.
    `after_job(kind, out_dir)` is called on each output before its check."""
    bench = Run(workload, seed, seconds, traced, size, work)
    master = f"local[{bench.ncpu}]"
    make_inputs, workload_fn = {
        "batch_closed_loop": (BatchInputs, batch_closed_loop),
        "stream_open_loop": (StreamInputs, stream_open_loop),
    }[workload]
    jvm_pid = bench.boot_jvm(master)
    try:
        with RssSampler(jvm_pid) as rss:
            # the boot session writes the inputs; that work also warms the
            # JVM, so the first set-up does not pay for its cold start
            with bench.tracer.span("inputs"):
                inp = make_inputs(bench)
            # the traced run reports no setup_s, so it sets up once
            setup = bench.start_session(master, 1 if traced else bench.spec["setup_repeats"])
            e2e = workload_fn(bench, inp, after_job)
    finally:
        bench.spark.stop()
    e2e["setup_s"] = (quantile(setup, 0.5), f"{len(setup)} set-ups: " + " ".join(f"{t:.3f}" for t in setup))
    bench.extra["session.peak_rss_mb"] = rss.peak / 2**20
    say(f"peak_rss_mb {rss.peak / 2**20:.1f} MB (samples: {rss.samples}; the JVM alone {rss.peak_jvm / 2**20:.1f} MB)")
    phases = {}
    for sp in bench.tracer.spans:
        if sp["parent"] is None:
            phases[sp["name"]] = phases.get(sp["name"], 0.0) + sp["end"] - sp["start"]
    say("wall time by phase: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    error_rate = bench.failed / max(bench.attempted, 1)
    for p in bench.problems[:20]:
        say(f"FAILED {p}")
    say(f"error_rate {error_rate:.6f} ({bench.failed} of {bench.attempted} jobs/files)")
    if traced:
        metrics = per_layer(bench)
        units = dict(PER_LAYER)
        out_dir = HERE.parent / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        trace_file = out_dir / f"trace_{workload}_seed{seed}.json"
        trace_file.write_text(json.dumps({"spans": bench.tracer.spans, "layers": bench.layers, "metrics": metrics}, default=str))
        say(f"spans and layer totals written to {trace_file}")
        result = {k: {"value": float(metrics[k]), "unit": units[k]} for k, _ in PER_LAYER}
    else:
        units = dict(END_TO_END)
        result = {}
        for k, unit in END_TO_END + PRINTED:
            value, n = e2e[k]
            say(f"{k} {value:.6g} {unit} (samples: {n})")
            if k in units:
                result[k] = {"value": float(value), "unit": unit}
    return {"correct": bench.failed == 0, "attempted": bench.attempted, "failed": bench.failed, "metrics": result}
