"""The benchmark's jobs, each a call into logpipe's public functions, and
the per-layer probes of the traced run."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from logpipe import datagen, dedup
from logpipe import mask as mask_mod
from logpipe.aggregate import per_sink_counts
from logpipe.enrich import enrich
from logpipe.pipeline import TranscriptPipeline
from logpipe.route import fan_out, resolve_sink

from . import oracle
from .trace import executed_plan, plan_problems


def pipeline(spark) -> TranscriptPipeline:
    return TranscriptPipeline(role_dim=datagen.role_dim(spark), tool_dim=datagen.tool_dim(spark))


def run_mixed(spark, pipe, inp: str, out: str, keep_persisted: bool = False) -> dict:
    """Raw transcripts, the way logpipe.job runs a batch: TranscriptPipeline.run(out_dir)."""
    return pipe.run(spark, spark.read.parquet(inp), out_dir=out, keep_routed_persisted=keep_persisted)


def run_structured(spark, pipe, inp: str, out: str, keep_persisted: bool = False) -> dict:
    """Pre-parsed rows on the structured-object fast path: routed_parsed ->
    fan_out + aggregates, the same writes run(out_dir) makes."""
    routed = pipe.routed_parsed(spark.read.parquet(inp)).persist()
    fan_out(routed.withColumn("fields", F.to_json("fields")), f"{out}/routed", mode="overwrite")
    aggs = pipe.aggregates(routed)
    aggs.write.mode("overwrite").parquet(f"{out}/aggregates")
    if not keep_persisted:
        routed.unpersist()
    return {"routed": routed, "aggregates": aggs}


def run_near_dup(spark, docs: str, out: str, mh: dict) -> None:
    """exact_dedup -> minhash_signatures -> minhash_lsh_pairs -> duplicate_clusters."""
    dedup.exact_dedup(spark.read.parquet(docs), cols=["text"], keep_col="doc_id").write.mode("overwrite").parquet(
        f"{out}/unique"
    )
    sigs = dedup.minhash_signatures(spark.read.parquet(f"{out}/unique"), n=mh["shingle_words"], num_hashes=mh["num_hashes"])
    pairs = dedup.minhash_lsh_pairs(sigs, bands=mh["bands"], threshold=mh["threshold"], num_hashes=mh["num_hashes"])
    pairs.write.mode("overwrite").parquet(f"{out}/pairs")
    dedup.release(pairs)
    dedup.duplicate_clusters(spark.read.parquet(f"{out}/pairs")).write.mode("overwrite").parquet(f"{out}/clusters")


def plan_check(spark, pipe, inp: str, parsed_input: bool) -> list[str]:
    """The frames a batch job writes must run every layer: the parse UDF
    (ArrowEvalPython) unless the input is pre-parsed, the mask regexes, the
    enrichment broadcast joins, and exactly one shuffle for the aggregate."""
    df = spark.read.parquet(inp)
    routed = pipe.routed_parsed(df) if parsed_input else pipe.routed(df)
    written = executed_plan(routed.withColumn("fields", F.to_json("fields")))
    problems = plan_problems(
        written,
        {"ArrowEvalPython": not parsed_input, "regexp_replace": True, "BroadcastHashJoin": True},
        exchanges=0,
    )
    return problems + plan_problems(executed_plan(pipe.aggregates(routed)), {}, exchanges=1)


def _files_under(path: str) -> int:
    return sum(len([f for f in fs if not f.startswith((".", "_"))]) for _, _, fs in os.walk(path))


class LayerProbe:
    """Times one layer from outside: the layer's input is materialized
    untimed, then the call into the layer's public function plus a noop
    write is timed under a job group named after the layer. Self time is
    that call minus a noop scan of the materialized input."""

    def __init__(self, spark, tracer, stages, work: str, layers: dict) -> None:
        self.spark, self.tracer, self.stages, self.work = spark, tracer, stages, work
        self.layers = layers  # layer -> accumulated metrics
        self.kind_self: dict[str, float] = {}  # job kind -> summed layer self time

    def _acc(self, layer: str, **vals) -> None:
        d = self.layers.setdefault(layer, {})
        for k, v in vals.items():
            d[k] = d.get(k, 0.0) + v

    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def time_call(self, layer: str, kind: str, make_df, scan_path: str | None, action=None) -> dict:
        scan_s = 0.0
        if scan_path is not None:
            with self.tracer.span(f"{layer}.input_scan", kind=kind) as sp:
                self._noop(self.spark.read.parquet(scan_path))
            scan_s = sp["end"] - sp["start"]
        group = f"{layer}.{kind}"
        with self.tracer.span(layer, kind=kind, job_group=group) as sp:
            with self.stages.group(group):
                if action is not None:
                    action()
                else:
                    self._noop(make_df())
        tot = self.stages.totals(group)
        sp["attrs"].update(tot)
        self_s = (sp["end"] - sp["start"]) - scan_s
        self._acc(layer, self_s=self_s, **{k: tot[k] for k in self.stages.FIELDS})
        self.kind_self[kind] = self.kind_self.get(kind, 0.0) + self_s
        return tot

    def _materialize(self, df, name: str) -> str:
        path = os.path.join(self.work, name)
        df.write.mode("overwrite").parquet(path)
        return path

    def transcripts(self, pipe, con, inp: str, kind: str, parsed_input: bool) -> None:
        """read -> [parse] -> mask -> enrich -> route -> aggregate -> write,
        stage by stage the way TranscriptPipeline.routed_parsed composes them."""
        read = self.spark.read.parquet
        self.time_call("read", kind, lambda: read(inp), None)
        self._acc("read", bytes_in=sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(inp) for f in fs
                                       if f.endswith(".parquet")))
        if parsed_input:
            parsed = inp
        else:
            self.time_call("parse", kind, lambda: pipe.parsed(read(inp)), inp)
            parsed = self._materialize(pipe.parsed(read(inp)), f"layer_{kind}_parsed")
            n, matched, json_rows = con.execute(
                f"SELECT count(*), count(*) FILTER (WHERE matched), "
                f"count(*) FILTER (WHERE regexp_matches(text, '^\\s*\\[?\\{{.*\\}}\\]?')) "
                f"FROM read_parquet('{parsed}/*.parquet')"
            ).fetchone()
            self._acc("parse", rows=n, matched=matched, json_rows=json_rows)

        def unmasked():
            df = read(parsed)
            return df if pipe.carry_text or "text" not in df.columns else df.drop("text")

        self.time_call("mask", kind, lambda: mask_mod.mask_content(unmasked(), cols=["message"]), parsed)
        masked = self._materialize(mask_mod.mask_content(unmasked(), cols=["message"]), f"layer_{kind}_masked")
        redacted, n_masked = con.execute(
            f"SELECT count(*) FILTER (WHERE regexp_matches(message, '<EMAIL>|<IP>|<API_KEY>')), count(*) "
            f"FROM read_parquet('{masked}/*.parquet')"
        ).fetchone()
        self._acc("mask", rows_redacted=redacted)

        def enriched_df():
            df = enrich(read(masked), pipe.role_dim, on="role", prefix="role_")
            return enrich(df, pipe.tool_dim, on="tool", prefix="tool_")

        self.time_call("enrich", kind, enriched_df, masked)
        enriched = self._materialize(enriched_df(), f"layer_{kind}_enriched")

        def routed_df():
            return resolve_sink(
                read(enriched), mapper=pipe.mapper, source_col="log_source",
                default_index=pipe.default_index, drop_unrouted=pipe.drop_unrouted,
            )

        self.time_call("route", kind, routed_df, enriched)
        routed = self._materialize(routed_df(), f"layer_{kind}_routed")
        fams = dict(
            con.execute(
                f"SELECT {oracle.SINK_FAMILY_SQL}, count(*) FROM read_parquet('{routed}/*.parquet') GROUP BY 1"
            ).fetchall()
        )
        n_routed = sum(fams.values())
        self._acc("enrich", rows_dropped=n_masked - n_routed)
        self._acc("route", unrouted_rows=fams.get(pipe.default_index, 0) + fams.get("<null>", 0))
        self._acc("route", **{f"rows.{f}": fams.get(f, 0) for f in oracle.FAMILIES if f != "default"})

        self.time_call("aggregate", kind, lambda: per_sink_counts(read(routed)), routed)
        self._acc("aggregate", groups_out=per_sink_counts(read(routed)).count())
        skew = self.stages.reduce_task_skew(f"aggregate.{kind}")
        cur = self.layers["aggregate"].get("task_skew", 0.0)
        self.layers["aggregate"]["task_skew"] = max(cur, skew)

        out = os.path.join(self.work, f"layer_{kind}_out")

        def write_outputs():
            df = read(routed)
            fan_out(df.withColumn("fields", F.to_json("fields")), f"{out}/routed", mode="overwrite")
            pipe.aggregates(df).write.mode("overwrite").parquet(f"{out}/aggregates")

        self.time_call("write", kind, None, routed, action=write_outputs)
        self._acc("write", files_out=_files_under(out))

    def near_dup(self, docs: str, kind: str, mh: dict) -> None:
        read = self.spark.read.parquet
        self.time_call("dedup.exact", kind, lambda: dedup.exact_dedup(read(docs), cols=["text"], keep_col="doc_id"), docs)
        unique = self._materialize(dedup.exact_dedup(read(docs), cols=["text"], keep_col="doc_id"), f"layer_{kind}_unique")

        def sigs_df():
            return dedup.minhash_signatures(read(unique), n=mh["shingle_words"], num_hashes=mh["num_hashes"])

        self.time_call("dedup.signature", kind, sigs_df, unique)
        sigs = self._materialize(sigs_df(), f"layer_{kind}_sigs")

        def pairs_df(threshold: float):
            return dedup.minhash_lsh_pairs(
                read(sigs), bands=mh["bands"], threshold=threshold, num_hashes=mh["num_hashes"], persist_signatures=False
            )

        # every band-collision candidate: verification keeps est_jaccard >= 0
        candidates = pairs_df(0.0).count()
        self.time_call("dedup.lsh", kind, lambda: pairs_df(mh["threshold"]), sigs)
        pairs = self._materialize(pairs_df(mh["threshold"]), f"layer_{kind}_pairs")
        verified = self.spark.read.parquet(pairs).count()
        tot = self.time_call("dedup.cluster", kind, lambda: dedup.duplicate_clusters(read(pairs)), pairs)
        self._acc("dedup", candidate_pairs=candidates, verified_pairs=verified, cluster_jobs=tot["jobs"])
