"""Seeded benchmark inputs. logpipe only ever sees the parquet written here.

Transcripts come from datagen.transcript_projection over an id range offset
by the seed, so the same seed always yields the same rows and another seed
yields other rows with the same template mix.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from logpipe.datagen import transcript_projection

# ids stay below 10^12: transcript_projection turns an id into a timestamp
# offset of id/1000 seconds, which must fit make_dt_interval
_SEED_SLOTS = 999_983
_SEED_STRIDE = 1_000_000


def id_start(seed: int) -> int:
    return (seed % _SEED_SLOTS) * _SEED_STRIDE


def transcripts_df(spark: SparkSession, seed: int, n: int, turns_per_conv: int, skew: float | None = None):
    start = id_start(seed)
    df = spark.range(start, start + n, 1, spark.sparkContext.defaultParallelism)
    i = F.col("id")
    conv = turn = None
    if skew is not None:
        # power-law conv sizes (conv 0 of the range hottest), as datagen.transcripts(skew=...)
        n_convs = max(n // turns_per_conv, 1)
        u = (i - F.lit(start)) / F.lit(float(n))
        conv = (F.floor(F.pow(u, F.lit(float(skew))) * n_convs) + F.lit(start // turns_per_conv)).cast("long")
        turn = F.pmod(i, F.lit(2_000_000_000)).cast("int")
    return df.select(*transcript_projection(i, turns_per_conv, conv=conv, turn=turn))


def write_stream_files(spark, staging: str, seed: int, n_files: int, turns_per_file: int, turns_per_conv: int) -> list[str]:
    """`n_files` parquet files of `turns_per_file` consecutive turns each, in
    id order. The rows come from Spark; the split into files is pyarrow's,
    one slice per file."""
    table = transcripts_df(spark, seed, n_files * turns_per_file, turns_per_conv).toArrow()  # range partitions arrive in id order
    os.makedirs(staging, exist_ok=True)
    files = []
    for k in range(n_files):
        path = os.path.join(staging, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * turns_per_file, turns_per_file), path)
        files.append(path)
    return files


def write_near_dup_corpus(spark, docs_path: str, truth_path: str, seed: int, base_docs: int, exact_share: float, near_share: float, tail_words: int, vocab: int, turns_per_conv: int) -> dict:
    """(doc_id, text) docs: `base_docs` distinct docs (a transcript text plus
    a seeded random word tail), then planted exact copies of random bases,
    then planted near copies (one tail word swapped for a token no other doc
    has). The planted (base_id, copy_id) near pairs go to `truth_path` for
    the oracle only."""
    n_exact = int(round(base_docs * exact_share))
    n_near = int(round(base_docs * near_share))
    start = id_start(seed)
    base = (
        spark.range(start, start + base_docs, 1)
        .select((F.col("id") - F.lit(start)).alias("b"), *transcript_projection(F.col("id"), turns_per_conv))
        .select("b", "text")
    )
    words = [
        F.concat(F.lit("w"), F.pmod(F.xxhash64(F.lit(seed), F.col("b"), F.lit(j)), F.lit(vocab)).cast("string"))
        for j in range(tail_words)
    ]
    base = base.select("b", F.col("text").alias("head"), F.array(*words).alias("tail"))

    def _doc(tail):
        return F.concat_ws(" ", F.col("head"), F.array_join(tail, " "))

    originals = base.select(F.col("b").alias("doc_id"), _doc(F.col("tail")).alias("text"))
    pick = lambda tag, k: F.pmod(F.xxhash64(F.lit(seed), F.lit(tag), k), F.lit(base_docs))  # noqa: E731
    exact = (
        spark.range(n_exact)
        .select((F.col("id") + base_docs).alias("doc_id"), pick("exact", F.col("id")).alias("b"))
        .join(base, "b")
        .select("doc_id", _doc(F.col("tail")).alias("text"))
    )
    near_keys = spark.range(n_near).select(
        F.col("id").alias("k"),
        (F.col("id") + base_docs + n_exact).alias("doc_id"),
        pick("near", F.col("id")).alias("b"),
        F.pmod(F.xxhash64(F.lit(seed), F.lit("pos"), F.col("id")), F.lit(tail_words)).alias("p"),
    )
    swapped = F.transform(
        "tail",
        lambda w, i: F.when(i == F.col("p"), F.concat(F.lit("x"), F.col("k").cast("string"))).otherwise(w),
    )
    near = near_keys.join(base, "b")
    near.select(F.col("b").alias("base_id"), F.col("doc_id").alias("copy_id")).write.mode("overwrite").parquet(truth_path)
    near = near.select("doc_id", _doc(swapped).alias("text"))
    originals.unionByName(exact).unionByName(near).repartition(spark.sparkContext.defaultParallelism).write.mode(
        "overwrite"
    ).parquet(docs_path)
    return {"docs": base_docs + n_exact + n_near, "exact_copies": n_exact, "near_copies": n_near}
