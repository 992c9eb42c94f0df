"""Triple sinks (S13): salted, pred-partitioned triple tables, plain or
dictionary-encoded.

The head-predicate/head-entity skew problem (a handful of predicates like
rdf:type / imports carry most rows) is handled with an explicit salt
column so each predicate partition's files are written by many tasks, and
downstream repartitions can use (pred, salt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 64


def write_triples(
    triples: DataFrame,
    path: str,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    mode: str = "overwrite",
    compression: str | None = None,
) -> None:
    """S13: parquet partitioned by pred with subject-hash salt. The
    pre-write repartition on (pred, salt) gives each partition dir
    multiple evenly-sized files instead of one skewed writer task per
    predicate. ``salt_buckets`` bounds files per predicate — size it to
    the writing cluster (buckets ≈ writer tasks you want per hot
    predicate), not bigger: excess buckets only buy file-count overhead
    (measured in BENCH_write_phase.json). ``compression`` overrides the
    session parquet codec (e.g. ``zstd`` trades scalable encode CPU for
    output bytes — the right trade when the write path, not the CPU, is
    the contended resource)."""
    salted = triples.withColumn(
        "salt", F.pmod(F.xxhash64("subj"), F.lit(salt_buckets)).cast("int")
    )
    w = salted.repartition(F.col("pred"), F.col("salt")).write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.partitionBy("pred").parquet(path)


def write_triples_encoded(
    triples: DataFrame,
    path: str,
    salt_buckets: int = 8,
    mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """S13 narrow-encoding variant: dictionary-encode subj/obj to dense
    int ids (the J10 operator — the reference stores its mining graph
    int-encoded the same way, getIntGraph.py:22-55) and write

    - ``{path}/dict``     (label, id) — the one copy of every string
    - ``{path}/triples``  (s, o, conf) partitioned by pred, salted

    Entity strings repeat per mention in the plain sink; here each is
    stored once, so triple bytes shrink to two longs + a double per row
    (measured ~3x in BENCH_write_phase.json) — bytes that never hit the
    shuffle, the bus, or the disk. The decode is a pair of dict joins
    (broadcast at gate scale, shuffle at web scale), verified lossless
    by the roundtrip test."""
    from nous_spark.operators.graph import dictionary_encode

    enc, dic = dictionary_encode(triples, ["subj", "obj"])
    enc = enc.persist()
    try:
        dic.write.mode(mode).option("compression", compression).parquet(
            f"{path}/dict")
        other = [c for c in triples.columns
                 if c not in ("subj", "pred", "obj")]
        write_triples(
            # the encoded subj keeps the name "subj" so write_triples'
            # subject-hash salt applies unchanged (now over a long key)
            enc.select(F.col("subj_id").alias("subj"), "pred",
                       F.col("obj_id").alias("o"), *other),
            f"{path}/triples", salt_buckets=salt_buckets, mode=mode,
            compression=compression)
    finally:
        enc.unpersist()


def read_triples_encoded(spark: SparkSession, path: str) -> DataFrame:
    """Decode an encoded triple table back to (subj, pred, obj, ...)
    via two dictionary joins."""
    dic = spark.read.parquet(f"{path}/dict")
    t = spark.read.parquet(f"{path}/triples")
    other = [c for c in t.columns if c not in ("subj", "o", "pred")]
    return (
        t.join(dic.select(F.col("id").alias("subj"),
                          F.col("label").alias("subj_label")), "subj")
        .join(dic.select(F.col("id").alias("o"),
                         F.col("label").alias("obj_label")), "o")
        .select(F.col("subj_label").alias("subj"), "pred",
                F.col("obj_label").alias("obj"), *other)
    )
