"""Sinks (S13-S15): partitioned triple tables + checkpoint dumps.

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


def write_triples_bucketed(
    triples: DataFrame,
    table_name: str,
    buckets: int = 64,
    key: str = "subj",
    mode: str = "overwrite",
) -> None:
    """S13 co-location variant: a bucketed + sorted triple TABLE for
    workloads that repeatedly join on the subject key (alias resolution,
    degree joins, path expansion). ``bucketBy(subj) + sortBy(subj)``
    pre-shuffles and pre-sorts at write time, so every later
    bucketed⋈bucketed subj-join runs with NO Exchange and NO Sort on
    either side — at 100 TB that converts the dominant repeated shuffle
    of the linking stage into a one-time write cost. Plan-verified in
    tests (SortMergeJoin with zero Exchange nodes).

    Bucketed tables must go through the session catalog (saveAsTable) —
    a bare parquet path cannot carry bucket metadata."""
    (
        triples.write.mode(mode).format("parquet")
        .bucketBy(buckets, key).sortBy(key)
        .saveAsTable(table_name)
    )


def write_pattern_outputs(frequent: DataFrame, per_batch: DataFrame,
                          dep_edges: DataFrame, root: str) -> None:
    """S14 (DatatoPatternGraph.scala:493-506): frequent patterns, per-batch
    log (partitioned by batch), dependency edges."""
    frequent.write.mode("overwrite").parquet(f"{root}/frequent_patterns")
    per_batch.write.mode("overwrite").partitionBy("batch_id").parquet(
        f"{root}/frequent_patterns_per_batch"
    )
    dep_edges.write.mode("overwrite").parquet(f"{root}/dependency_graph")


def write_training_shards(
    packed: DataFrame,
    path: str,
    mode: str = "overwrite",
    source_col: str = "source",
) -> None:
    """Materialize a packed training set (the output of
    ``datasets.prepare_training_set`` / ``pack_into_shards``) as parquet
    partitioned by (split, source): the loader reads one split by
    partition pruning alone, and per-source mixture adjustments at load
    time stay file-level operations.

    The pre-write repartition on (split, source, shard_id) lines writer
    tasks up with shards — each shard's rows land together instead of
    being scattered across whichever tasks held them, so a data loader
    streaming shard files in shard_id order sees contiguous token
    streams. Same skew logic as ``write_triples``: the shard id is
    already a balanced key (shards are token-budget-equal by
    construction), so no extra salt is needed."""
    (
        packed.repartition(F.col("split"), F.col(source_col),
                           F.col("shard_id"))
        .write.mode(mode)
        .partitionBy("split", source_col)
        .parquet(path)
    )
