"""Incremental triple store: the materialize-side payoff of the
incremental canonical store (operators/canonicalize.py).

The north rule's final stage materializes (subj, pred, obj) triple
tables partitioned by predicate with head-entity salting
(sources/sinks.py:17, SURVEY.md S13). Batch canonicalization makes that
a full rewrite per crawl increment: fold new alias edges, re-resolve,
re-rewrite 10^12 files' triples. This module makes the materialized
table itself incremental, completing the extract → link → canonicalize
→ materialize chain at delta cost:

- ``{path}/triples`` — parquet partitioned by ``(pred, seg)``:
  ``seg=base`` from the build/compaction, ``seg=u<k>`` per update.
  Each segment's rows are canonical AS OF ITS WRITE; segments are
  never edited afterwards.
- ``{path}/patches`` — (old, new) label strings, one row per
  DETHRONED REPRESENTATIVE: when an update's alias delta merges
  components or crowns a longer label, ``canonicalize.rep_changes``
  returns the canonical store's remap segment for that update, decoded
  to labels — bounded by components touched, never by their member or
  triple counts. Readers fold the (path-compressed, broadcast) patch
  chain over subj/obj; a merge therefore costs one tiny log write, not
  a corpus rewrite. Reps only improve (see ``rep_changes``), so the
  chain is acyclic and each key single-writer, and logs from any
  number of updates compose.
- ``{path}/canon`` — the canonical store the above derives from: a
  component store over rep-order label keys, whose roots are the
  representatives.

Contract: the store holds ``subj, pred, obj`` strings; build and update
project their input to exactly those columns. Every read declares the
stored layout (``_TRIPLES_SCHEMA``), so planning a query runs no Spark
job (no footer-merge schema inference) and a store built from zero
triples reads and queries as empty.

Idempotency: every update's writes are keyed by ``seg``/``batch``
partition with dynamic overwrite, and the rewrite/patch computation
depends only on the store state EXCLUDING the update's own segments —
a torn attempt (writes landed, caller's commit lost) is replaced
byte-for-byte by the replay, the same contract as the component store
(operators/graph_inc.py:273) and the MinHash index (operators/
dedup.py:779). Compaction folds patches and segments into ``seg=base``
off the read path via sibling-dir + rename swap.

Reference: the NOUS pipeline re-materializes its graph per batch
(Mining/.../DatatoPatternGraph.scala:212-216 drives whole-file
re-reads); there is no incremental store to cite — this is the Spark
re-architecture the 10^12-file scale forces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nous_spark.localrel import local_df
from nous_spark.operators.canonicalize import (
    build_canonical_store,
    rep_changes,
    resolve_canonical_store,
    rewrite_triples,
    update_canonical_store,
)
from nous_spark.operators.graph_inc import (
    _apply_remap,
    _fs_delete,
    _fs_exists,
    swap_dir,
)

DEFAULT_SALT_BUCKETS = 16
# the layout ``_write_segment`` writes: data columns, then the
# ``(pred, seg)`` partition columns
_TRIPLES_SCHEMA = "subj STRING, obj STRING, salt INT, pred STRING, seg STRING"


def _write_segment(triples: DataFrame, path: str, seg: str,
                   salt_buckets: int, dynamic: bool) -> None:
    salted = (
        triples.select("subj", "pred", "obj").withColumn(
            "salt",
            F.pmod(F.xxhash64("subj"), F.lit(salt_buckets)).cast("int"))
        .withColumn("seg", F.lit(seg))
    )
    w = (
        salted.repartition(F.col("pred"), F.col("salt"))
        .write.mode("overwrite")
    )
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy("pred", "seg").parquet(f"{path}/triples")


def build_triple_store(
    triples: DataFrame,
    alias_edges: DataFrame,
    path: str,
    buckets: int = 64,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> None:
    """Build the store: canonical store from the alias edges, then the
    triples, rewritten through the mapping that build returns, into
    ``seg=base``."""
    mapping = build_canonical_store(alias_edges, f"{path}/canon",
                                    buckets=buckets)
    _write_segment(rewrite_triples(triples, mapping), path, "base",
                   salt_buckets, dynamic=False)


def update_triple_store(
    spark: SparkSession,
    new_triples: DataFrame,
    alias_delta: DataFrame,
    path: str,
    update_id: int,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> dict:
    """Fold one increment — new triples plus the alias edges the same
    crawl batch produced — under segment ``u<update_id>``:

    1. the alias delta folds into the canonical store (cost ∝ delta,
       ``update_canonical_store``);
    2. ``rep_changes`` derives the dethroned-rep patch set from the
       update's own log segments (∝ components touched) and writes it
       under ``patches/seg=u<k>`` — this is the ENTIRE cost of the
       merge to the existing corpus;
    3. the new triples rewrite through the post-update mapping, probed
       on their own labels (bucket-pruned read), and land under
       ``seg=u<k>``.

    Replay-safe: all three writes are segment-keyed overwrites derived
    deterministically from pre-update state + the delta."""
    seg = f"u{update_id}"
    cpath = f"{path}/canon"
    stats = update_canonical_store(spark, alias_delta, cpath, update_id)
    patches = rep_changes(spark, cpath, update_id)
    if patches:
        (
            local_df(spark, sorted(patches.items()),
                     schema="old STRING, new STRING")
            .withColumn("seg", F.lit(seg))
            .coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("seg")
            .parquet(f"{path}/patches")
        )
    labels = (
        new_triples.select(F.col("subj").alias("id"))
        .unionAll(new_triples.select(F.col("obj").alias("id")))
        .distinct()
    )
    mapping = resolve_canonical_store(spark, cpath, labels=labels)
    _write_segment(rewrite_triples(new_triples, mapping), path, seg,
                   salt_buckets, dynamic=True)
    return {**stats, "n_patches": len(patches)}


def read_triple_store(
    spark: SparkSession,
    path: str,
    preds: list[str] | None = None,
    exclude_segs: tuple[str, ...] = (),
) -> DataFrame:
    """Current canonical view of the store. ``preds`` pushes into the
    partitioned scan (file-level pruning on the ``pred`` dirs); the
    patch chain (tiny by contract) applies as one broadcast join per
    endpoint column. Segment/salt bookkeeping columns are dropped.

    The read declares ``_TRIPLES_SCHEMA``, so planning it runs no Spark
    job and a store built from zero triples reads as empty."""
    t = spark.read.schema(_TRIPLES_SCHEMA).parquet(f"{path}/triples")
    if exclude_segs:
        t = t.filter(~F.col("seg").isin(*exclude_segs))
    if preds is not None:
        t = t.filter(F.col("pred").isin(*preds))
    t = t.select("subj", "obj", "pred")
    if not _fs_exists(spark, f"{path}/patches"):
        return t
    p = spark.read.schema("old STRING, new STRING, seg STRING").parquet(
        f"{path}/patches")
    if exclude_segs:
        p = p.filter(~F.col("seg").isin(*exclude_segs))
    rows = [(r.old, r.new) for r in p.collect()]
    t = _apply_remap(_apply_remap(t, rows, "subj"), rows, "obj")
    return t.select("subj", "obj", "pred")


def compact_triple_store(
    spark: SparkSession,
    path: str,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> dict:
    """Fold every segment, with patches applied, into ``seg=base`` via
    a sibling temp dir + rename swap (the live table survives a
    mid-rewrite crash), then drop the patch log. A crash between the
    swap and the patch-log delete is harmless: re-applying a patch to
    an already-patched table is a no-op (the superseded labels are no
    longer present), and the next compaction removes the log. The
    canonical store compacts separately (``compact_canonical_store``) —
    its remap log is still needed by future ``rep_changes`` calls only
    for their own segments, so either order is safe."""
    def n_files():
        return len(spark.read.schema(_TRIPLES_SCHEMA).parquet(
            f"{path}/triples").inputFiles())

    full = read_triple_store(spark, path)
    n_files_before = n_files()
    salted = (
        full.withColumn(
            "salt",
            F.pmod(F.xxhash64("subj"), F.lit(salt_buckets)).cast("int"))
        .withColumn("seg", F.lit("base"))
    )
    (
        salted.repartition(F.col("pred"), F.col("salt"))
        .write.mode("overwrite").partitionBy("pred", "seg")
        .parquet(f"{path}/triples_compact_tmp")
    )
    swap_dir(spark, f"{path}/triples_compact_tmp", f"{path}/triples")
    _fs_delete(spark, f"{path}/patches")
    n_files_after = n_files()
    return {"files_before": n_files_before, "files_after": n_files_after}
