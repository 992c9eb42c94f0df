"""Incremental streaming frequent-pattern miner (SURVEY.md §2.9, §3.3).

The reference's "streaming" is a driver for-loop over batch files with a
GraphX window graph (DatatoPatternGraph.scala:212-216, maintainWindow
:1173-1182). This driver keeps the same semantics — batch ids from event
time, sliding window eviction — but the state lives in parquet tables
(StateStore), so the stream is resumable and the per-batch lineage is
explicit. The reference's admitted defect (window merge re-mines
historical nodes, comment :259-271) is fixed by the batch-recency
predicate in the growth join (J6, grow_patterns(cur_batch=...)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nous_spark.operators.mining import (
    filter_frequent_instances,
    grow_patterns,
    min_image_support_arr,
    split_frequent,
)
from nous_spark.plans.lineage import StateStore


def one_edge_instances(quads: DataFrame, types: DataFrame | None = None) -> DataFrame:
    """GIP 1-edge instances (getGIPVerticesNoMap :1106-1154) with type
    augmentation (J8 getTypedGraph :1157-1170).

    quads(src, pred, dst, batch_id); types(id, vtype) optional.
    → instances(inst_id, pattern_key, binding, endpoints, batch_id)
    """
    q = quads
    if types is not None:
        ts = types.select(F.col("id").alias("src"), F.col("vtype").alias("src_type"))
        td = types.select(F.col("id").alias("dst"), F.col("vtype").alias("dst_type"))
        q = (
            q.join(F.broadcast(ts), "src", "left")
            .join(F.broadcast(td), "dst", "left")
            .withColumn("src_type", F.coalesce("src_type", F.lit("any")))
            .withColumn("dst_type", F.coalesce("dst_type", F.lit("any")))
        )
    else:
        q = q.withColumn("src_type", F.lit("any")).withColumn("dst_type", F.lit("any"))
    return q.select(
        F.xxhash64("src", "pred", "dst", "batch_id").alias("inst_id"),
        F.concat_ws(",", "src_type", F.col("pred").cast("string"), "dst_type").alias(
            "pattern_key"
        ),
        F.array(F.col("src").cast("long"), F.col("dst").cast("long")).alias("binding"),
        F.array(F.col("src").cast("long"), F.col("dst").cast("long")).alias("endpoints"),
        F.col("batch_id").cast("int").alias("batch_id"),
    ).dropDuplicates(["pattern_key", "binding", "batch_id"])


class StreamingPatternMiner:
    """foreachBatch-shaped incremental miner with parquet-backed state."""

    def __init__(
        self,
        spark: SparkSession,
        state_root: str,
        mis_support: int = 2,
        window_batches: int = 3,
        max_pattern_edges: int = 2,
    ):
        self.spark = spark
        self.store = StateStore(spark, state_root)
        self.mis_support = mis_support
        self.window = window_batches
        # growth iterations = log2(maxPatternSize) (reference :149,396-474)
        self.growth_iters = max(0, (max_pattern_edges - 1).bit_length())

    def _window_instances(self, cur_batch: int) -> DataFrame | None:
        dfs = []
        for b in range(max(0, cur_batch - self.window + 1), cur_batch + 1):
            if self.store.is_done("instances", b):
                dfs.append(self.store.read_stage("instances", b))
        if not dfs:
            return None
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def process_batch(self, quads: DataFrame, batch_id: int,
                      types: DataFrame | None = None) -> DataFrame:
        """Ingest one batch; returns the window's frequent patterns with
        supports. Resumable: a re-run of a done batch is a state read."""
        if self.store.is_done("frequent", batch_id):
            return self.store.read_stage("frequent", batch_id)

        self.store.run_stage(
            "instances", batch_id,
            lambda: one_edge_instances(quads, types),
            rows_in=quads.count,
        )
        window_inst = self._window_instances(batch_id)

        def mine() -> DataFrame:
            inst = window_inst
            supports = min_image_support_arr(inst)
            freq, _ = split_frequent(supports, self.mis_support)
            inst = filter_frequent_instances(inst, freq)
            all_freq = freq
            for _ in range(self.growth_iters):
                grown = grow_patterns(inst, cur_batch=batch_id)
                if grown.limit(1).count() == 0:
                    break
                g_supports = min_image_support_arr(grown)
                g_freq, _ = split_frequent(g_supports, self.mis_support)
                if g_freq.limit(1).count() == 0:
                    break
                inst = filter_frequent_instances(grown, g_freq)
                all_freq = all_freq.unionByName(g_freq)
            return all_freq.withColumn("batch_id_emitted", F.lit(batch_id))

        return self.store.run_stage("frequent", batch_id, mine)

    def cumulative_frequent(self) -> DataFrame:
        """A5: union of all per-batch frequent tables."""
        return self.store.read_all_batches("frequent")


class StreamingNearDupFilter:
    """Streaming near-duplicate KEEP/DROP — the decision loop that
    ``streaming_minhash_candidates`` (structured.py) leaves to the
    consumer, in the same foreachBatch-driver shape as
    ``StreamingPatternMiner``: per microbatch, arriving docs are judged
    against the parquet-backed frontier of previously KEPT signatures
    (first arrival wins), then against each other with the batch
    keeper policy.

    Semantics (the streaming twin of ``near_duplicate_clusters``):
      - cross-batch: a doc whose signature est-matches any KEPT doc from
        an earlier batch (shared LSH band bucket AND equal-component
        fraction >= threshold) is dropped — the earlier arrival already
        represents the cluster;
      - within-batch: arrival order inside one microbatch is undefined,
        so survivors fall back to the batch contract — connected
        components over est-matching pairs, min-id keeper;
      - only KEPT docs enter the frontier, so the frontier stays
        mutually non-near-dup (the standard greedy online dedup: a doc
        similar only to DROPPED docs can survive — same caveat as every
        first-arrival scheme).

    State is (id, signature, batch_id) — ``num_hashes`` longs per kept
    doc, never text; ``ttl_batches`` bounds it (the watermark analog:
    a re-crawl later than the TTL is kept as a fresh representative).
    Replaying a done batch is idempotent: the frontier load excludes
    the current and later batch ids."""

    def __init__(
        self,
        spark: SparkSession,
        state_root: str,
        num_hashes: int = 32,
        bands: int = 8,
        threshold: float = 0.7,
        ttl_batches: int | None = None,
    ):
        self.spark = spark
        self.state_root = state_root
        self.num_hashes = num_hashes
        self.bands = bands
        self.rows_per_band = num_hashes // bands
        self.threshold = threshold
        self.ttl_batches = ttl_batches

    def _banded(self, sig: DataFrame) -> DataFrame:
        rpb = self.rows_per_band
        return sig.select(
            "id", "signature",
            F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(F.concat_ws(",", F.transform(
                        F.slice("signature", b * rpb + 1, rpb),
                        lambda x: x.cast("string"),
                    ))).alias("band_hash"),
                )
                for b in range(self.bands)
            ])).alias("bh"),
        ).select("id", "signature", "bh.band", "bh.band_hash")

    def _est(self, sa, sb):
        eq = F.zip_with(sa, sb, lambda x, y: (x == y).cast("int"))
        return F.aggregate(eq, F.lit(0), lambda a, x: a + x) \
            / F.lit(float(self.num_hashes))

    def _frontier(self, before_batch: int) -> DataFrame | None:
        import os

        lo = 0 if self.ttl_batches is None \
            else max(0, before_batch - self.ttl_batches)
        dirs = [
            f"{self.state_root}/kept_sigs/batch={b}"
            for b in range(lo, before_batch)
        ]
        dirs = [d for d in dirs if os.path.exists(d)]
        if not dirs:
            return None
        out = self.spark.read.parquet(dirs[0]).withColumn(
            "batch_id", F.lit(int(dirs[0].rsplit("=", 1)[1])))
        for d in dirs[1:]:
            out = out.unionByName(
                self.spark.read.parquet(d).withColumn(
                    "batch_id", F.lit(int(d.rsplit("=", 1)[1]))))
        return out

    def process_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Returns the KEPT rows of ``batch_df`` (original columns)."""
        from nous_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
            near_duplicate_clusters,
            shingles,
        )

        sig = minhash_signatures(
            shingles(batch_df, text_col, id_col), self.num_hashes
        ).persist()

        survivors = sig
        frontier = self._frontier(batch_id)
        if frontier is not None:
            nb = self._banded(sig).alias("n")
            ob = self._banded(frontier.select("id", "signature")).alias("o")
            cross = (
                nb.join(ob, ["band", "band_hash"])
                .filter(self._est(F.col("n.signature"),
                                  F.col("o.signature")) >= self.threshold)
                .select(F.col("n.id").alias("id"))
                .distinct()
            )
            survivors = sig.join(cross, "id", "left_anti")

        cand = lsh_candidate_pairs(
            survivors, self.bands, self.rows_per_band
        )
        sa = survivors.select(F.col("id").alias("a"),
                              F.col("signature").alias("sa"))
        sb = survivors.select(F.col("id").alias("b"),
                              F.col("signature").alias("sb"))
        pairs = (
            cand.join(sa, "a").join(sb, "b")
            .filter(self._est(F.col("sa"), F.col("sb")) >= self.threshold)
            .select("a", "b")
        )
        comp = near_duplicate_clusters(pairs)
        drops = comp.filter(F.col("id") != F.col("keeper_id")).select("id")
        kept_sig = survivors.join(drops, "id", "left_anti")

        kept_sig.select("id", "signature").write.mode("overwrite").parquet(
            f"{self.state_root}/kept_sigs/batch={batch_id}"
        )
        sig.unpersist()
        kept_ids = self.spark.read.parquet(
            f"{self.state_root}/kept_sigs/batch={batch_id}"
        ).select(F.col("id").alias(id_col))
        return batch_df.join(kept_ids, id_col)


def start_near_dup_stream(
    spark: SparkSession,
    source_dir: str,
    out_root: str,
    schema: str,
    checkpoint_dir: str | None = None,
    **filter_kwargs,
):
    """Attach StreamingNearDupFilter to a real readStream via
    foreachBatch: kept docs land under out_root/kept/batch=N with
    exactly-once replay via the streaming checkpoint (a replayed batch
    recomputes the same decision because the frontier excludes itself).
    Returns the StreamingQuery."""
    dedup = StreamingNearDupFilter(spark, f"{out_root}/state",
                                   **filter_kwargs)
    checkpoint_dir = checkpoint_dir or f"{out_root}/_stream_checkpoint"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        kept = dedup.process_batch(batch_df, int(batch_id))
        kept.write.mode("overwrite").parquet(
            f"{out_root}/kept/batch={batch_id}")

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
