"""Streaming near-duplicate filter driven one microbatch at a time
(SURVEY.md §2.9, §3.3).

The reference's "streaming" is a driver for-loop over batch files. This
driver keeps that shape, but its state lives in parquet, so the stream
is resumable and replaying a batch is idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class StreamingNearDupFilter:
    """Streaming near-duplicate KEEP/DROP — the decision loop that
    ``streaming_minhash_candidates`` (structured.py) leaves to the
    consumer, in a foreachBatch-driver shape: per microbatch, arriving
    docs are judged against the parquet-backed frontier of previously
    KEPT signatures (first arrival wins), then against each other with
    the batch keeper policy.

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
