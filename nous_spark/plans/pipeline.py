"""End-to-end KG-construction pipeline (the north rule):

    source table (repo, path, commit, lang, content)
      → [extract]      narrow triples + docs sidecar  (mapInArrow, no shuffle)
      → [link]         mention → entity per batch     (blocked join + per-doc solve)
      → [canonicalize] alias collapse, global         (hash-to-min CC)
      → [materialize]  triples partitionBy(pred) + salt; docs table alongside

Provenance is NORMALIZED: every triple carries a 64-bit doc_id; one docs
row per file holds (repo, path, commit, lang, content_sha). The wide
layout would duplicate ~150 B of strings onto each of ~70 triples/file —
at 10^12 files that's the difference between shuffling tens of TB and
hundreds (BASELINE.md BENCH quantifies ~4-5× on write volume).

Batching: batch_id = pmod(xxhash64(repo, path), n_batches) — deterministic,
so resume recomputes identical batches. Every stage goes through
StateStore.run_stage (checkpoint + per-partition lineage + sha invariant),
so a killed run resumes exactly and produces identical output
(tests/test_pipeline_resume.py + a process-level kill -9 check).

Scale notes: extraction is embarrassingly parallel per input split; the
only global barriers are the CC fixpoint (bounded rounds, one shuffle each)
and the final write. At 10^12 files n_batches becomes date/prefix
partitions of the Iceberg table instead of a hash — the protocol is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nous_spark.operators.canonicalize import canonicalize
from nous_spark.operators.extraction import (
    extract_triples_normalized,
    with_content_sha,
    with_doc_id,
)
from nous_spark.operators.linking import link_entities
from nous_spark.plans.lineage import StateStore

SALT_BUCKETS = 64


def _docs_sha_check(source_sha: DataFrame):
    """Checker for the docs sidecar: every (repo, path) carries exactly the
    source's sha256(content)."""

    def check(out: DataFrame) -> bool:
        got = out.select("repo", "path", "content_sha").distinct()
        bad = (
            got.join(source_sha, ["repo", "path"], "left")
            .filter(
                F.col("content_sha").isNull()
                | F.col("src_sha").isNull()  # docs row with no source row
                | (F.col("content_sha") != F.col("src_sha"))
            )
            .limit(1)
            .count()
        )
        return bad == 0

    return check


def _triples_doc_check(docs: DataFrame):
    """Checker for triple stages: every doc_id must resolve to a docs row
    (the invariant carrier) — no orphan provenance."""

    def check(out: DataFrame) -> bool:
        orphans = (
            out.select("doc_id").distinct()
            .join(docs.select("doc_id"), "doc_id", "left_anti")
            .limit(1)
            .count()
        )
        return orphans == 0

    return check


def run_pipeline(
    spark: SparkSession,
    source: DataFrame,
    out_root: str,
    n_batches: int = 4,
    fancy: bool = False,
    link: bool = True,
) -> DataFrame:
    """Run (or resume) the full pipeline; returns the canonical triple DF
    (narrow: subj, pred, obj, conf, kind, doc_id, salt)."""
    store = StateStore(spark, out_root)
    src = with_doc_id(with_content_sha(source)).withColumn(
        "batch_id", F.pmod(F.xxhash64("repo", "path"), F.lit(n_batches)).cast("int")
    )
    src.persist()
    source_sha = src.select(
        "repo", "path", F.col("content_sha").alias("src_sha")
    ).persist()

    # -------- stage 1+2 per batch: docs sidecar, extract, link
    for b in range(n_batches):
        batch = src.filter(F.col("batch_id") == b).drop("batch_id")
        docs_b = store.run_stage(
            "docs",
            b,
            lambda batch=batch: batch.select(
                "doc_id", "repo", "path", "commit", "lang", "content_sha"
            ),
            rows_in=batch.count,
            sha_check=_docs_sha_check(source_sha),
        )
        triples = store.run_stage(
            "extract",
            b,
            lambda batch=batch: extract_triples_normalized(batch, fancy=fancy)[0],
            rows_in=docs_b.count,
            sha_check=_triples_doc_check(docs_b),
        )
        if link:
            mentions = (
                triples.filter(F.col("pred") == "calls")
                .select(
                    F.col("doc_id").cast("string").alias("doc_id"),
                    F.col("obj").alias("mention"),
                )
                .distinct()
            )
            kg = triples.select("subj", "pred", "obj")
            store.run_stage(
                "link",
                b,
                # callee mentions are code identifiers → candidates come
                # from the code-entity universe only
                lambda mentions=mentions, kg=kg: link_entities(
                    mentions, kg,
                    candidate_types=["FUNCTION", "CLASS", "MODULE"],
                ),
                rows_in=mentions.count,
            )

    # -------- stage 3 global: canonicalize
    all_triples = store.read_all_batches("extract")
    all_docs = store.read_all_batches("docs").drop("batch")

    def _canon() -> DataFrame:
        canon, mapping = canonicalize(all_triples.drop("batch"), docs=all_docs)
        mapping.write.mode("overwrite").parquet(f"{out_root}/state/canonical_map")
        return canon

    canon = store.run_stage(
        "canonicalize", 0, _canon, rows_in=all_triples.count,
        sha_check=_triples_doc_check(all_docs),
    )

    # -------- stage 4 global: materialize partitioned by pred with salt
    def _materialize() -> DataFrame:
        return canon.withColumn(
            "salt", F.pmod(F.xxhash64("subj"), F.lit(SALT_BUCKETS)).cast("int")
        ).repartition(F.col("pred"), F.col("salt"))

    final = store.run_stage(
        "materialize", 0, _materialize,
        rows_in=canon.count,
        sha_check=_triples_doc_check(all_docs),
        partition_cols=["pred"],
    )
    src.unpersist()
    source_sha.unpersist()
    return final


def pipeline_metrics(spark: SparkSession, out_root: str) -> DataFrame:
    """Lineage/metrics table for a pipeline run."""
    return StateStore(spark, out_root).lineage()
