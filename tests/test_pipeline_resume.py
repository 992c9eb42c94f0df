"""Pipeline checkpoint/lineage/resume tests (north-rule requirements):
exact resume after a mid-run kill, per-partition lineage rows, sha256
invariant enforcement, normalized-provenance integrity.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nous_spark.corpus import corpus_df
from nous_spark.operators.extraction import (
    extract_triples_normalized,
    with_content_sha,
    with_doc_id,
)
from nous_spark.plans.lineage import StateStore
from nous_spark.plans.pipeline import run_pipeline


def _triple_values(df):
    return sorted(
        (r.subj, r.pred, r.obj, r.conf, r.kind, r.doc_id, r.salt)
        for r in df.select(
            "subj", "pred", "obj", "conf", "kind", "doc_id", "salt"
        ).collect()
    )


def test_run_stage_skips_done(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "st"))
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.createDataFrame([(1, "a")], ["id", "v"])

    counts = {"n": 0}

    def rows_in():
        counts["n"] += 1
        return 1

    out1 = store.run_stage("s1", 0, compute, rows_in=rows_in)
    assert calls["n"] == 1 and counts["n"] == 1 and out1.count() == 1
    out2 = store.run_stage("s1", 0, compute, rows_in=rows_in)
    assert calls["n"] == 1, "resume must not recompute a done stage"
    assert counts["n"] == 1, "resume must not count a done stage's input"
    assert out2.count() == 1
    assert [r.rows_in for r in store.lineage().collect()] == [1]


def test_pipeline_end_to_end(spark, tmp_path):
    src = corpus_df(spark, n_files=40, seed=11, partitions=4)
    out = run_pipeline(spark, src, str(tmp_path / "p1"), n_batches=2, link=False)
    assert out.count() > 0
    # lineage exists, all sha checks passed, every stage present
    lin = StateStore(spark, str(tmp_path / "p1")).lineage()
    stages = {r.stage for r in lin.collect()}
    assert {"docs", "extract", "canonicalize", "materialize"} <= stages
    assert lin.filter(~F.col("sha_ok")).count() == 0
    assert lin.filter(F.col("rows_out") <= 0).count() == 0
    # materialized output is pred-partitioned on disk
    import os

    parts = os.listdir(f"{tmp_path}/p1/state/materialize/batch=0")
    assert any(p.startswith("pred=") for p in parts)
    # every triple's doc_id resolves to a docs row with the right sha
    docs = StateStore(spark, str(tmp_path / "p1")).read_all_batches("docs")
    assert out.join(docs, "doc_id", "left_anti").count() == 0


def test_kill_and_resume_identical(spark, tmp_path):
    """Run A: full pipeline. Run B: 'crashes' after batch 0, then resumes
    with a fresh pipeline call → value-identical triple output."""
    src = corpus_df(spark, n_files=40, seed=11, partitions=4)
    full = run_pipeline(spark, src, str(tmp_path / "full"), n_batches=2, link=False)
    full_vals = _triple_values(full)

    # simulated partial run: only batch 0 of docs+extract completes, then kill
    part_root = str(tmp_path / "partial")
    store = StateStore(spark, part_root)
    srcb = with_doc_id(with_content_sha(src)).withColumn(
        "batch_id", F.pmod(F.xxhash64("repo", "path"), F.lit(2)).cast("int")
    )
    batch0 = srcb.filter(F.col("batch_id") == 0).drop("batch_id")
    store.run_stage(
        "docs", 0,
        lambda: batch0.select("doc_id", "repo", "path", "commit", "lang",
                              "content_sha"),
        rows_in=batch0.count,
    )
    store.run_stage(
        "extract", 0,
        lambda: extract_triples_normalized(batch0)[0],
        rows_in=batch0.count,
    )
    assert store.is_done("extract", 0) and not store.is_done("extract", 1)

    # resume: fresh invocation over the same source
    resumed = run_pipeline(spark, src, part_root, n_batches=2, link=False)
    assert _triple_values(resumed) == full_vals


def test_sha_invariant_violation_raises(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "bad"))
    src = corpus_df(spark, n_files=5, seed=3)
    src_sha = with_content_sha(src).select(
        "repo", "path", F.col("content_sha").alias("src_sha")
    )

    def corrupt():
        return with_content_sha(src).withColumn(
            "content_sha", F.lit("deadbeef")
        ).select("repo", "path", "content_sha")

    from nous_spark.plans.pipeline import _docs_sha_check

    with pytest.raises(RuntimeError, match="sha256 invariant"):
        store.run_stage("corrupt", 0, corrupt, rows_in=lambda: 5,
                        sha_check=_docs_sha_check(src_sha))


def test_orphan_doc_id_detected(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "orphan"))
    docs = spark.createDataFrame([(1,)], ["doc_id"])
    from nous_spark.plans.pipeline import _triples_doc_check

    def bad():
        return spark.createDataFrame([(1, "a"), (999, "b")], ["doc_id", "subj"])

    with pytest.raises(RuntimeError, match="sha256 invariant"):
        store.run_stage("t", 0, bad, rows_in=lambda: 2, sha_check=_triples_doc_check(docs))
