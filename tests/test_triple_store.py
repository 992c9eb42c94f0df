"""Incremental triple store (operators/triple_store.py): batch parity,
patch-log boundedness, torn replay, pred pruning, compaction, and the
declared read schema (no planning job, empty stores, no drift)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nous_spark.operators.bgp import match_path_store, match_pattern_store
from nous_spark.operators.canonicalize import canonical_mapping, rewrite_triples
from nous_spark.operators.triple_store import (
    _TRIPLES_SCHEMA,
    build_triple_store,
    compact_triple_store,
    read_triple_store,
    update_triple_store,
)

pytestmark = pytest.mark.usefixtures("spark")


BASE_EDGES = [
    ("acme", "Acme Corporation"), ("ACME Inc", "Acme Corporation"),
    ("alpha", "omega"), ("omega", "gamma"),
    ("bb", "cc"),
]
BASE_TRIPLES = [
    ("acme", "employs", "alpha"),
    ("ACME Inc", "located_in", "nowhere"),   # obj not in alias graph
    ("bb", "depends_on", "omega"),
    ("unrelated", "mentions", "cc"),
]
# the delta merges nothing from BASE but crowns a longer rep in the
# bb/cc component, extends alpha's component, and adds a new one
DELTA_EDGES = [
    ("cc", "a-very-long-canonical-name"),
    ("gamma", "delta"),
    ("new1", "new2"),
]
DELTA_TRIPLES = [
    ("new1", "employs", "bb"),
    ("delta", "depends_on", "acme"),
]
# second delta: merge the acme and bb/cc components
MERGE_EDGES = [("acme", "bb")]
MERGE_TRIPLES = [("omega", "mentions", "new2")]


def _rows(df):
    return sorted(tuple(r) for r in df.select("subj", "pred", "obj").collect())


def _batch(spark, triples, edges):
    return _rows(rewrite_triples(
        spark.createDataFrame(triples, ["subj", "pred", "obj"]),
        canonical_mapping(spark.createDataFrame(edges, ["a", "b"])),
    ))


def _build_and_update(spark, path):
    build_triple_store(
        spark.createDataFrame(BASE_TRIPLES, ["subj", "pred", "obj"]),
        spark.createDataFrame(BASE_EDGES, ["a", "b"]),
        path, buckets=8, salt_buckets=4)
    update_triple_store(
        spark, spark.createDataFrame(DELTA_TRIPLES, ["subj", "pred", "obj"]),
        spark.createDataFrame(DELTA_EDGES, ["a", "b"]), path, update_id=1,
        salt_buckets=4)


def test_reads_match_batch_rewrite_after_updates(spark, tmp_path):
    path = str(tmp_path / "ts")
    _build_and_update(spark, path)
    assert _rows(read_triple_store(spark, path)) == _batch(
        spark, BASE_TRIPLES + DELTA_TRIPLES, BASE_EDGES + DELTA_EDGES)
    stats = update_triple_store(
        spark, spark.createDataFrame(MERGE_TRIPLES, ["subj", "pred", "obj"]),
        spark.createDataFrame(MERGE_EDGES, ["a", "b"]), path, update_id=2,
        salt_buckets=4)
    got = _rows(read_triple_store(spark, path))
    assert got == _batch(
        spark, BASE_TRIPLES + DELTA_TRIPLES + MERGE_TRIPLES,
        BASE_EDGES + DELTA_EDGES + MERGE_EDGES)
    # the merge dethroned exactly one rep (Acme Corporation, 16 chars,
    # loses to a-very-long-canonical-name, 26) — patch cost is per
    # dethroned REP, not per member or per stored triple
    assert stats["n_patches"] == 1
    assert ("unrelated", "mentions", "a-very-long-canonical-name") in got


def test_update_is_replay_idempotent(spark, tmp_path):
    path = str(tmp_path / "ts")
    _build_and_update(spark, path)
    merge_t = spark.createDataFrame(MERGE_TRIPLES, ["subj", "pred", "obj"])
    merge_e = spark.createDataFrame(MERGE_EDGES, ["a", "b"])
    update_triple_store(spark, merge_t, merge_e, path, update_id=2,
                        salt_buckets=4)  # torn: caller's commit lost
    first = _rows(read_triple_store(spark, path))
    s = update_triple_store(spark, merge_t, merge_e, path, update_id=2,
                            salt_buckets=4)  # replay
    assert _rows(read_triple_store(spark, path)) == first
    assert s["n_patches"] == 1


def test_pred_filter_prunes_partitions(spark, tmp_path):
    path = str(tmp_path / "ts")
    _build_and_update(spark, path)
    got = read_triple_store(spark, path, preds=["employs"])
    assert sorted(r.subj for r in got.collect()) == sorted(
        s for s, p, o in _batch(
            spark, BASE_TRIPLES + DELTA_TRIPLES, BASE_EDGES + DELTA_EDGES)
        if p == "employs")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "employs" in plan  # partition filter reached the scan


def test_compaction_preserves_view_and_drops_patches(spark, tmp_path):
    path = str(tmp_path / "ts")
    _build_and_update(spark, path)
    update_triple_store(
        spark, spark.createDataFrame(MERGE_TRIPLES, ["subj", "pred", "obj"]),
        spark.createDataFrame(MERGE_EDGES, ["a", "b"]), path, update_id=2,
        salt_buckets=4)
    before = _rows(read_triple_store(spark, path))
    stats = compact_triple_store(spark, path, salt_buckets=4)
    assert _rows(read_triple_store(spark, path)) == before
    assert not os.path.exists(f"{path}/patches")
    assert stats["files_after"] <= stats["files_before"]
    segs = {d for d in os.listdir(f"{path}/triples/pred=employs")
            if d.startswith("seg=")}
    assert segs == {"seg=base"}
    # still updatable: another merge after compaction patches correctly
    update_triple_store(
        spark, spark.createDataFrame([], "subj string, pred string, obj string"),
        spark.createDataFrame([("new1", "Acme Corporation")], ["a", "b"]),
        path, update_id=3, salt_buckets=4)
    got = _rows(read_triple_store(spark, path))
    assert got == _batch(
        spark, BASE_TRIPLES + DELTA_TRIPLES + MERGE_TRIPLES,
        BASE_EDGES + DELTA_EDGES + MERGE_EDGES
        + [("new1", "Acme Corporation")])


def test_match_pattern_store_queries_canonical_view(spark, tmp_path):
    """BGP directly over the store: answers come from the post-update
    canonicalization (parity with an explicit read + match), literal
    predicates restrict the store read (partition pruning visible in
    the plan), and FILTERs compose."""
    from nous_spark.operators.bgp import match_pattern, match_pattern_store

    path = str(tmp_path / "ts")
    _build_and_update(spark, path)
    pats = [("?who", "employs", "?e"), ("?d", "depends_on", "?e2")]
    # connected via a shared variable instead: employs obj == depends_on subj
    pats = [("?who", "employs", "?mid"), ("?mid", "depends_on", "?tgt")]
    got = match_pattern_store(spark, path, pats)
    want = match_pattern(read_triple_store(spark, path), pats)
    key = sorted(got.columns)
    assert sorted(tuple(r[k] for k in key) for r in got.collect()) == \
        sorted(tuple(r[k] for k in key) for r in want.collect())
    plan = got._jdf.queryExecution().executedPlan().toString()
    # every store scan is partition-pruned to the queried predicates
    # (the IN list from the store read + the pattern's own literal),
    # so the unqueried pred dirs are never read
    pf = [seg.split("]")[0] for seg in plan.split("PartitionFilters: [")[1:]]
    assert pf and all("pred" in s and "IN (depends_on,employs)" in s
                      for s in pf), plan
    assert all("mentions" not in s and "located_in" not in s for s in pf)
    # FILTER over a store query
    filt = match_pattern_store(spark, path, pats, filters=["who <> tgt"])
    assert sorted(tuple(r[k] for k in key) for r in filt.collect()) == \
        sorted(tuple(r[k] for k in key) for r in want.collect()
               if r["who"] != r["tgt"])


def test_match_pattern_store_variable_pred_reads_full_view(spark, tmp_path):
    from nous_spark.operators.bgp import match_pattern_store

    path = str(tmp_path / "ts")
    _build_and_update(spark, path)
    got = match_pattern_store(spark, path, [("?s", "?p", "?o")])
    want = read_triple_store(spark, path)
    assert sorted((r.s, r.p, r.o) for r in got.collect()) == \
        sorted((r.subj, r.pred, r.obj) for r in want.collect())


def test_match_pattern_store_stats_ordering_is_result_invariant(
        spark, tmp_path):
    from nous_spark.operators.bgp import match_pattern_store

    path = str(tmp_path / "ts")
    _build_and_update(spark, path)
    pats = [("?who", "employs", "?mid"), ("?mid", "depends_on", "?tgt")]
    a = match_pattern_store(spark, path, pats)
    b = match_pattern_store(spark, path, pats, order_by_stats=True)
    key = sorted(a.columns)
    assert sorted(tuple(r[k] for k in key) for r in a.collect()) == \
        sorted(tuple(r[k] for k in key) for r in b.collect())


def test_streaming_triple_ingest(spark, tmp_path):
    """Triples (with inline same_as alias links) streamed in two
    microbatches materialize identically to the batch build+updates —
    including a cross-batch merge resolved through the patch log."""
    from nous_spark.streaming.structured import streaming_triple_ingest

    batches = [
        [(s, "same_as", o) for s, o in DELTA_EDGES] + DELTA_TRIPLES,
        [(s, "same_as", o) for s, o in MERGE_EDGES] + MERGE_TRIPLES,
    ]
    src_dir = str(tmp_path / "triples_src")
    os.makedirs(src_dir)
    for i, b in enumerate(batches):
        d = str(tmp_path / f"b{i}")
        spark.createDataFrame(b, "subj string, pred string, obj string") \
            .coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        os.rename(f"{d}/{part}", f"{src_dir}/batch{i}.parquet")
        os.utime(f"{src_dir}/batch{i}.parquet",
                 (1_000_000 + i, 1_000_000 + i))

    path = str(tmp_path / "ts")
    build_triple_store(
        spark.createDataFrame(BASE_TRIPLES, ["subj", "pred", "obj"]),
        spark.createDataFrame(BASE_EDGES, ["a", "b"]),
        path, buckets=8, salt_buckets=2)
    q = streaming_triple_ingest(spark, src_dir, path)
    q.awaitTermination(120)
    assert _rows(read_triple_store(spark, path)) == _batch(
        spark, BASE_TRIPLES + DELTA_TRIPLES + MERGE_TRIPLES,
        BASE_EDGES + DELTA_EDGES + MERGE_EDGES)


def test_declared_triples_schema_matches_written_layout(spark, tmp_path):
    path = str(tmp_path / "ts")
    _build_and_update(spark, path)
    inferred = spark.read.parquet(f"{path}/triples").schema
    assert StructType.fromDDL(_TRIPLES_SCHEMA) == inferred


def test_empty_store_reads_and_queries_empty(spark, tmp_path):
    path = str(tmp_path / "ts")
    build_triple_store(
        spark.createDataFrame([], "subj string, pred string, obj string"),
        spark.createDataFrame([("acme", "Acme Corporation")], ["a", "b"]),
        path, buckets=4, salt_buckets=2)
    assert _rows(read_triple_store(spark, path)) == []
    assert match_pattern_store(
        spark, path, [("?s", "employs", "?o")]).collect() == []
    assert match_path_store(spark, path, "calls", 1, 3).collect() == []


def test_planning_a_store_query_runs_no_job(spark, tmp_path):
    """The store read declares its schema, so building the query plans
    of a store with no patches launches no Spark job; the count at the
    end shows the job group does record jobs."""
    path = str(tmp_path / "ts")
    build_triple_store(
        spark.createDataFrame(BASE_TRIPLES, ["subj", "pred", "obj"]),
        spark.createDataFrame(BASE_EDGES, ["a", "b"]),
        path, buckets=8, salt_buckets=4)
    sc = spark.sparkContext
    group = "test-store-planning"
    sc.setJobGroup(group, "plan store queries")
    try:
        read_triple_store(spark, path)
        match_pattern_store(spark, path, [("?who", "employs", "?mid"),
                                          ("?mid", "depends_on", "?tgt")])
        view = match_path_store(spark, path, "employs", 1, 2)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        view.count()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
