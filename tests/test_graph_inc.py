"""Incremental canonicalization: update_components and the persisted
component store (build/update/resolve/compact + streaming ingest).

The load-bearing property everywhere: the incremental result is
row-for-row equal to a from-scratch ``connected_components`` run over
the union edge set (min-root invariant preserved through folds)."""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

from nous_spark.operators.graph import connected_components
from nous_spark.operators.graph_inc import (
    build_component_store,
    compact_component_store,
    resolve_component_store,
    update_component_store,
    update_components,
)


def _rows(df):
    return sorted((r.id, r.component) for r in df.collect())


def _full(spark, edges):
    return _rows(connected_components(
        spark.createDataFrame(edges, ["src", "dst"])))


def test_update_equals_full_recompute_random(spark):
    """Seeded random base+delta graphs: incremental == from-scratch."""
    for seed in (7, 23, 99):
        rng = random.Random(seed)
        base = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
        delta = [(rng.randrange(90), rng.randrange(90)) for _ in range(30)]
        base = [e for e in base if e[0] != e[1]]
        delta = [e for e in delta if e[0] != e[1]]
        mapping = connected_components(
            spark.createDataFrame(base, ["src", "dst"]))
        got = _rows(update_components(
            mapping, spark.createDataFrame(delta, ["src", "dst"])))
        assert got == _full(spark, base + delta), f"seed {seed}"


def test_update_new_vertex_becomes_root(spark):
    """A delta vertex below the old root takes over as component min."""
    mapping = connected_components(
        spark.createDataFrame([(5, 6), (6, 7)], ["src", "dst"]))
    delta = spark.createDataFrame([(1, 7)], ["src", "dst"])
    got = _rows(update_components(mapping, delta))
    assert got == [(1, 1), (5, 1), (6, 1), (7, 1)]


def test_update_disjoint_delta_leaves_mapping_untouched(spark):
    mapping = connected_components(
        spark.createDataFrame([(5, 6)], ["src", "dst"]))
    delta = spark.createDataFrame([(100, 101)], ["src", "dst"])
    stats: dict = {}
    got = _rows(update_components(mapping, delta, stats=stats))
    assert got == [(5, 5), (6, 5), (100, 100), (101, 100)]
    assert stats["merged_roots"] == 1  # 101 -> 100, no OLD component moved


def test_update_string_ids(spark):
    mapping = connected_components(spark.createDataFrame(
        [("b", "c")], ["src", "dst"]))
    delta = spark.createDataFrame([("a", "c"), ("x", "y")], ["src", "dst"])
    got = _rows(update_components(mapping, delta))
    assert got == [("a", "a"), ("b", "a"), ("c", "a"),
                   ("x", "x"), ("y", "x")]


def test_update_merges_two_old_components(spark):
    """The remap path proper: two existing components bridged."""
    base = [(10, 11), (20, 21)]
    mapping = connected_components(
        spark.createDataFrame(base, ["src", "dst"]))
    delta = spark.createDataFrame([(11, 21)], ["src", "dst"])
    got = _rows(update_components(mapping, delta))
    assert got == [(10, 10), (11, 10), (20, 10), (21, 10)]


# ---------------------------------------------------------------------------
# persisted store
# ---------------------------------------------------------------------------


def _store_base(spark, tmp_path, base_edges, buckets=8):
    path = str(tmp_path / "ccstore")
    mapping = connected_components(
        spark.createDataFrame(base_edges, ["src", "dst"]))
    build_component_store(mapping, path, buckets=buckets)
    return path


def test_store_update_resolve_equals_full(spark, tmp_path):
    base = [(i, i + 100) for i in range(1, 11)]          # 10 stars
    d1 = [(1, 2), (3, 4)]                                 # two merges
    d2 = [(2, 3), (500, 501)]                             # chain + new comp
    path = _store_base(spark, tmp_path, base)
    s1 = update_component_store(
        spark, spark.createDataFrame(d1, ["src", "dst"]), path, update_id=1)
    assert s1["merged_roots"] == 2 and s1["new_vertices"] == 0
    s2 = update_component_store(
        spark, spark.createDataFrame(d2, ["src", "dst"]), path, update_id=2)
    assert s2["new_vertices"] == 2
    got = _rows(resolve_component_store(spark, path))
    assert got == _full(spark, base + d1 + d2)
    # the cross-update remap chain resolved: u1 put 3 under 3's root,
    # u2 merged 3's component into 1's — both 3 and 4 must land on 1
    as_map = dict(got)
    assert as_map[3] == 1 and as_map[4] == 1


def test_store_probe_prunes_to_id_buckets(spark, tmp_path):
    base = [(i, i + 1000) for i in range(1, 33)]
    path = _store_base(spark, tmp_path, base, buckets=16)
    ids = spark.createDataFrame([(5,), (17,)], ["id"])
    got = _rows(resolve_component_store(spark, path, ids=ids))
    assert got == [(5, 5), (17, 17)]
    # layout mechanics: the probe's bucket filter reads strictly fewer
    # files than the full store holds (file-level partition pruning)
    m = spark.read.parquet(f"{path}/mapping")
    total = m.select(F.input_file_name()).distinct().count()
    bks = [
        r.b for r in ids.select(
            F.pmod(F.xxhash64("id"), F.lit(16)).alias("b"))
        .distinct().collect()
    ]
    pruned = (
        m.filter(F.col("bucket").isin(bks))
        .select(F.input_file_name()).distinct().count()
    )
    assert pruned < total


def test_store_torn_update_replay_is_idempotent(spark, tmp_path):
    """A replayed update (same update_id) leaves the store byte-stable:
    reads exclude the update's own segment, writes replace it."""
    base = [(10, 11), (20, 21)]
    delta = [(11, 21), (1, 10)]
    path = _store_base(spark, tmp_path, base)
    df = spark.createDataFrame(delta, ["src", "dst"])
    update_component_store(spark, df, path, update_id=3)  # torn attempt
    first = _rows(resolve_component_store(spark, path))
    update_component_store(spark, df, path, update_id=3)  # replay
    assert _rows(resolve_component_store(spark, path)) == first
    assert first == _full(spark, base + delta)
    # no duplicate mapping rows across segments either
    m = spark.read.parquet(f"{path}/mapping")
    assert m.count() == m.select("id").distinct().count()


def test_store_compaction_preserves_resolution(spark, tmp_path):
    base = [(i, i + 100) for i in range(1, 11)]
    path = _store_base(spark, tmp_path, base)
    update_component_store(
        spark, spark.createDataFrame([(1, 2)], ["src", "dst"]),
        path, update_id=1)
    update_component_store(
        spark, spark.createDataFrame([(2, 3), (900, 901)], ["src", "dst"]),
        path, update_id=2)
    before = _rows(resolve_component_store(spark, path))
    stats = compact_component_store(spark, path)
    assert stats["remap_entries_folded"] == 2
    assert _rows(resolve_component_store(spark, path)) == before
    assert not os.path.exists(f"{path}/remap")
    # the store keeps working after compaction
    update_component_store(
        spark, spark.createDataFrame([(3, 900)], ["src", "dst"]),
        path, update_id=3)
    assert _rows(resolve_component_store(spark, path)) == _full(
        spark, base + [(1, 2), (2, 3), (900, 901), (3, 900)])


def test_streaming_component_ingest(spark, tmp_path):
    """Alias edges streamed in three microbatches (auto-compaction at
    batch 2) resolve identically to a from-scratch CC run."""
    from nous_spark.streaming.structured import streaming_component_ingest

    batches = [
        [(i, i + 100) for i in range(1, 6)],
        [(1, 2), (3, 4)],
        [(2, 3), (700, 701)],
    ]
    src_dir = str(tmp_path / "edges_src")
    os.makedirs(src_dir)
    for i, b in enumerate(batches):
        d = str(tmp_path / f"b{i}")
        spark.createDataFrame(b, "src BIGINT, dst BIGINT") \
            .coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        os.rename(f"{d}/{part}", f"{src_dir}/batch{i}.parquet")
        os.utime(f"{src_dir}/batch{i}.parquet",
                 (1_000_000 + i, 1_000_000 + i))

    path = str(tmp_path / "ccstore")
    build_component_store(
        spark.createDataFrame([], "id BIGINT, component BIGINT"),
        path, buckets=8)
    q = streaming_component_ingest(
        spark, src_dir, path, compact_every_n_batches=2)
    q.awaitTermination(120)
    got = _rows(resolve_component_store(spark, path))
    assert got == _full(spark, [e for b in batches for e in b])


# ---------------------------------------------------------------------------
# incremental canonical store (labels + representative log)
# ---------------------------------------------------------------------------

ALIAS_EDGES = [
    # component 1: short aliases of one long name (rep = the longest)
    ("acme", "Acme Corporation"), ("ACME Inc", "Acme Corporation"),
    # component 2: two equally long labels (rep = lexicographic min)
    ("alpha", "omega"), ("omega", "gamma"),
    # component 3: a chain whose longest label arrives LAST (update 2)
    ("bb", "cc"),
]
LATE_EDGES = [
    ("cc", "a-very-long-canonical-name"),   # longest joins component 3
    ("gamma", "delta"),                      # extends component 2
    ("new1", "new2"),                        # brand-new component
]


def _canon_rows(df):
    return sorted((r.label, r.canonical_label, r.canonical_id)
                  for r in df.collect())


def test_canonical_store_parity_with_batch(spark, tmp_path):
    """Build from the base edges, fold the late edges in, resolve:
    byte-equal to batch canonical_mapping over the union — including
    the representative rule (longest label, ties lexicographic) and
    canonical_id hashes."""
    from nous_spark.operators.canonicalize import (
        build_canonical_store,
        canonical_mapping,
        resolve_canonical_store,
        update_canonical_store,
    )

    path = str(tmp_path / "canon")
    build_canonical_store(
        spark.createDataFrame(ALIAS_EDGES, ["a", "b"]), path, buckets=8)
    update_canonical_store(
        spark, spark.createDataFrame(LATE_EDGES, ["a", "b"]), path,
        update_id=1)
    got = _canon_rows(resolve_canonical_store(spark, path))
    want = _canon_rows(canonical_mapping(
        spark.createDataFrame(ALIAS_EDGES + LATE_EDGES, ["a", "b"])))
    assert got == want
    # the late-arriving longest label must have taken over component 3
    as_map = {l: c for l, c, _ in got}
    assert as_map["bb"] == "a-very-long-canonical-name"
    # tie in component 2 resolves lexicographically (alpha/delta/gamma/
    # omega all length 5 -> alpha)
    assert as_map["omega"] == "alpha"


def test_canonical_store_probe_and_torn_replay(spark, tmp_path):
    from nous_spark.operators.canonicalize import (
        build_canonical_store,
        resolve_canonical_store,
        update_canonical_store,
    )

    path = str(tmp_path / "canon")
    build_canonical_store(
        spark.createDataFrame(ALIAS_EDGES, ["a", "b"]), path, buckets=8)
    delta = spark.createDataFrame(LATE_EDGES, ["a", "b"])
    update_canonical_store(spark, delta, path, update_id=1)  # torn
    first = _canon_rows(resolve_canonical_store(spark, path))
    update_canonical_store(spark, delta, path, update_id=1)  # replay
    assert _canon_rows(resolve_canonical_store(spark, path)) == first
    # probe: only the asked-for labels come back, already re-rooted
    probe = resolve_canonical_store(
        spark, path, labels=spark.createDataFrame([("bb",)], ["id"]))
    assert _canon_rows(probe) == [
        r for r in first if r[0] == "bb"]


def test_canonical_store_compaction_preserves_resolution(spark, tmp_path):
    from nous_spark.operators.canonicalize import (
        build_canonical_store,
        compact_canonical_store,
        resolve_canonical_store,
        update_canonical_store,
    )

    path = str(tmp_path / "canon")
    build_canonical_store(
        spark.createDataFrame(ALIAS_EDGES, ["a", "b"]), path, buckets=8)
    update_canonical_store(
        spark, spark.createDataFrame(LATE_EDGES, ["a", "b"]), path,
        update_id=1)
    before = _canon_rows(resolve_canonical_store(spark, path))
    compact_canonical_store(spark, path)
    assert _canon_rows(resolve_canonical_store(spark, path)) == before
    assert not os.path.exists(f"{path}/cc/remap")
    # still updatable afterwards: merge components 1 and 3
    update_canonical_store(
        spark, spark.createDataFrame([("acme", "bb")], ["a", "b"]), path,
        update_id=2)
    got = {r.label: r.canonical_label
           for r in resolve_canonical_store(spark, path).collect()}
    assert got["Acme Corporation"] == "a-very-long-canonical-name"


def test_declared_component_meta_schema_matches_written_meta(
        spark, tmp_path):
    """The canonical store is a component store, so this pins the meta
    both share."""
    from pyspark.sql.types import StructType

    from nous_spark.operators.canonicalize import build_canonical_store
    from nous_spark.operators.graph_inc import _META_SCHEMA

    path = str(tmp_path / "canon")
    build_canonical_store(
        spark.createDataFrame(ALIAS_EDGES, ["a", "b"]), path, buckets=8)
    inferred = spark.read.parquet(f"{path}/cc/meta").schema
    assert StructType.fromDDL(_META_SCHEMA) == inferred
