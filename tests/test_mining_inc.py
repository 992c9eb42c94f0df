"""Incremental min-image-support store (operators/mining_inc.py):
full-recompute parity through updates, cross-increment match terms,
novelty exactness, torn replay, bucket pruning, compaction."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from nous_spark.operators.mining_inc import (
    build_mis_store,
    compact_mis_store,
    read_mis_support,
    update_mis_store,
)

pytestmark = pytest.mark.usefixtures("spark")


_KEYS = {"chain": "p", "shared_subj": "l", "shared_obj": "v"}


def _brute_support(edges, pairs):
    """Pure-Python oracle: min over positions of distinct bound nodes."""
    out = {}
    preds = {p for _s, p, _o in edges}
    for p in preds:
        subs = {s for s, pp, _o in edges if pp == p}
        objs = {o for _s, pp, o in edges if pp == p}
        out[f"e:{p}"] = min(len(subs), len(objs))
    for spec in pairs:
        p1, p2 = spec[0], spec[1]
        shape = spec[2] if len(spec) > 2 else "chain"
        e1 = [(s, o) for s, pp, o in edges if pp == p1]
        e2 = [(s, o) for s, pp, o in edges if pp == p2]
        xs, ys, zs = set(), set(), set()
        for s1, o1 in e1:
            # (x, shared y) of edge 1 per shape
            x, y = (s1, o1) if shape == "chain" else                    (o1, s1) if shape == "shared_subj" else (s1, o1)
            for s2, o2 in e2:
                y2, z = (s2, o2) if shape == "chain" else                         (s2, o2) if shape == "shared_subj" else (o2, s2)
                if y == y2:
                    xs.add(x); ys.add(y); zs.add(z)
        key = f"{_KEYS[shape]}:{p1}|{p2}"
        out[key] = min(len(xs), len(ys), len(zs)) if xs else 0
    return {k: v for k, v in out.items() if v > 0}


def _got(spark, path, exclude=()):
    return {
        r.pattern_key: r.support
        for r in read_mis_support(spark, path, exclude_segs=exclude)
        .collect() if r.support > 0
    }


def _df(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


BASE = [
    ("a", "knows", "b"), ("b", "knows", "c"), ("c", "likes", "d"),
    ("a", "likes", "d"), ("d", "knows", "a"),
]
# u1 creates cross-increment pair matches: new knows edges whose objs
# hit stored likes subjects, and new likes edges fed by stored knows
U1 = [
    ("e", "knows", "c"),      # Δ1⋈E2 via c -likes-> d
    ("b", "likes", "f"),      # E1⋈Δ2 via a -knows-> b
    ("f", "knows", "g"), ("g", "likes", "h"),   # Δ1⋈Δ2
]
U2 = [
    ("a", "knows", "b"),      # exact duplicate: must insert nothing new
    ("h", "mentions", "a"),   # brand-new predicate
]
PAIRS = [("knows", "likes")]


def test_support_matches_brute_force_through_updates(spark, tmp_path):
    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, BASE), path, pair_patterns=PAIRS, buckets=8)
    assert _got(spark, path) == _brute_support(BASE, PAIRS)
    update_mis_store(spark, _df(spark, U1), path, update_id=1)
    assert _got(spark, path) == _brute_support(BASE + U1, PAIRS)
    update_mis_store(spark, _df(spark, U2), path, update_id=2)
    assert _got(spark, path) == _brute_support(BASE + U1 + U2, PAIRS)


def test_duplicate_delta_inserts_nothing(spark, tmp_path):
    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, BASE), path, pair_patterns=PAIRS, buckets=8)
    stats = update_mis_store(spark, _df(spark, BASE), path, update_id=1)
    assert stats["new_postings"] == 0
    assert _got(spark, path) == _brute_support(BASE, PAIRS)


def test_randomized_parity(spark, tmp_path):
    rng = random.Random(8)
    nodes = [f"n{i}" for i in range(14)]
    preds = ["p", "q", "r"]
    pairs = [("p", "q"), ("q", "q")]

    def _edges(n):
        return [(rng.choice(nodes), rng.choice(preds), rng.choice(nodes))
                for _ in range(n)]

    base, d1, d2 = _edges(25), _edges(12), _edges(12)
    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, base), path, pair_patterns=pairs, buckets=8)
    update_mis_store(spark, _df(spark, d1), path, update_id=1)
    update_mis_store(spark, _df(spark, d2), path, update_id=2)
    assert _got(spark, path) == _brute_support(base + d1 + d2, pairs)


def test_torn_replay_is_idempotent(spark, tmp_path):
    """All of a torn attempt's writes land; the replay must reproduce
    the exact same state (reads exclude the in-flight segment)."""
    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, BASE), path, pair_patterns=PAIRS, buckets=8)
    update_mis_store(spark, _df(spark, U1), path, update_id=1)
    before = _got(spark, path)
    # replay the same update (same id) — as after a torn commit
    update_mis_store(spark, _df(spark, U1), path, update_id=1)
    assert _got(spark, path) == before
    # pre-batch view still reconstructable
    assert _got(spark, path, exclude=("u1",)) == _brute_support(BASE, PAIRS)


def test_update_prunes_postings_read_to_delta_buckets(spark, tmp_path):
    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, BASE), path, pair_patterns=PAIRS,
                    buckets=64)
    stats = update_mis_store(
        spark, _df(spark, [("zz1", "knows", "zz2")]), path, update_id=1)
    # two nodes (plus no pair matches) touch at most a handful of the
    # 64 buckets — the anti-join's store read was pruned, not full
    assert stats["touched_buckets"] <= 4


def test_compaction_preserves_support_and_shrinks_files(spark, tmp_path):
    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, BASE), path, pair_patterns=PAIRS, buckets=8)
    update_mis_store(spark, _df(spark, U1), path, update_id=1)
    update_mis_store(spark, _df(spark, U2), path, update_id=2)
    before = _got(spark, path)
    log = compact_mis_store(spark, path)
    assert log["files_after"] < log["files_before"]
    assert _got(spark, path) == before
    # still updatable after compaction
    update_mis_store(
        spark, _df(spark, [("x1", "knows", "d")]), path, update_id=3)
    assert _got(spark, path) == _brute_support(
        BASE + U1 + U2 + [("x1", "knows", "d")], PAIRS)


def test_equal_pred_pair_chain(spark, tmp_path):
    edges = [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a")]
    delta = [("c", "p", "d"), ("d", "p", "e")]
    pairs = [("p", "p")]
    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, edges), path, pair_patterns=pairs, buckets=8)
    update_mis_store(spark, _df(spark, delta), path, update_id=1)
    assert _got(spark, path) == _brute_support(edges + delta, pairs)


def test_compaction_excluding_inflight_segment(spark, tmp_path):
    """exclude_segs carries the in-flight segment through unchanged:
    support view identical, and the segment replay still replaces it."""
    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, BASE), path, pair_patterns=PAIRS, buckets=8)
    update_mis_store(spark, _df(spark, U1), path, update_id=1)
    update_mis_store(spark, _df(spark, U2), path, update_id=2)
    before = _got(spark, path)
    compact_mis_store(spark, path, exclude_segs=("u2",))
    assert _got(spark, path) == before
    # the u2 replay (against the compacted base) is still byte-stable
    update_mis_store(spark, _df(spark, U2), path, update_id=2)
    assert _got(spark, path) == before


def test_streaming_mis_ingest(spark, tmp_path):
    """Triples streamed in three microbatches (auto-compaction at
    batch 2) yield the same supports as a full recompute."""
    import os

    from nous_spark.streaming.structured import streaming_mis_ingest

    batches = [U1, U2, [("q1", "knows", "d"), ("d", "likes", "q2")]]
    src_dir = str(tmp_path / "triples_src")
    os.makedirs(src_dir)
    for i, b in enumerate(batches):
        d = str(tmp_path / f"b{i}")
        _df(spark, b).coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        os.rename(f"{d}/{part}", f"{src_dir}/batch{i}.parquet")
        os.utime(f"{src_dir}/batch{i}.parquet",
                 (1_000_000 + i, 1_000_000 + i))

    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, BASE), path, pair_patterns=PAIRS, buckets=8)
    q = streaming_mis_ingest(spark, src_dir, path,
                             compact_every_n_batches=2)
    q.awaitTermination(120)
    assert _got(spark, path) == _brute_support(
        BASE + [e for b in batches for e in b], PAIRS)


def test_update_edges_read_is_pred_pruned(spark, tmp_path):
    """The E-side of the delta-join terms must scan only the pair
    predicates' partitions — at scale the store holds thousands of
    predicates and an update touches a handful."""
    path = str(tmp_path / "mis")
    base = BASE + [(f"m{i}", "mentions", f"m{i+1}") for i in range(20)]
    build_mis_store(_df(spark, base), path, pair_patterns=PAIRS, buckets=8)

    from nous_spark.operators.mining_inc import _stored_edges
    e = _stored_edges(spark, path, preds=["knows", "likes"],
                      exclude_segs=("u1",))
    plan = e._jdf.queryExecution().executedPlan().toString()
    pf = [seg.split("]")[0] for seg in plan.split("PartitionFilters: [")[1:]]
    assert pf and all("knows" in s and "likes" in s for s in pf), plan
    assert all("mentions" not in s for s in pf)


def test_bulk_delta_path_without_broadcast_is_identical(spark, tmp_path):
    """Above broadcast_max_delta_rows the semi-filter falls back to the
    AQE-decided join — results must be byte-identical."""
    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, BASE), path, pair_patterns=PAIRS, buckets=8)
    update_mis_store(spark, _df(spark, U1), path, update_id=1,
                     broadcast_max_delta_rows=0)
    assert _got(spark, path) == _brute_support(BASE + U1, PAIRS)


def test_shared_subject_and_object_shapes(spark, tmp_path):
    """Λ (shared subject) and V (shared object) two-edge shapes — the
    other two ways the reference's growth joins instances on a shared
    data vertex — parity against brute force through an update whose
    matches need the stored side."""
    edges = [("a", "p", "b"), ("a", "q", "c"), ("d", "p", "b"),
             ("e", "q", "b")]
    delta = [("a", "q", "z"), ("f", "p", "b"), ("g", "q", "b")]
    pairs = [("p", "q", "shared_subj"), ("p", "q", "shared_obj")]
    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, edges), path, pair_patterns=pairs, buckets=8)
    assert _got(spark, path) == _brute_support(edges, pairs)
    update_mis_store(spark, _df(spark, delta), path, update_id=1)
    assert _got(spark, path) == _brute_support(edges + delta, pairs)


def test_randomized_parity_all_shapes(spark, tmp_path):
    rng = random.Random(88)
    nodes = [f"n{i}" for i in range(10)]
    preds = ["p", "q"]
    pairs = [("p", "q", "chain"), ("p", "q", "shared_subj"),
             ("p", "p", "shared_obj")]

    def _edges(n):
        return [(rng.choice(nodes), rng.choice(preds), rng.choice(nodes))
                for _ in range(n)]

    base, d1 = _edges(20), _edges(10)
    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, base), path, pair_patterns=pairs, buckets=8)
    update_mis_store(spark, _df(spark, d1), path, update_id=1)
    assert _got(spark, path) == _brute_support(base + d1, pairs)
    with pytest.raises(ValueError, match="unknown pair shape"):
        build_mis_store(_df(spark, base), str(tmp_path / "x"),
                        pair_patterns=[("p", "q", "zigzag")])


def test_hub_vertex_matches_explode_but_postings_stay_node_bounded(
        spark, tmp_path):
    """A hub shared vertex makes MATCH counts explode (k stored edges x
    1 delta edge), but the store never materializes matches — postings
    grow by distinct nodes only."""
    hub_edges = [(f"s{i}", "p", "hub") for i in range(200)]
    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, hub_edges), path,
                    pair_patterns=[("p", "q", "chain")], buckets=8)
    # one delta edge out of the hub: 200 chain matches appear at once
    stats = update_mis_store(
        spark, _df(spark, [("hub", "q", "t")]), path, update_id=1)
    # postings delta: e:q (hub, t) + chain pattern's 200 x's + hub + t
    assert stats["new_postings"] <= 2 + 200 + 2
    assert _got(spark, path) == _brute_support(
        hub_edges + [("hub", "q", "t")], [("p", "q", "chain")])


def _brute_bag_matches(edges, p1, p2, shape="chain"):
    """Multiset join of the two edge lists on the shape's shared
    vertex — the IVM view, bag semantics."""
    out = []
    for s1, o1 in [(s, o) for s, pp, o in edges if pp == p1]:
        x, y = (s1, o1) if shape == "chain" else \
               (o1, s1) if shape == "shared_subj" else (s1, o1)
        for s2, o2 in [(s, o) for s, pp, o in edges if pp == p2]:
            y2, z = (s2, o2) if shape == "chain" else \
                    (s2, o2) if shape == "shared_subj" else (o2, s2)
            if y == y2:
                out.append((x, y, z))
    return sorted(out)


def test_watch_pattern_delta_is_exact_bag_ivm(spark, tmp_path):
    """union(per-batch new matches) == from-scratch bag join at every
    point, including duplicate edge re-arrival raising multiplicity."""
    from nous_spark.operators.mining_inc import watch_pattern_delta

    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, BASE), path, pair_patterns=PAIRS, buckets=8)
    seen = list(BASE)
    acc = _brute_bag_matches(BASE, "knows", "likes")
    # duplicate edge in U2 + fresh cross-increment matches in U1
    for k, delta in enumerate([U1, [("a", "knows", "b"),
                                    ("c", "likes", "d")]], start=1):
        new = watch_pattern_delta(
            spark, _df(spark, delta), path, ("knows", "likes"),
            exclude_segs=(f"u{k}",))
        got_new = sorted((r.x, r.y, r.z) for r in new.collect())
        want_total = _brute_bag_matches(seen + delta, "knows", "likes")
        want_new = list(want_total)
        for m in acc:
            want_new.remove(m)
        assert got_new == sorted(want_new)
        update_mis_store(spark, _df(spark, delta), path, update_id=k)
        seen += delta
        acc = want_total


def test_streaming_pattern_watch(spark, tmp_path):
    """Standing query over three streamed batches: the union of the
    per-batch match partitions equals the from-scratch bag join, and
    supports advanced in the same stream."""
    import os

    from nous_spark.streaming.structured import streaming_pattern_watch

    batches = [U1, [("a", "knows", "b")],   # duplicate raises multiplicity
               [("q1", "knows", "g")]]      # hits U1's (g likes h)
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    for i, b in enumerate(batches):
        d = str(tmp_path / f"b{i}")
        _df(spark, b).coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        os.rename(f"{d}/{part}", f"{src_dir}/batch{i}.parquet")
        os.utime(f"{src_dir}/batch{i}.parquet",
                 (1_000_000 + i, 1_000_000 + i))

    path = str(tmp_path / "mis")
    matches = str(tmp_path / "matches")
    build_mis_store(_df(spark, BASE), path, pair_patterns=PAIRS, buckets=8)
    q = streaming_pattern_watch(spark, src_dir, path, matches,
                                ("knows", "likes"))
    q.awaitTermination(180)
    all_edges = BASE + [e for b in batches for e in b]
    got = sorted((r.x, r.y, r.z)
                 for r in spark.read.parquet(matches).collect())
    base_matches = _brute_bag_matches(BASE, "knows", "likes")
    want = list(_brute_bag_matches(all_edges, "knows", "likes"))
    for m in base_matches:
        want.remove(m)
    assert got == sorted(want)
    assert _got(spark, path) == _brute_support(all_edges, PAIRS)


def test_null_components_never_post(spark, tmp_path):
    """A triple with a NULL component is not an edge — dropped at
    ingestion (no NULL nodes, no NULL-bucket partitions, no phantom
    patterns from invalid lines)."""
    path = str(tmp_path / "mis")
    rows = [("a", "knows", "b"), ("x", "knows", None), (None, "likes", "d")]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    build_mis_store(df, path, pair_patterns=PAIRS, buckets=8)
    got = _got(spark, path)
    # the two NULL-component rows are not edges: only (a knows b) remains
    assert got == {"e:knows": 1}
    update_mis_store(
        spark, spark.createDataFrame(
            [(None, "knows", "z"), ("d", "knows", "c")],
            "subj string, pred string, obj string"),
        path, update_id=1)
    # (None knows z) dropped; (d knows c) posts: subj {a,d}, obj {b,c}
    assert _got(spark, path) == {"e:knows": 2}


def _brute_chain3(edges, p1, p2, p3):
    e1 = [(s, o) for s, pp, o in edges if pp == p1]
    e2 = [(s, o) for s, pp, o in edges if pp == p2]
    e3 = [(s, o) for s, pp, o in edges if pp == p3]
    xs, ys, zs, ws = set(), set(), set(), set()
    for x, y in e1:
        for y2, z in e2:
            if y != y2:
                continue
            for z2, w in e3:
                if z == z2:
                    xs.add(x); ys.add(y); zs.add(z); ws.add(w)
    if not xs:
        return {}
    return {f"c3:{p1}|{p2}|{p3}": min(len(xs), len(ys), len(zs), len(ws))}


def test_chain3_parity_through_updates(spark, tmp_path):
    """3-edge chain supports via the telescoping delta rule — each
    update lands the delta at a different hop so all three terms
    (Δ⋈N⋈N, E⋈Δ⋈N, E⋈E⋈Δ) carry real matches."""
    base = [("a", "p", "b"), ("b", "q", "c"), ("c", "r", "d"),
            ("x", "p", "b")]
    u1 = [("e", "p", "b")]                   # Δ at hop 1
    u2 = [("b", "q", "k"), ("k", "r", "m")]  # Δ at hops 2 and 3
    u3 = [("d", "r", "n"), ("c", "r", "n")]  # Δ at hop 3 only
    chains = [("p", "q", "r")]
    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, base), path, chain_patterns=chains,
                    buckets=8)

    def want(edges):
        out = _brute_support(edges, [])
        out.update(_brute_chain3(edges, "p", "q", "r"))
        return out

    assert _got(spark, path) == want(base)
    seen = list(base)
    for k, delta in enumerate([u1, u2, u3], start=1):
        update_mis_store(spark, _df(spark, delta), path, update_id=k)
        seen += delta
        assert _got(spark, path) == want(seen)


def test_chain3_randomized_parity(spark, tmp_path):
    rng = random.Random(33)
    nodes = [f"n{i}" for i in range(8)]
    preds = ["p", "q"]

    def _edges(n):
        return [(rng.choice(nodes), rng.choice(preds), rng.choice(nodes))
                for _ in range(n)]

    base, d1, d2 = _edges(18), _edges(9), _edges(9)
    chains = [("p", "q", "p"), ("q", "q", "q")]
    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, base), path, chain_patterns=chains,
                    buckets=8)
    update_mis_store(spark, _df(spark, d1), path, update_id=1)
    update_mis_store(spark, _df(spark, d2), path, update_id=2)
    want = _brute_support(base + d1 + d2, [])
    for c in chains:
        want.update(_brute_chain3(base + d1 + d2, *c))
    assert _got(spark, path) == want
    with pytest.raises(ValueError, match="chain_patterns entries"):
        build_mis_store(_df(spark, base), str(tmp_path / "x"),
                        chain_patterns=[("p", "q")])


def test_declared_meta_schema_matches_written_meta(spark, tmp_path):
    from pyspark.sql.types import StructType

    from nous_spark.operators.mining_inc import _META_SCHEMA

    path = str(tmp_path / "mis")
    build_mis_store(_df(spark, BASE), path, pair_patterns=PAIRS, buckets=8)
    inferred = spark.read.parquet(f"{path}/meta").schema
    assert StructType.fromDDL(_META_SCHEMA) == inferred
