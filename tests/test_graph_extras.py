"""PageRank, dictionary encoding, edge-label multisets, signatures."""

from __future__ import annotations

from pyspark.sql import functions as F

from nous_spark.operators.graph import dictionary_encode, pagerank
from nous_spark.operators.relations_mining import (
    edge_label_multiset,
    two_edge_signatures,
)


def test_pagerank_star(spark):
    """star: all leaves point at hub → hub rank highest; NumPy power
    iteration as the oracle (same GraphX-style update)."""
    import numpy as np

    edges = [(i, 0) for i in range(1, 5)] + [(0, 1)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.id: r.rank for r in pagerank(e, max_iter=20).collect()}

    ids = [0, 1, 2, 3, 4]
    out_deg = {0: 1, 1: 1, 2: 1, 3: 1, 4: 1}
    r = {i: 1.0 for i in ids}
    for _ in range(20):
        new = {}
        for v in ids:
            in_sum = sum(
                r[s] / out_deg[s] for s, d in edges if d == v
            )
            new[v] = 0.15 + 0.85 * in_sum
        r = new
    for i in ids:
        assert abs(got[i] - r[i]) < 1e-6, (i, got[i], r[i])
    assert got[0] == max(got.values())


def test_dictionary_encode(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("a", "y")], ["subj", "obj"]
    )
    enc, dic = dictionary_encode(df, ["subj", "obj"])
    d = {r.label: r.id for r in dic.collect()}
    assert sorted(d.values()) == [0, 1, 2, 3]
    assert d["a"] < d["b"] < d["x"] < d["y"]  # deterministic: sorted labels
    rows = enc.collect()
    assert all(r.subj_id == d[r.subj] and r.obj_id == d[r.obj] for r in rows)


def test_edge_label_multiset(spark):
    e = spark.createDataFrame(
        [(1, 2, "a"), (1, 3, "a"), (1, 4, "b")], ["src", "dst", "pred"]
    )
    m = {r.id: dict(r.label_counts) for r in edge_label_multiset(e).collect()}
    assert m[1] == {"a": 2, "b": 1}


def test_two_edge_signatures(spark):
    v = spark.createDataFrame(
        [(1, "person"), (2, "city"), (3, "country")], ["id", "label"]
    )
    e = spark.createDataFrame(
        [(1, 2, "lives_in"), (2, 3, "in_country")], ["src", "dst", "pred"]
    )
    sigs = {(r.shape, r.sig): r.cnt for r in two_edge_signatures(e, v).collect()}
    assert ("chain", "person>lives_in>city>in_country>country") in sigs


def test_two_edge_signatures_bruteforce(spark):
    """Pin the combinatorial rewrite against a brute-force pairing of edge
    INSTANCES (the reference's i<j loop, getGraphDistributions.scala:
    110-146) on a random typed multigraph with duplicate edges and
    self-loops."""
    import itertools
    import random

    rnd = random.Random(7)
    labels = ["person", "org", "place"]
    preds = ["a", "b"]
    vs = [(i, labels[i % 3]) for i in range(12)]
    lab = dict(vs)
    es = [
        (rnd.randrange(12), rnd.randrange(12), rnd.choice(preds))
        for _ in range(60)
    ]
    es += es[:5]  # duplicate instances
    es.append((3, 3, "a"))  # self-loop

    want: dict[tuple, int] = {}
    # chains: every (in-edge, out-edge) pair at the shared vertex
    for (s1, d1, p1), (s2, d2, p2) in itertools.product(es, es):
        if d1 == s2:
            sig = ">".join([lab[s1], p1, lab[d1], p2, lab[d2]])
            want[("chain", sig)] = want.get(("chain", sig), 0) + 1
    # out-forks: unordered instance pairs at the shared src, canonical
    # orientation by (pred, dst_t)
    for (e1, e2) in itertools.combinations(es, 2):
        if e1[0] != e2[0]:
            continue
        k1 = (e1[2], lab[e1[1]])
        k2 = (e2[2], lab[e2[1]])
        a, b = (e1, e2) if k1 <= k2 else (e2, e1)
        sig = "<".join([lab[a[1]], a[2], lab[a[0]], b[2], lab[b[1]]])
        want[("fork", sig)] = want.get(("fork", sig), 0) + 1
    # in-forks (reference ba_ca_OnA, sendToDst): shared dst, canonical
    # orientation by (pred, src_t)
    for (e1, e2) in itertools.combinations(es, 2):
        if e1[1] != e2[1]:
            continue
        k1 = (e1[2], lab[e1[0]])
        k2 = (e2[2], lab[e2[0]])
        a, b = (e1, e2) if k1 <= k2 else (e2, e1)
        sig = ">".join([lab[a[0]], a[2], lab[a[1]], b[2], lab[b[0]]])
        want[("fork_in", sig)] = want.get(("fork_in", sig), 0) + 1

    v = spark.createDataFrame(vs, ["id", "label"])
    e = spark.createDataFrame(es, ["src", "dst", "pred"])
    got = {
        (r.shape, r.sig): r.cnt for r in two_edge_signatures(e, v).collect()
    }
    assert got == want


def test_two_edge_signatures_hub_safe(spark):
    """Scale regression gate: a 40k-degree hub must NOT materialize
    O(deg²) = 1.6e9 pairs. The combinatorial plan aggregates 2 typed
    groups for the hub and finishes in seconds; a pair-join regression
    hangs/OOMs this test."""
    n = 40_000
    v = spark.createDataFrame(
        [(0, "hub")] + [(i, "leaf" if i % 2 else "node") for i in range(1, n + 1)],
        ["id", "label"],
    )
    e = spark.createDataFrame(
        [(0, i, "p") for i in range(1, n + 1)], ["src", "dst", "pred"]
    )
    got = {
        (r.shape, r.sig): r.cnt for r in two_edge_signatures(e, v).collect()
    }
    half = n // 2
    assert got[("fork", "leaf<p<hub<p<node")] == half * half
    assert got[("fork", "leaf<p<hub<p<leaf")] == half * (half - 1) // 2
    assert got[("fork", "node<p<hub<p<node")] == half * (half - 1) // 2
    assert ("chain", "hub>p>leaf>p>hub") not in got


def test_connected_components_string_ids(spark):
    """String vertex ids (alias-graph canonicalization): the convergence
    check must compare components in the id column's own type — a long
    cast NULLs strings and freezes the loop after one round, which a
    >2-hop chain exposes."""
    from nous_spark.operators.graph import connected_components

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")],
        ["src", "dst"],
    )
    comp = {r.id: r.component for r in connected_components(e).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "a",
                    "x": "x", "y": "x"}


def test_connected_components_long_chain_logarithmic_rounds(spark,
                                                           distributed):
    """Chain/high-diameter stress for G8 (the worst case for
    hash-to-min): a 2048-vertex path with SHUFFLED vertex labels (so the
    min id sits at a random chain position) must converge in ~log2(n)
    rounds thanks to pointer jumping — not O(diameter). Pins the 100 TB
    round-count claim with a measurement, not an argument."""
    import math

    from pyspark.sql import functions as F

    from nous_spark.operators.graph import connected_components

    n = 2048
    # bijective odd-multiplier scramble of the label space so the chain's
    # min label lands mid-chain, maximizing propagation distance
    perm = lambda i: (i * 2654435761) % n
    edges = spark.createDataFrame(
        [(perm(i), perm(i + 1)) for i in range(n - 1)], ["src", "dst"])
    stats = {}
    with distributed():
        rows = connected_components(edges, max_iter=30,
                                    stats=stats).collect()
    assert len(rows) == n
    assert {r.component for r in rows} == {0}   # one component, min id 0
    # pointer jumping: rounds ~ log2(diameter) (+1 convergence-check
    # round, x2 slack for hash-to-min propagation lag), far below the
    # O(n) a pure hash-to-min needs
    bound = 2 * math.ceil(math.log2(n)) + 1
    assert stats["rounds"] <= bound, (stats["rounds"], bound)
    # the driver path gives the same mapping
    assert sorted(rows) == sorted(connected_components(edges).collect())


def test_driver_paths_leave_no_scratch_dirs(spark, tmp_path, monkeypatch):
    """Every driver fast path hands its result back through a temp dir
    that is gone before the call returns: with ``tempfile.tempdir`` at
    ``tmp_path``, CC (long and string ids), k_core, label_propagation,
    near_duplicate_clusters and PIC leave it empty."""
    import os
    import tempfile

    from nous_spark.operators.clustering import power_iteration_clustering
    from nous_spark.operators.dedup import near_duplicate_clusters
    from nous_spark.operators.graph import (
        connected_components,
        k_core,
        label_propagation,
    )

    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (4, 5)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    se = spark.createDataFrame(
        [(f"v{a}", f"v{b}") for a, b in edges], ["src", "dst"])
    sim = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edges], ["src", "dst", "weight"])
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    results = [
        connected_components(e),
        connected_components(se),
        k_core(e, 2),
        label_propagation(e),
        near_duplicate_clusters(e.toDF("a", "b")),
        power_iteration_clustering(sim, k=2, max_iter=5),
    ]
    assert [df.count() for df in results] == [6, 6, 3, 6, 6, 6]
    assert os.listdir(tmp_path) == []
