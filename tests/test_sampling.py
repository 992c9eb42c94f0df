"""Sampling V1 keep-set semantics on seeded fixtures
(reference RangeSampleAndHoldGeneric.scala:68-345)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nous_spark.operators.sampling import (
    sample_and_hold_v1,
    tail_vertices,
    vertex_scores,
)


@pytest.fixture(scope="module")
def edges(spark):
    # hub vertex 0 with 60 spokes + a 40-edge chain + two rdf:type edges
    rows = [(0, i, "spoke") for i in range(1, 61)]
    rows += [(100 + i, 101 + i, "chain") for i in range(40)]
    rows += [(0, 200, "rdf:type"), (100, 201, "rdf:type")]
    return spark.createDataFrame(rows, ["src", "dst", "pred"]).persist()


@pytest.fixture(scope="module")
def hub_only(spark):
    return spark.createDataFrame([(0,)], ["id"])


def test_tail_vertices_formula(spark):
    # scores = 0..100: range 10 keeps score < 10 or > 90 exactly
    scores = spark.createDataFrame(
        [(i, float(i)) for i in range(101)], ["id", "score"]
    )
    ids = {r.id for r in tail_vertices(scores, range_pct=10).collect()}
    assert ids == set(range(10)) | set(range(91, 101))


def test_vertex_scores_methods(edges):
    deg = {r.id: r.score for r in vertex_scores(edges, "degree").collect()}
    assert deg[0] == 61.0  # 60 spokes + 1 type edge
    assert deg[110] == 2.0
    div = {r.id: r.score for r in vertex_scores(edges, "diversity").collect()}
    assert div[0] == 61.0


def test_v1_semantics_and_determinism(edges, hub_only):
    kept = sample_and_hold_v1(edges, hub_only, q=0.5, p=0.2, seed=1)
    k1 = {tuple(r) for r in kept.collect()}
    k2 = {
        tuple(r)
        for r in sample_and_hold_v1(edges, hub_only, q=0.5, p=0.2, seed=1).collect()
    }
    assert k1 == k2  # deterministic under the same seed
    # type edges always survive, even when not touching the filtered set
    assert (0, 200, "rdf:type") in k1 and (100, 201, "rdf:type") in k1
    # chain edges touch no filtered vertex → dropped by V1
    assert not any(p == "chain" for (_, _, p) in k1)
    # q=1 keeps every touching edge
    assert (
        sample_and_hold_v1(edges, hub_only, q=1.0, p=1.0, seed=1)
        .filter(F.col("pred") == "spoke")
        .count()
        == 60
    )
    # q=0, p=0 keeps no touching edge
    assert (
        sample_and_hold_v1(edges, hub_only, q=0.0, p=0.0, seed=1)
        .filter(F.col("pred") == "spoke")
        .count()
        == 0
    )


def test_v1_keep_rate(spark):
    # 2000 touching edges: keep-rate ≈ q + (1-q)·p (independent coins)
    rows = [(0, i, "e") for i in range(1, 2001)]
    e = spark.createDataFrame(rows, ["src", "dst", "pred"])
    fv = spark.createDataFrame([(0,)], ["id"])
    q, p = 0.3, 0.2
    kept = sample_and_hold_v1(e, fv, q=q, p=p, seed=11, type_pred=None).count()
    expect = (q + (1 - q) * p) * 2000
    assert abs(kept - expect) < 0.05 * 2000
