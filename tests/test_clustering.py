"""G7 power-iteration clustering vs a NumPy oracle
(reference OntologyClustering.scala:238-253)."""

from __future__ import annotations

import numpy as np
import pytest

from nous_spark.operators.clustering import power_iteration_clustering


def _numpy_pic(edges, n, k, v0, max_iter=10):
    """Same algorithm, dense NumPy: row-normalized power iteration +
    1-D k-means with quantile init."""
    W = np.zeros((n, n))
    for a, b, w in edges:
        W[a, b] = w
        W[b, a] = w
    d = W.sum(axis=1)
    v = np.array(v0, dtype=np.float64)
    for _ in range(max_iter):
        v = (W @ v) / np.where(d > 0, d, 1.0)
    v = v / np.abs(v).sum()
    order = np.sort(v)
    cents = [order[int((i + 0.5) / k * (n - 1))] for i in range(k)]
    cents = sorted(set(cents))
    while len(cents) < k:
        cents.append(cents[-1] + 1e-9 * (len(cents) + 1))
    for _ in range(10):
        assign = np.argmin(np.abs(v[:, None] - np.array(cents)[None, :]), axis=1)
        new = [
            v[assign == i].mean() if (assign == i).any() else cents[i]
            for i in range(len(cents))
        ]
        if new == cents:
            break
        cents = new
    assign = np.argmin(np.abs(v[:, None] - np.array(cents)[None, :]), axis=1)
    return v, assign


@pytest.fixture(scope="module")
def two_cliques():
    edges = []
    for grp, base in ((0, 0), (1, 5)):
        for i in range(5):
            for j in range(i + 1, 5):
                edges.append((base + i, base + j, 10.0))
    edges.append((4, 5, 0.1))  # weak bridge
    return edges


def test_pic_separates_cliques(spark, two_cliques):
    sim = spark.createDataFrame(two_cliques, ["src", "dst", "weight"])
    out = power_iteration_clustering(sim, k=2, max_iter=10).collect()
    by_id = {r.id: r.cluster for r in out}
    left = {by_id[i] for i in range(5)}
    right = {by_id[i] for i in range(5, 10)}
    assert len(left) == 1 and len(right) == 1 and left != right


def test_pic_matches_numpy_oracle(spark, two_cliques):
    # explicit shared init so both engines iterate the exact same vector
    v0 = [((i * 2654435761) % 97) / 97.0 + 0.01 for i in range(10)]
    init = spark.createDataFrame(
        [(i, v0[i]) for i in range(10)], ["id", "v"]
    )
    sim = spark.createDataFrame(two_cliques, ["src", "dst", "weight"])
    out = power_iteration_clustering(sim, k=2, max_iter=10, init=init).collect()
    v_np, assign_np = _numpy_pic(two_cliques, 10, 2, v0)
    emb = {r.id: r.embedding for r in out}
    for i in range(10):
        assert abs(emb[i] - v_np[i]) < 1e-9, f"embedding diverges at {i}"
    # cluster labels match up to permutation
    spark_assign = {r.id: r.cluster for r in out}
    groups_spark = {}
    groups_np = {}
    for i in range(10):
        groups_spark.setdefault(spark_assign[i], set()).add(i)
        groups_np.setdefault(int(assign_np[i]), set()).add(i)
    assert sorted(map(sorted, groups_spark.values())) == sorted(
        map(sorted, groups_np.values())
    )


def test_pic_weight_filter_and_symmetry(spark):
    # zero/negative weights ignored; direction-agnostic input
    rows = [(0, 1, 5.0), (1, 0, 5.0), (2, 3, 5.0), (0, 2, 0.0), (1, 3, -1.0)]
    sim = spark.createDataFrame(rows, ["src", "dst", "weight"])
    # component-constant init (2-node components oscillate under power
    # iteration; a within-component-equal start is a fixpoint)
    init = spark.createDataFrame(
        [(0, 0.9), (1, 0.9), (2, 0.1), (3, 0.1)], ["id", "v"]
    )
    out = power_iteration_clustering(sim, k=2, max_iter=5, init=init).collect()
    by_id = {r.id: r.cluster for r in out}
    assert by_id[0] == by_id[1]
    assert by_id[2] == by_id[3]


def test_pic_driver_path_matches_distributed(spark, two_cliques,
                                             distributed):
    """The small-graph driver fast path (one Arrow collect + NumPy loop)
    must produce the same clustering as the distributed matvec path with
    the same "random" init."""
    sim = spark.createDataFrame(two_cliques, ["src", "dst", "weight"])
    fast = power_iteration_clustering(sim, k=2, max_iter=10).collect()
    with distributed():
        dist = power_iteration_clustering(sim, k=2, max_iter=10).collect()
    groups_f, groups_d = {}, {}
    for r in fast:
        groups_f.setdefault(r.cluster, set()).add(r.id)
    for r in dist:
        groups_d.setdefault(r.cluster, set()).add(r.id)
    assert sorted(map(sorted, groups_f.values())) == sorted(
        map(sorted, groups_d.values())
    )
    # embeddings agree to float tolerance (summation order may differ)
    emb_f = {r.id: r.embedding for r in fast}
    emb_d = {r.id: r.embedding for r in dist}
    for i in emb_f:
        assert abs(emb_f[i] - emb_d[i]) < 1e-9


def test_pic_empty_and_fully_filtered_input(spark):
    """Empty or fully weight-filtered similarity frames return a TYPED
    empty (id, cluster, embedding) frame instead of crashing with
    CANNOT_INFER_EMPTY_SCHEMA (round-5 ADVICE)."""
    empty = spark.createDataFrame([], "src long, dst long, weight double")
    out = power_iteration_clustering(empty, k=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "cluster", "embedding"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "int", "double"
    ]
    # all-nonpositive weights filter to empty too
    z = spark.createDataFrame([(0, 1, 0.0), (1, 2, -1.0)],
                              ["src", "dst", "weight"])
    assert power_iteration_clustering(z, k=2).count() == 0
