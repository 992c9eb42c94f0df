"""SemDeDup semantic dedup vs a NumPy brute-force re-derivation."""

from __future__ import annotations

import random

import numpy as np
import pytest

from nous_spark.operators.semdedup import semantic_dedup


def _mk_vectors(n=60, dim=8, seed=3, dups=6):
    """Random vectors + planted rotations: for each of the first `dups`
    sources, a copy rotated by alpha (cos 0.98 — above a 0.97 threshold)
    and one rotated by 2*alpha (cos 0.9208 — below it): an exact
    transitive chain."""
    rng = random.Random(seed)
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    cos_a = 0.98
    sin_a = float(np.sqrt(1 - cos_a * cos_a))
    cos_2a = 2 * cos_a * cos_a - 1
    sin_2a = 2 * sin_a * cos_a
    for i in range(dups):
        v = np.array(rows[i][1])
        u = v / np.linalg.norm(v)
        w = np.array([rng.gauss(0, 1) for _ in range(dim)])
        w = w - (w @ u) * u
        w = w / np.linalg.norm(w)
        nv = np.linalg.norm(v)
        rows.append((1000 + i,
                     [float(x) for x in nv * (cos_a * u + sin_a * w)]))
        if i < dups // 2:
            rows.append((2000 + i,
                         [float(x) for x in nv * (cos_2a * u + sin_2a * w)]))
    return rows


def _brute_groups(rows, threshold, cells):
    """Union-find over the true cosine graph restricted to same-cell
    pairs; returns {id: min_id_of_component}."""
    ids = [r[0] for r in rows]
    m = np.array([r[1] for r in rows], dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if cells[ids[i]] != cells[ids[j]]:
                continue
            if sims[i, j] >= threshold:
                a, b = find(ids[i]), find(ids[j])
                if a != b:
                    lo, hi = min(a, b), max(a, b)
                    parent[hi] = lo
    # path-compress fully, then representatives are component minima
    # because unions always hang the larger root under the smaller
    return {i: find(i) for i in ids}


@pytest.mark.parametrize("n_cells", [1, 4])
def test_semantic_dedup_matches_brute_force(spark, n_cells):
    rows = _mk_vectors()
    df = spark.createDataFrame(
        [(i, v) for i, v in rows], "vec_id long, embedding array<double>")
    out = semantic_dedup(df, dim=8, threshold=0.97, n_cells=n_cells,
                         seed=7).collect()
    assert len(out) == len(rows)                      # every doc verdicted
    cells = {r.vec_id: r.cell for r in out}
    want = _brute_groups(rows, 0.97, cells)
    got = {r.vec_id: r.group_id for r in out}
    assert got == want
    for r in out:
        assert r.keep == int(r.vec_id == r.group_id)
    # planted chain: source, +0.02, +0.04 must share one group when
    # co-located (always true at n_cells=1 — transitivity, since
    # cos(src, +0.04) < 0.97 but both hops are above)
    if n_cells == 1:
        for i in range(3):
            assert got[1000 + i] == got[i] == got[2000 + i] == i
        vecs = dict(rows)
        m = np.array(vecs[0]); m2 = np.array(vecs[2000])
        c = float(m @ m2 / np.linalg.norm(m) / np.linalg.norm(m2))
        assert c < 0.97  # the chain really is transitive-only


def test_semantic_dedup_all_singletons(spark):
    rows = _mk_vectors(n=20, dups=0)
    df = spark.createDataFrame(
        [(i, v) for i, v in rows], "vec_id long, embedding array<double>")
    out = semantic_dedup(df, dim=8, threshold=0.999, n_cells=4).collect()
    assert all(r.keep == 1 and r.group_id == r.vec_id for r in out)
    assert len(out) == 20
