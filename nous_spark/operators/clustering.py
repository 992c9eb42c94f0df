"""Power-iteration clustering (SURVEY.md §2.8 G7; reference
Search/src/.../utils/OntologyClustering.scala:238-253 wraps MLlib's
PowerIterationClustering over the type co-occurrence graph built at
:261-279 — the A13 half already exists as type_cooccurrence).

Lin & Cohen, "Power Iteration Clustering" (ICML 2010): embed vertices by a
few power iterations of the row-normalized affinity matrix, then cluster
the 1-D embedding with k-means. Spark-first: the matvec is the same
join+agg round as ``pagerank`` (one shuffle per iteration, lineage
truncated per round); k-means on the scalar embedding is a bounded driver
loop over broadcast literal centroids — no MLlib dependency, no RDDs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nous_spark.localrel import hand_back

# output schema, fixed so the driver fast path never schema-infers (an
# empty pandas frame has no inferable types)
_PIC_OUT_SCHEMA = "id long, cluster int, embedding double"

# embeddings at or under this row count run Lloyd driver-side (exact, one
# collect); larger ones use the distributed per-round aggregate
_KMEANS_DRIVER_CAP = 4_000_000

# symmetrized edge lists at or under this row count run the WHOLE power
# iteration driver-side from one Arrow collect (~24 B/edge ≈ 1.5 GB at the
# cap): the distributed matvec is one shuffle
# per round, and on a small graph every round is pure stage/scheduling
# overhead — measured 10-12 s for a 1,000-vertex graph at local[32] vs
# <2 s collected; the NumPy bincount matvec handles 46M edges x 6 rounds
# in ~2 s (measured on the sf1 co-occurrence graph, which at 46M
# symmetrized edges sat just above the previous 16M cap and paid 6
# distributed shuffle rounds for a 10k-vertex problem). Web-scale graphs
# (the 100 TB co-occurrence case) exceed the cap and take the
# distributed join+agg path below, whose plan is unchanged.
_PIC_EDGE_DRIVER_CAP = 64_000_000


def _lloyd_1d(svals, k: int, kmeans_iter: int) -> list[float]:
    """Exact 1-D Lloyd over a SORTED normalized embedding (sorting makes
    the float mean accumulation layout-independent). Returns the final
    centroids; callers assign by argmin(|v - c|) with first-index ties."""
    import numpy as np

    qs = [(i + 0.5) / k for i in range(k)]
    centroids = [float(c) for c in np.quantile(svals, qs)]
    centroids = sorted(set(centroids))
    while len(centroids) < k:
        centroids.append(centroids[-1] + 1e-9 * (len(centroids) + 1))
    for _ in range(kmeans_iter):
        c = np.asarray(centroids)
        assign = np.argmin(np.abs(svals[:, None] - c[None, :]), axis=1)
        new_centroids = [
            float(svals[assign == i].mean()) if (assign == i).any()
            else centroids[i]
            for i in range(len(centroids))
        ]
        if new_centroids == centroids:
            break
        centroids = new_centroids
    return centroids


def _pic_driver(spark, edges_pdf, k, max_iter, kmeans_iter, init, seed,
                canonical=False):
    """Driver fast path: the whole PIC loop in NumPy from one collected
    (a, b, w) edge frame. Matvec accumulation runs over edges sorted by
    (a, b) vertex RANK (rank order == value order, so identical to the
    former raw-value pandas sort, ~4× faster at 20M rows), making the
    result a pure function of the edge multiset — independent of
    partition layout, like every other driver path.

    ``canonical=True``: the frame holds each unordered pair once; the
    mirror orientation is reconstructed here in NumPy (half the driver
    transfer, same edge multiset)."""
    import numpy as np
    import pandas as pd

    a = edges_pdf["a"].to_numpy(np.int64)
    b = edges_pdf["b"].to_numpy(np.int64)
    w = edges_pdf["w"].to_numpy(np.float64)
    if canonical:
        # one factorization pass for both columns (unique+return_inverse
        # ~2x faster than unique + two searchsorted passes at 20M rows)
        ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        ai0 = inv[: len(a)]
        bi0 = inv[len(a):]
        ai0, bi0, w = (np.concatenate([ai0, bi0]),
                       np.concatenate([bi0, ai0]),
                       np.concatenate([w, w]))
    else:
        ids = np.unique(a)  # symmetrized: every vertex is on the a side
        ai0 = np.searchsorted(ids, a)
        bi0 = np.searchsorted(ids, b)
    n = len(ids)
    # composite-key argsort == lexsort by (rank_a, rank_b): keys are
    # unique (edge pairs are distinct after the max-reduction), and
    # n*n < 2^63 at any driver cap, so the single-key sort is exact and
    # ~2x faster than lexsort's two passes
    order = np.argsort(ai0.astype(np.int64) * n + bi0)
    ai = ai0[order]
    bi = bi0[order]
    w = w[order]
    deg = np.bincount(ai, weights=w, minlength=n)
    if init == "degree":
        v = deg / deg.sum()
    else:  # "random": same seeded xxhash64 family as the distributed path
        # (one tiny local job — xxhash64 is JVM-side only)
        v0 = (
            spark.createDataFrame(pd.DataFrame({"id": ids}))
            .select(
                "id",
                (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(1 << 30))
                 .cast("double") / F.lit(float(1 << 30))).alias("v"),
            )
            .toPandas().sort_values("id")
        )
        v = v0["v"].to_numpy(np.float64)
    for _ in range(max_iter):
        v = np.bincount(ai, weights=w * v[bi], minlength=n) / np.where(
            deg > 0, deg, 1.0
        )
    norm = float(np.abs(v).sum()) or 1.0
    v = v / norm
    centroids = np.asarray(_lloyd_1d(np.sort(v), k, kmeans_iter))
    assign = np.argmin(np.abs(v[:, None] - centroids[None, :]), axis=1)
    return hand_back(
        spark,
        {"id": ids, "cluster": assign.astype("int32"), "embedding": v},
        _PIC_OUT_SCHEMA,
    )


def power_iteration_clustering(
    sim: DataFrame,
    k: int,
    max_iter: int = 10,
    kmeans_iter: int = 10,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    init: str | DataFrame = "random",
    seed: int = 42,
) -> DataFrame:
    """Cluster an undirected weighted similarity graph. Returns
    (id, cluster, embedding).

    sim(src, dst, weight) with weight > 0; edges are symmetrized (MLlib
    PIC requires symmetric affinities). ``init``: "random" (default —
    MLlib's default mode, here a seeded xxhash64-uniform so it is
    deterministic and resume-stable; required to break symmetry between
    mirror-image clusters), "degree" (v0 ∝ d_i, MLlib's "degree" mode), or
    a DataFrame(id, v) of explicit start values. Each iteration computes
    v ← (W v)_i / d_i and L1-normalizes; k-means centroids are initialized
    at the k quantiles of the final embedding (deterministic).
    """
    e = (
        sim.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
            F.col(weight).cast("double").alias("w"),
        )
        .filter(F.col("w") > 0)
        .filter(F.col("a") != F.col("b"))
    )
    # symmetrize with a deterministic reduction: if the input carries both
    # (a,b,w1) and (b,a,w2) or duplicate edges, max(w) wins regardless of
    # partition order (dropDuplicates would pick an arbitrary row).
    # The max is taken over the CANONICAL (min, max) orientation first and
    # the mirror is added after: the aggregate then shuffles each
    # unordered pair once instead of both orientations — half the
    # exchange bytes and half the groups (guide §2.3), with the identical
    # symmetric result (max over an unordered pair's weights is
    # orientation-free).
    canon = (
        e.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"), "w"
        )
        .groupBy("a", "b")
        .agg(F.max("w").alias("w"))
    )

    # small-graph fast path: when the symmetrized edge list fits the
    # driver and the init is one of the built-in modes, run the whole
    # loop in NumPy off one Arrow collect of the CANONICAL half — the
    # mirror is reconstructed in pandas, so only half the symmetrized
    # bytes cross the driver boundary (the 46M-sym-edge sf1 graph
    # collects 23M rows). `_pic_driver` sorts the frame by (a, b), so
    # the result is a pure function of the edge multiset — identical to
    # collecting the union. The size check is a count(), NOT a
    # limit-probe collect; DataFrame inits stay on the distributed path
    # (the caller's init frame may be arbitrarily large).
    if isinstance(init, str):
        canon = canon.persist()
        if 2 * canon.count() <= _PIC_EDGE_DRIVER_CAP:
            spark = sim.sparkSession
            cpdf = canon.toPandas()
            canon.unpersist()
            if len(cpdf) == 0:
                # empty / fully-filtered similarity frame: a typed empty
                # result (the NumPy loop has no vertex to start from)
                return hand_back(
                    spark, {"id": [], "cluster": [], "embedding": []},
                    _PIC_OUT_SCHEMA)
            return _pic_driver(spark, cpdf, k, max_iter, kmeans_iter,
                               init, seed, canonical=True)

    e = (
        canon.unionByName(
            canon.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
        .persist()
    )

    deg = e.groupBy("a").agg(F.sum("w").alias("d")).withColumnRenamed("a", "id")
    if isinstance(init, DataFrame):
        v = deg.join(init.select("id", "v"), "id")
    elif init == "degree":
        total = deg.agg(F.sum("d").alias("t")).collect()[0].t
        v = deg.select("id", (F.col("d") / F.lit(total)).alias("v"))
    else:  # "random": seeded hash-uniform per vertex, partition-independent
        v = deg.select(
            "id",
            (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(1 << 30)).cast("double")
             / F.lit(float(1 << 30))).alias("v"),
        )
    v = v.localCheckpoint(eager=True)

    # v ← (W v)_i / d_i is an average of neighbor values (row sums of
    # D⁻¹W are 1), so iterates stay bounded and the direction is all that
    # matters — normalize ONCE after the loop instead of paying a
    # collect-the-norm job every iteration. Lineage is truncated every
    # SIXTH round (an eager localCheckpoint is a whole job — at the
    # default max_iter=6..10 this is 1-2 jobs instead of 2-4; six chained
    # join+agg rounds stay well within planner limits, measured ~1 s/call
    # cheaper than every-3rd at sf0.1)
    for it in range(max_iter):
        wv = (
            e.join(v.withColumnRenamed("id", "b"), "b")
            .select("a", (F.col("w") * F.col("v")).alias("wv"))
            .groupBy("a")
            .agg(F.sum("wv").alias("num"))
            .withColumnRenamed("a", "id")
        )
        v = deg.join(wv, "id", "left").select(
            "id", (F.coalesce("num", F.lit(0.0)) / F.col("d")).alias("v")
        )
        if it % 6 == 5 or it == max_iter - 1:
            v = v.localCheckpoint(eager=True)

    # When the embedding fits on the driver (one double per vertex via
    # Arrow toPandas, ~8 bytes/row, ~32 MB at the 4M cap), ONE collect of
    # the RAW iterate powers everything that follows: the L1 norm, the
    # quantile centroid init, and exact NumPy Lloyd — replacing a
    # norm-collect job + an approxQuantile job + one job per Lloyd round.
    # Past the cap (web-scale vertex sets) the distributed path below pays
    # those jobs instead; both paths use the same argmin-first tie-break
    # as the final assignment.
    import numpy as np

    qs = [(i + 0.5) / k for i in range(k)]
    vals = (
        v.select("v").limit(_KMEANS_DRIVER_CAP + 1).toPandas()["v"]
        .to_numpy(dtype=np.float64)
    )
    # sort before the NumPy Lloyd rounds: per-cluster float means (and
    # argmin ULP ties) must not depend on toPandas partition-arrival
    # order — same layout-independence contract as the BPR trainer. The
    # driver loop only ever uses the value multiset, so sorting is free.
    vals = np.sort(vals)
    if len(vals) <= _KMEANS_DRIVER_CAP:
        norm = float(np.abs(vals).sum()) or 1.0
        v = v.select("id", (F.col("v") / F.lit(norm)).alias("v"))
        centroids = _lloyd_1d(vals / norm, k, kmeans_iter)
    else:
        norm = v.agg(F.sum(F.abs("v")).alias("n")).collect()[0].n or 1.0
        v = v.select(
            "id", (F.col("v") / F.lit(norm)).alias("v")
        ).localCheckpoint(eager=True)
        centroids = v.approxQuantile("v", qs, 0.0001)
        # collapse duplicate centroids (degenerate embeddings) deterministically
        centroids = sorted(set(centroids))
        while len(centroids) < k:
            centroids.append(centroids[-1] + 1e-9 * (len(centroids) + 1))
        for _ in range(kmeans_iter):
            dists = F.array(*[F.abs(F.col("v") - F.lit(c)) for c in centroids])
            assigned = v.withColumn(
                "cluster", F.array_position(dists, F.array_min(dists)) - 1
            )
            means = {
                r.cluster: r.m
                for r in assigned.groupBy("cluster")
                .agg(F.avg("v").alias("m"))
                .collect()
            }
            new_centroids = [
                means.get(i, centroids[i]) for i in range(len(centroids))
            ]
            if new_centroids == centroids:
                break
            centroids = new_centroids

    dists = F.array(*[F.abs(F.col("v") - F.lit(c)) for c in centroids])
    out = v.select(
        "id",
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int").alias("cluster"),
        F.col("v").alias("embedding"),
    )
    e.unpersist()
    if isinstance(init, str):
        canon.unpersist()
    return out
