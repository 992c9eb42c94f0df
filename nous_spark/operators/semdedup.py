"""SemDeDup-style semantic deduplication: cluster document embeddings,
compare pairwise only WITHIN a cluster, and keep one document per group
of semantic near-duplicates (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication", arXiv:2303.09540).

This is the embedding-space member of the dedup family
(operators/dedup.py holds the lexical ones; operators/ann.py the
serve-path indexes). Where ``embedding_near_duplicates`` blocks
candidates by signed-random-projection bits, SemDeDup blocks by k-means
cell — the published recipe, and the better fit when an IVF index over
the same embeddings already exists (the centroids are shared:
``ivf_build_index`` / ``_assign_cells``, so dedup cells and ANN cells
can never drift apart).

Scale design: the corpus never self-joins. One pass assigns cells
(JVM-side dot products against literal centroids), one Arrow-batched
``applyInPandas`` per cell computes the dense cosine block (NumPy
matmul), and the τ-graph's connected components are cell-local by
construction. Cluster count is the knob that bounds the quadratic term:
SemDeDup ran 50k clusters over LAION-440M (~9k docs/cell → an 81M-entry
float block per task); at 100 TB pick ``n_cells`` so N/n_cells stays in
that band and the per-task block fits executor memory. Skewed cells
(one mega-cluster) are the failure mode to watch — the per-cell size
histogram is one groupBy away, and ``ivf_add_vectors``' drift stats
(operators/ann.py) report the same skew for the serving twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nous_spark.operators.ann import ivf_build_index


def semantic_dedup(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_cells: int = 16,
    kmeans_iter: int = 5,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full SemDeDup verdict: one row per input document with
    (id, cell, group_id, keep) where group_id is the minimum id of the
    document's τ-connected component inside its cell (singletons group
    with themselves) and keep marks the one retained member per group.

    Keeper choice: the published recipe keeps the member FARTHEST from
    the centroid (hard examples); min-id is used here instead because it
    is order-free and exactly reproducible by any independent
    implementation — swap in a different policy by re-ranking inside
    each group_id. Transitivity is deliberate, matching
    ``near_duplicate_clusters``: dedup policy must be transitive even
    though cosine similarity is not.
    """
    from nous_spark.operators.dedup import near_duplicate_clusters

    _, assigned = ivf_build_index(
        embeddings, dim=dim, n_cells=n_cells, kmeans_iter=kmeans_iter,
        seed=seed, id_col=id_col, vec_col=vec_col,
    )
    assigned = assigned.localCheckpoint(eager=False)

    def cell_block(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({
                "a": pd.Series(dtype="int64"),
                "b": pd.Series(dtype="int64"),
            })
        ids = pdf["vec_id"].to_numpy()
        m = np.asarray(pdf["v_emb"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        m = m / norms[:, None]
        sims = m @ m.T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= threshold
        a, b = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame({"a": np.minimum(a, b), "b": np.maximum(a, b)})

    id_type = dict(assigned.dtypes)["vec_id"]
    pairs = assigned.groupBy("cell").applyInPandas(
        cell_block, schema=f"a {id_type}, b {id_type}"
    )
    groups = near_duplicate_clusters(pairs)  # (id, keeper_id), paired ids only
    out = (
        assigned.select("vec_id", "cell")
        .join(groups, assigned["vec_id"] == groups["id"], "left")
        .select(
            F.col("vec_id"),
            F.col("cell"),
            F.coalesce(F.col("keeper_id"), F.col("vec_id")).alias("group_id"),
        )
        .withColumn(
            "keep", (F.col("vec_id") == F.col("group_id")).cast("int")
        )
    )
    if id_col != "vec_id":
        out = out.withColumnRenamed("vec_id", id_col)
    return out
