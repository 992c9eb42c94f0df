"""Edge-label distributions over a typed graph: per-vertex incident
label counts (A11) and the typed 2-edge signature histogram (A6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def edge_label_multiset(edges: DataFrame) -> DataFrame:
    """A11 (PathFeatureGenerator.saveEdgeRankPerVertex, :124-150): per
    vertex, MAP<label, count> of incident edge labels."""
    counts = edges.select(F.col("src").alias("id"), "pred").groupBy(
        "id", "pred"
    ).agg(F.count("*").alias("cnt"))
    return counts.groupBy("id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("pred", "cnt"))
        ).alias("label_counts")
    )


def two_edge_signatures(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """A6 (getGraphDistributions.scala:69-200): typed 2-edge signature
    histogram — A→B→C chains (pregel block), A←B→C out-forks
    (``ab_ac_OnA``, sendToSrc) and A→B←C in-forks (``ba_ca_OnA``,
    sendToDst).

    The reference collects every incident edge signature per vertex and
    pairs them i<j (flatMap over the per-vertex list). A literal
    re-expression is a self-join on the shared vertex — O(deg²) per
    vertex, which materializes 10¹² pairs for one 10⁶-degree celebrity
    at web scale. Since only the HISTOGRAM survives, the pairs are never
    needed: aggregate per-vertex typed-edge-group counts c_g (bounded by
    |preds|·|labels|, not by degree) and emit pair counts combinatorially —
    c_i·c_j across groups, C(c,2) within a group. One extra narrow shuffle,
    zero pair materialization, identical histogram.

    Pair orientation within a signature is canonicalized by (pred, dst_t)
    — type-level and deterministic. (The reference's own orientation is
    the GraphX aggregation-list order, which is partition-layout
    nondeterministic; within-group C(c,2) pairs instance duplicates the
    same way the reference's i<j loop does.)
    """
    v = vertices.select(F.col("id"), F.col("label").alias("vlabel"))
    typed = (
        edges.join(v.withColumnRenamed("id", "src").withColumnRenamed("vlabel", "src_t"), "src")
        .join(v.withColumnRenamed("id", "dst").withColumnRenamed("vlabel", "dst_t"), "dst")
        .select("src", "dst", "pred", "src_t", "dst_t")
    )
    # per-vertex typed group counts; src_t (resp. dst_t) is constant per
    # vertex so carrying it through the groupBy adds no keys. Each group
    # frame feeds FOUR consumers (chain join, self-join both sides,
    # within-group term) — materialized once so Catalyst doesn't re-run
    # the vertex-join + aggregation subtree per arm (audited: 8
    # re-executions, the query was stage-overhead-bound; same discipline
    # as triangle_counts)
    out_g = typed.groupBy("src", "src_t", "pred", "dst_t").agg(
        F.count("*").alias("c")
    ).localCheckpoint(eager=True)
    in_g = typed.groupBy("dst", "dst_t", "src_t", "pred").agg(
        F.count("*").alias("c")
    ).localCheckpoint(eager=True)
    chains = (
        in_g.withColumnRenamed("dst", "vid").alias("i")
        .join(out_g.withColumnRenamed("src", "vid").alias("o"), "vid")
        .select(
            F.concat_ws(
                ">", F.col("i.src_t"), F.col("i.pred"), F.col("i.dst_t"),
                F.col("o.pred"), F.col("o.dst_t"),
            ).alias("sig"),
            (F.col("i.c") * F.col("o.c")).alias("cnt"),
        )
        .withColumn("shape", F.lit("chain"))
    )
    og = out_g.withColumnRenamed("src", "vid")
    a, b = og.alias("a"), og.alias("b")
    cross = (
        a.join(b, (F.col("a.vid") == F.col("b.vid"))
               & ((F.col("a.pred") < F.col("b.pred"))
                  | ((F.col("a.pred") == F.col("b.pred"))
                     & (F.col("a.dst_t") < F.col("b.dst_t")))))
        .select(
            F.concat_ws(
                "<", F.col("a.dst_t"), F.col("a.pred"), F.col("a.src_t"),
                F.col("b.pred"), F.col("b.dst_t"),
            ).alias("sig"),
            (F.col("a.c") * F.col("b.c")).alias("cnt"),
        )
    )
    within = og.filter(F.col("c") >= 2).select(
        F.concat_ws(
            "<", F.col("dst_t"), F.col("pred"), F.col("src_t"),
            F.col("pred"), F.col("dst_t"),
        ).alias("sig"),
        (F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("cnt"),
    )
    forks = cross.unionByName(within).withColumn("shape", F.lit("fork"))
    # in-forks A→B←C (ba_ca_OnA, sendToDst): same combinatorial counting
    # over per-DST typed groups, canonical order by (pred, src_t)
    ig = in_g.withColumnRenamed("dst", "vid")
    ia, ib = ig.alias("a"), ig.alias("b")
    icross = (
        ia.join(ib, (F.col("a.vid") == F.col("b.vid"))
                & ((F.col("a.pred") < F.col("b.pred"))
                   | ((F.col("a.pred") == F.col("b.pred"))
                      & (F.col("a.src_t") < F.col("b.src_t")))))
        .select(
            F.concat_ws(
                ">", F.col("a.src_t"), F.col("a.pred"), F.col("a.dst_t"),
                F.col("b.pred"), F.col("b.src_t"),
            ).alias("sig"),
            (F.col("a.c") * F.col("b.c")).alias("cnt"),
        )
    )
    iwithin = ig.filter(F.col("c") >= 2).select(
        F.concat_ws(
            ">", F.col("src_t"), F.col("pred"), F.col("dst_t"),
            F.col("pred"), F.col("src_t"),
        ).alias("sig"),
        (F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("cnt"),
    )
    in_forks = icross.unionByName(iwithin).withColumn(
        "shape", F.lit("fork_in")
    )
    return chains.unionByName(forks).unionByName(in_forks).groupBy(
        "shape", "sig"
    ).agg(F.sum("cnt").alias("cnt"))
