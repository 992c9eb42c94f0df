"""Graph sampling V1 (SURVEY.md §2.8 G9; reference
Sampling/src/.../RangeSampleAndHoldGeneric.scala:68-345).

The reference collects all triplets to the driver and streams them through
`scala.util.Random` coin flips — inherently single-node and irreproducible.
Here the sample is a declarative DataFrame plan over the edge table:

- vertex scores (degree / pagerank / diversity) are the existing graph ops
- the "range" filter keeps vertices in the extreme ``range_pct`` tails of
  the score distribution (getFilteredV, :325-336)
- coin flips are seeded xxhash64-uniforms per edge — deterministic,
  partition-independent, resume-stable (re-running the sample yields the
  byte-identical edge set, which the reference cannot do)

The sample returns the kept edges (same schema as the input edge frame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nous_spark.operators.graph import degrees

_U_DENOM = 1 << 30


def _uniform(seed: int, tag: str, *cols):
    """Deterministic uniform [0,1) per row: xxhash64 of the edge identity
    plus a tag (so successive coin flips are independent)."""
    h = F.xxhash64(F.lit(tag), F.lit(seed), *cols)
    return F.pmod(h, F.lit(_U_DENOM)).cast("double") / F.lit(float(_U_DENOM))


def vertex_scores(edges: DataFrame, method: str = "degree") -> DataFrame:
    """Vertex importance for the range filter (getVSortedInfo, :283-323):
    degree, pagerank, or diversity (# distinct neighbor ids)."""
    if method == "degree":
        return degrees(edges).select("id", F.col("degree").cast("double").alias("score"))
    if method == "pagerank":
        from nous_spark.operators.graph import pagerank

        return pagerank(edges, max_iter=10).select("id", F.col("rank").alias("score"))
    if method == "diversity":
        pts = edges.select(F.col("src").alias("id"), F.col("dst").alias("nbr")).unionAll(
            edges.select(F.col("dst").alias("id"), F.col("src").alias("nbr"))
        )
        return pts.groupBy("id").agg(
            F.countDistinct("nbr").cast("double").alias("score")
        )
    raise ValueError(f"unknown score method: {method}")


def tail_vertices(scores: DataFrame, range_pct: int) -> DataFrame:
    """getFilteredV (:325-336): vertices whose score falls in the extreme
    ``range_pct`` of the [min, max] span:
    score < min + step·range OR score > max - step·range, step=(max-min)/100."""
    st = scores.agg(F.min("score").alias("mn"), F.max("score").alias("mx")).collect()[0]
    step = (st.mx - st.mn) / 100.0
    lo = st.mn + step * range_pct
    hi = st.mx - step * range_pct
    return scores.filter((F.col("score") < lo) | (F.col("score") > hi)).select("id")


def _flag_touching(edges: DataFrame, filtered_v: DataFrame) -> DataFrame:
    fv = filtered_v.select(F.col("id").alias("__fv"))
    src_hit = edges.join(
        F.broadcast(fv), edges.src == F.col("__fv"), "left_semi"
    ).withColumn("__touch", F.lit(True))
    rest = edges.join(F.broadcast(fv), edges.src == F.col("__fv"), "left_anti")
    dst_hit = rest.join(
        F.broadcast(fv), rest.dst == F.col("__fv"), "left_semi"
    ).withColumn("__touch", F.lit(True))
    miss = rest.join(F.broadcast(fv), rest.dst == F.col("__fv"), "left_anti").withColumn(
        "__touch", F.lit(False)
    )
    return src_hit.unionByName(dst_hit).unionByName(miss)


def sample_and_hold_v1(
    edges: DataFrame, filtered_v: DataFrame, q: float, p: float,
    seed: int = 42, type_pred: str | None = "rdf:type",
) -> DataFrame:
    """V1 (doSamplingV1, :131-185): edges touching a range-filtered vertex
    survive a q-coin, else a second p-coin; edges touching no filtered
    vertex are dropped; type edges always pass."""
    t = _flag_touching(edges, filtered_v)
    u1 = _uniform(seed, "v1a", F.col("src"), F.col("dst"), F.col("pred"))
    u2 = _uniform(seed, "v1b", F.col("src"), F.col("dst"), F.col("pred"))
    keep = F.col("__touch") & ((u1 <= q) | (u2 <= p))
    if type_pred is not None:
        keep = keep | (F.col("pred") == type_pred)
    return t.filter(keep).drop("__touch")
