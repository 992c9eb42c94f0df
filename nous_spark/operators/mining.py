"""Frequent-subgraph mining as DataFrame aggregations (SURVEY.md §2.4-2.5).

The reference's Mining module (DatatoPatternGraph.scala) maintains a
"pattern-instance graph" in GraphX and re-mines it with Pregel + broadcast
loops. Here a pattern instance is a row:

    instances(pattern_key STRING, binding ARRAY<BIGINT>, batch_id INT,
              endpoints ARRAY<BIGINT>)

pattern growth is a bounded self-equi-join and support is a two-level
aggregation — no Pregel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def min_image_support(instances: DataFrame, binding_cols: list[str]) -> DataFrame:
    """A1 (computeMinImageSupport, DatatoPatternGraph.scala:1237-1298):
    per pattern, for each variable position count distinct bound data
    nodes; support = min over positions.

    Implemented as one melt + two aggregations — distinct-per-position via
    explode, not a driver loop.
    """
    pos_cols = F.array(
        *[
            F.struct(F.lit(i).alias("var_pos"), F.col(c).cast("long").alias("node"))
            for i, c in enumerate(binding_cols)
        ]
    )
    melted = instances.select("pattern_key", F.explode(pos_cols).alias("pv")).select(
        "pattern_key", F.col("pv.var_pos").alias("var_pos"), F.col("pv.node").alias("node")
    )
    per_pos = melted.groupBy("pattern_key", "var_pos").agg(
        F.countDistinct("node").alias("n_distinct")
    )
    return per_pos.groupBy("pattern_key").agg(F.min("n_distinct").alias("support"))


def cumulative_pattern_count(per_batch: DataFrame) -> DataFrame:
    """A5 (:580-588): sum supports across batches."""
    return per_batch.groupBy("pattern_key").agg(F.sum("support").alias("support"))


def grow_patterns(instances: DataFrame, cur_batch: int | None = None,
                  per_key_cap: int | None = 1000) -> DataFrame:
    """J6 (getUpdateWindowPatternGraph :744-879): join adjacent pattern
    instances sharing a data vertex into doubled patterns.

    instances must carry: pattern_key, binding ARRAY<BIGINT>,
    endpoints ARRAY<BIGINT>, batch_id, inst_id.

    One self-equi-join on exploded endpoints. The batch-recency predicate
    (left or right side touches the current batch, :778-779) keeps
    incremental growth incremental. ``per_key_cap`` is the skew guard
    analogous to the reference's edgeLimit=2 (:839-859) but per *endpoint
    key* and far looser: hub vertices cap their expansion fan-out instead
    of exploding quadratically.
    """
    pts = instances.select(
        "inst_id", "pattern_key", "binding", "batch_id",
        F.explode("endpoints").alias("endpoint"),
    )
    if per_key_cap is not None:
        # skew guard, hash-sample form (same pattern as the token cap in
        # linking.py): a per-endpoint row_number window lands deg(hub)
        # rows in ONE task for a 10^6-degree hub — the count-aggregate +
        # modulo filter below is an ordinary shuffle agg plus a map-side
        # filter, so no single task ever sees a whole hub. Endpoints at
        # or under the cap keep every instance (bit-identical to the
        # uncapped join); hubs keep a deterministic ~cap-sized sample
        # that is a pure function of (inst_id, endpoint), not of layout.
        ep_counts = pts.groupBy("endpoint").agg(F.count("*").alias("__ec"))
        pts = (
            pts.join(ep_counts, "endpoint")
            .filter(
                (F.col("__ec") <= per_key_cap)
                | (
                    F.pmod(
                        F.xxhash64("inst_id", "endpoint"),
                        F.ceil(F.col("__ec") / F.lit(per_key_cap)).cast("long"),
                    )
                    == 0
                )
            )
            .drop("__ec")
        )
    left = pts.alias("l")
    right = pts.alias("r")
    cond = (F.col("l.endpoint") == F.col("r.endpoint")) & (
        F.col("l.inst_id") < F.col("r.inst_id")
    )
    if cur_batch is not None:
        cond = cond & (
            (F.col("l.batch_id") == cur_batch) | (F.col("r.batch_id") == cur_batch)
        )
    joined = left.join(right, cond)
    grown = joined.select(
        F.concat_ws("+", F.col("l.pattern_key"), F.col("r.pattern_key")).alias(
            "pattern_key"
        ),
        F.concat(F.col("l.binding"), F.col("r.binding")).alias("binding"),
        F.greatest(F.col("l.batch_id"), F.col("r.batch_id")).alias("batch_id"),
        F.array_union(
            F.array(F.col("l.endpoint")), F.array(F.col("r.endpoint"))
        ).alias("endpoints"),
        F.xxhash64(
            F.concat_ws("+", F.col("l.pattern_key"), F.col("r.pattern_key")),
            F.concat_ws(",", F.col("l.binding")),
            F.concat_ws(",", F.col("r.binding")),
        ).alias("inst_id"),
    )
    return grown.dropDuplicates(["pattern_key", "binding"])
