"""Projection / filter / dedup operators (SURVEY.md §2.2, §2.6, §2.7).

All pure Catalyst expressions — codegen'd, pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def valid_lines(df: DataFrame, col: str = "line") -> DataFrame:
    """F1 (ReadGraph.scala:13-15): drop comment/directive/empty lines."""
    c = F.col(col)
    return df.filter(
        (F.length(c) > 0)
        & ~c.startswith("#")
        & ~c.startswith("@")
        & ~c.startswith("3210#")
    )


def normalize_fields(df: DataFrame, cols: list[str]) -> DataFrame:
    """F2 (ReadGraph.scala:17-19): lowercase, strip <>, trailing ' .', trim."""
    out = df
    for c in cols:
        out = out.withColumn(
            c,
            F.trim(F.regexp_replace(
                F.lower(F.regexp_replace(F.col(c), r"[<>]", "")), r"\s*\.\s*$", ""
            )),
        )
    return out


def purge_longest_object(
    df: DataFrame, group_cols: tuple[str, ...] = ("src", "subj", "pred"),
    obj_col: str = "obj",
) -> DataFrame:
    """N6/W1 (TripleParser.scala:321-329): per group keep the row with the
    longest object (ties → lexicographically last, stable).

    Implemented as one ``max_by`` aggregation over the (length, object)
    order key instead of a row_number window: the aggregate does partial,
    map-side combining, so the exchange carries at most one row per group
    per map partition rather than every row, and no per-group sort runs
    (guide §2.3 "aggregate before you shuffle"). Among full (length, obj)
    ties the surviving row's non-key columns are an arbitrary pick —
    exactly the window formulation's behavior (row_number over a
    non-total order)."""
    others = [c for c in df.columns if c not in group_cols]
    order_key = F.struct(
        F.length(F.col(obj_col)).alias("l"), F.col(obj_col).alias("o")
    )
    agg = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.max_by(F.struct(*[F.col(c) for c in others]), order_key).alias("__m")
    )
    return agg.select(
        *[F.col(c) for c in group_cols],
        *[F.col(f"__m.{c}").alias(c) for c in others],
    ).select(df.columns)


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order_col: str, k: int, desc: bool = True
) -> DataFrame:
    """W2/W5: rank within group, keep top-k."""
    order = F.col(order_col).desc() if desc else F.col(order_col).asc()
    w = Window.partitionBy(*group_cols).orderBy(order)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )
