"""Driver-side row sets handed back to Spark.

``local_df`` — small key/remap/patch/meta row sets. A plain python-list
``createDataFrame`` produces a pickled local relation: every job that
executes it (including a 20-row parquet write) spins up Python workers
in the executor — measured 4-6 s per write at local[32], the same
runner spin-up previously documented as the "coalesce tax"
(operators/ann.py). Converting the rows through pandas first makes the
relation Arrow-backed, so execution stays JVM-side: the same 20-row
write measures ~0.2 s warm. Row sets here are delta-bounded by contract
(remap logs, patch chains, probe key sets) — never corpus-sized.

``hand_back`` — the one way a driver fast path (connected components,
k-core, label propagation, PIC) returns its NumPy result, which can be
corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``createDataFrame`` over ``rows`` (iterable of tuples) with an
    explicit DDL ``schema`` ("name type, ..."), routed through pandas so
    the relation is Arrow-backed (JVM-side at execution, no Python
    worker in consuming jobs)."""
    import pandas as pd

    names = [f.strip().split()[0] for f in schema.split(",")]
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema=schema)
    pdf = pd.DataFrame(rows, columns=names)
    return spark.createDataFrame(pdf, schema=schema)


def hand_back(spark: SparkSession, columns: dict, schema: str) -> DataFrame:
    """A frame over driver-side ``columns`` (name -> NumPy array or
    list, one per field of the DDL ``schema``), typed by ``schema``.

    pyarrow writes the columns to a parquet file in a fresh
    ``tempfile.mkdtemp`` dir; Spark reads it back under ``schema`` and
    ``localCheckpoint(eager=True)`` pins the rows in the block store, so
    the dir is removed before returning and nothing outlives the call.
    A ``createDataFrame(pandas)`` relation is instead re-shipped with
    every job that reads it (one action over 1.65M rows measured 4.5 s
    that way against 0.5 s for the parquet write and scan); the
    checkpoint adds ~0.15 s at that size (4 cores). An empty result is
    an empty local relation, which the optimizer can prune. The dir is
    driver-local, so executors must share the driver's filesystem
    (true under ``local[...]``)."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))
    table = pa.table(
        [pa.array(columns[f.name], type=f.type) for f in arrow_schema],
        schema=arrow_schema,
    )
    if table.num_rows == 0:
        return spark.createDataFrame([], schema=schema)
    d = tempfile.mkdtemp(prefix="nous_handback_")
    try:
        pq.write_table(table, f"{d}/part.parquet", row_group_size=1 << 17)
        return spark.read.schema(schema).parquet(d).localCheckpoint(
            eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)
