"""Engine-wide StructType schemas (SURVEY.md §1, FIXTURES.md)."""

from __future__ import annotations

from pyspark.sql import types as T

# North-rule input table (BASELINE.json input_hint)
SOURCE_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
    T.StructField("content", T.StringType(), False),
])

# Triple record (TripleParser.scala:28-38) + provenance + invariant carry
TRIPLE_SCHEMA = T.StructType([
    T.StructField("subj", T.StringType(), False),
    T.StructField("pred", T.StringType(), False),
    T.StructField("obj", T.StringType(), False),
    T.StructField("conf", T.DoubleType(), False),
    T.StructField("kind", T.StringType(), False),  # 'rel' | 'type'
    T.StructField("repo", T.StringType(), True),
    T.StructField("path", T.StringType(), True),
    T.StructField("commit", T.StringType(), True),
    T.StructField("src", T.StringType(), True),
    T.StructField("content_sha", T.StringType(), True),
])
