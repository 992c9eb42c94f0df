#!/usr/bin/env python
"""Linking bench: the driver and the distributed path of ``link_entities``.

Generates an N-file synthetic corpus (``generate_corpus``, seed 42),
extracts its KG the way ``run_pipeline`` does, and links every `calls`
mention with the candidate universe restricted to typed code entities
(candidate_types=["FUNCTION","CLASS","MODULE"]) — once with the driver
path admitted at any size, once with it shut off. Each path runs
``reps`` + 1 calls: ``<path>_walls`` lists every call (the first runs on
a JVM that has not run that path yet), ``<path>_sec`` is the best of the
calls after the first.

``mode`` is the path the call took, read from its physical plan: the
driver path hands back a checkpointed scan, the distributed path plans
a grouped pandas UDF; a driver-admitted call that still plans the UDF
took the hub-token fallback. ``default_mode`` is the path taken at the
shipped ``_LINK_DRIVER_CAP``. Use the two walls to size that cap.

Usage: python scripts/linking_bench.py [n_files] [cpus] [reps]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def _mode(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "distributed" if "FlatMapGroupsInPandas" in plan else "driver"


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 120
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else int(
        os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
    )
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    from pyspark.sql import functions as F

    from nous_spark.corpus import corpus_df
    from nous_spark.operators import linking
    from nous_spark.operators.extraction import extract_triples_normalized
    from nous_spark.session import get_spark

    spark = get_spark(cores=cpus, app_name="linking_bench")
    triples, _ = extract_triples_normalized(corpus_df(spark, n_files=n_files))
    triples = triples.persist()
    kg = triples.select("subj", "pred", "obj")
    n_triples = kg.count()
    # the pipeline's link input: callee mentions per doc
    mentions = (
        triples.filter(F.col("pred") == "calls")
        .select(F.col("doc_id").cast("string").alias("doc_id"),
                F.col("obj").alias("mention"))
        .distinct()
        .persist()
    )
    n_mentions = mentions.count()
    types = ["FUNCTION", "CLASS", "MODULE"]
    default_cap = linking._LINK_DRIVER_CAP

    out = {"metric": "linking_bench", "n_files": n_files, "cpus": cpus,
           "n_triples": n_triples, "n_mentions": n_mentions,
           "driver_cap": default_cap,
           "default_mode": "driver" if n_triples <= default_cap else "distributed"}
    for path, cap in (("driver", n_triples), ("distributed", -1)):
        linking._LINK_DRIVER_CAP = cap
        walls = []
        for _ in range(reps + 1):
            t0 = time.perf_counter()
            linked = linking.link_entities(mentions, kg, candidate_types=types)
            rows = linked.collect()
            walls.append(time.perf_counter() - t0)
        out[f"{path}_mode"] = _mode(linked)
        out[f"{path}_sec"] = round(min(walls[1:]), 3)
        out[f"{path}_walls"] = [round(w, 2) for w in walls]
        out[f"{path}_resolved"] = sum(
            not (r.entity_label or "").startswith("nous: ") for r in rows)
    linking._LINK_DRIVER_CAP = default_cap
    if out["driver_mode"] == "distributed":
        out["default_mode"] = "distributed"  # hub-token fallback
    out["link_mentions_per_sec"] = round(
        n_mentions / max(out[f"{out['default_mode']}_sec"], 1e-9), 1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
