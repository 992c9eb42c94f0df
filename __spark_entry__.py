"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG-extraction over sf0.001.
``queries()`` — one entry per implemented operator family (SURVEY.md §2),
each runnable at any sf dir.
``oracle_sql()`` — DuckDB-equivalent SQL for every SQL-expressible query;
non-SQL ops (extraction pipeline, connected components, LSH) omit the
oracle and get the driver's rows-only check.

Column names are aliased identically on both sides; float aggregates are
rounded on both sides so value hashes are stable across engines.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- flagship
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG triple extraction over the sf0.001 documents table
    (documents mapped onto the source-table shape), purged + typed."""
    from nous_spark.operators.extraction import extract_triples

    docs = _read(spark, "/root/testdata/sf0.001", "documents")
    src = docs.select(
        F.lit("corpus").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.col("lang").alias("lang"),
        F.col("text").alias("content"),
    )
    return extract_triples(src, code_mode=False)


# ---------------------------------------------------------------- queries
def _q_lang_histogram(spark, sf):  # S7
    return (
        _read(spark, sf, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"))
    )


def _q_valid_lines(spark, sf):  # F1
    from nous_spark.operators.filters import valid_lines

    d = _read(spark, sf, "documents").withColumnRenamed("text", "line")
    return valid_lines(d).select("doc_id", "line")


def _q_normalize_fields(spark, sf):  # F2
    from nous_spark.operators.filters import normalize_fields

    d = _read(spark, sf, "documents").select(
        "doc_id", F.col("text").alias("norm")
    )
    return normalize_fields(d, ["norm"]).select("doc_id", "norm")


def _q_purge_longest(spark, sf):  # N6/W1
    from nous_spark.operators.filters import purge_longest_object

    e = _read(spark, sf, "events").select(
        F.col("user_id").alias("src"),
        F.col("event_type").alias("subj"),
        F.lit("p").alias("pred"),
        F.col("props").alias("obj"),
        "event_id",
    )
    return purge_longest_object(e).select("src", "subj", "obj")


def _q_topk_per_group(spark, sf):  # W2/W5
    from nous_spark.operators.filters import top_k_per_group

    li = _read(spark, sf, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    # strict unique order: price desc, then orderkey/linenumber
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        li.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", "rk")
    )


def _q_degree(spark, sf):  # A10
    from nous_spark.operators.graph import degrees

    e = _read(spark, sf, "lineitem").select(
        F.col("l_suppkey").cast("long").alias("src"),
        F.col("l_partkey").cast("long").alias("dst"),
    )
    return degrees(e).select(F.col("id").alias("node_id"), "degree")


def _q_mis_support(spark, sf):  # A1
    from nous_spark.operators.mining import min_image_support

    inst = _read(spark, sf, "lineitem").select(
        F.concat_ws("|", "l_returnflag", "l_linestatus").alias("pattern_key"),
        F.col("l_suppkey").cast("long").alias("b0"),
        F.col("l_partkey").cast("long").alias("b1"),
    )
    return min_image_support(inst, ["b0", "b1"]).select("pattern_key", "support")


def _q_agg_join(spark, sf):  # J1-shaped left-outer aggregation join
    c = _read(spark, sf, "customer")
    o = _read(spark, sf, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
    )
    return (
        c.join(agg, c.c_custkey == agg.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
        )
    )


def _q_semi_join(spark, sf):  # J7
    li = _read(spark, sf, "lineitem")
    p = _read(spark, sf, "part").filter(F.col("p_size") > 40)
    return (
        li.join(p, li.l_partkey == p.p_partkey, "left_semi")
        .select("l_orderkey", "l_linenumber", "l_partkey")
    )


def _q_anti_join(spark, sf):  # J9
    # every customer has orders in the testdata, so an unfiltered anti-join
    # returns 0 rows and validates nothing — restrict the right side so a
    # real survivor set exists (customers none of whose orderkeys ≡ 0 mod 7)
    c = _read(spark, sf, "customer")
    o = _read(spark, sf, "orders").filter(F.col("o_orderkey") % 7 == 0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def _q_windowed_agg(spark, sf):  # streaming-shaped batch agg
    e = _read(spark, sf, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def _q_token_count(spark, sf):  # text analysis: token counting
    from nous_spark.operators.textstats import token_counts

    return token_counts(_read(spark, sf, "documents")).select("doc_id", "n_tokens")


def _q_subword_count(spark, sf):  # text analysis: BPE-ish token counting
    from nous_spark.operators.textstats import regex_token_counts

    return regex_token_counts(_read(spark, sf, "documents")).select(
        "doc_id", "n_subword_tokens"
    )


def _q_quality_score(spark, sf):  # text analysis: quality scoring
    from nous_spark.operators.textstats import quality_scores

    return quality_scores(_read(spark, sf, "documents")).select(
        "doc_id", "n_chars_obs", "stopword_ratio", "mean_token_len"
    )


def _q_dedup_exact(spark, sf):  # dedup: exact hash-groupBy
    from nous_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_read(spark, sf, "documents"), "text", "doc_id").select(
        "text_hash", "keeper_id", "n_dups"
    )


def _q_edge_signatures(spark, sf):  # A6 1-edge signature histogram
    li = _read(spark, sf, "lineitem")
    return (
        li.select(
            F.concat_ws("->", "l_returnflag", "l_linestatus").alias("sig")
        )
        .groupBy("sig")
        .agg(F.count("*").alias("cnt"))
    )


def _q_type_cooccurrence(spark, sf):  # A13 pairs sharing a data node
    li = _read(spark, sf, "lineitem").select("l_orderkey", "l_returnflag").distinct()
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_returnflag") < F.col("b.l_returnflag"))
        .groupBy(
            F.col("a.l_returnflag").alias("t1"),
            F.col("b.l_returnflag").alias("t2"),
        )
        .agg(F.count("*").alias("weight"))
    )


def _q_ann_cosine_topk(spark, sf):  # similarity search: exact top-k
    from nous_spark.operators.ann import brute_force_topk

    emb = _read(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, q, k=10).select(
        "query_id", "vec_id", "cosine", "rank"
    )


def _q_language_id(spark, sf):  # text analysis: n-gram/stopword lang ID
    from nous_spark.operators.textstats import language_id

    return language_id(_read(spark, sf, "documents")).select("doc_id", "lang_pred")


def _q_fingerprint_stats(spark, sf):  # document fingerprinting
    from nous_spark.operators.textstats import fingerprint

    fp = fingerprint(_read(spark, sf, "documents"))
    return fp.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fingerprint").alias("n_unique"),
    )


def _q_token_jaccard(spark, sf):  # F10 jaccard over token sets
    d = _read(spark, sf, "documents").select(
        "doc_id",
        F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+")).alias("toks"),
    )
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(
                F.size(F.array_intersect("a.toks", "b.toks"))
                / F.size(F.array_union("a.toks", "b.toks")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def _q_minhash_pairs(spark, sf):  # dedup: MinHash+LSH (rows-only)
    from nous_spark.operators.dedup import minhash_near_duplicates

    return minhash_near_duplicates(
        _read(spark, sf, "documents"), threshold=0.8
    )


def _q_simhash_pairs(spark, sf):  # dedup: SimHash (rows-only)
    from nous_spark.operators.dedup import simhash_near_duplicates

    return simhash_near_duplicates(
        _read(spark, sf, "documents"), max_hamming=3
    )


def _q_connected_components(spark, sf):  # G8 (rows-only: iterative fixpoint)
    from nous_spark.operators.graph import connected_components

    e = _read(spark, sf, "orders").select(
        F.col("o_custkey").cast("long").alias("src"),
        (F.col("o_orderkey") + F.lit(1_000_000)).cast("long").alias("dst"),
    )
    return connected_components(e)


def _q_cc_update(spark, sf):  # incremental canonicalization fold
    """Base alias graph (customer<->order stars) canonicalized once,
    then a delta (customer<->nation hub edges, merging every base star
    of a nation plus its order-less customers) folded in with
    ``update_components`` — the contracted-graph path at delta cost
    (operators/graph_inc.py). Oracle: from-scratch min-propagation CC
    over the UNION edge set, so the incremental fold is checked against
    a full recompute in a second engine."""
    from nous_spark.operators.graph import connected_components
    from nous_spark.operators.graph_inc import update_components

    base = _read(spark, sf, "orders").select(
        F.col("o_custkey").cast("long").alias("src"),
        (F.col("o_orderkey") + F.lit(1_000_000)).cast("long").alias("dst"),
    )
    delta = _read(spark, sf, "customer").select(
        F.col("c_custkey").cast("long").alias("src"),
        (F.col("c_nationkey") + F.lit(5_000_000)).cast("long").alias("dst"),
    )
    return update_components(connected_components(base), delta)


def _q_str_cc_ingest(spark, sf):  # §2.9 streaming canonicalization
    """Alias edges streamed in three microbatches into a persisted
    component store (orders stars, then customer->nation merges, then
    supplier->nation merges; auto-compaction fires at batch 2), then
    resolved. Same full-recompute oracle as g_cc_update plus the
    supplier edges — the streamed incremental fold must equal the
    from-scratch batch run."""
    import os
    import tempfile

    from nous_spark.operators.graph_inc import (
        build_component_store,
        resolve_component_store,
    )
    from nous_spark.streaming.structured import streaming_component_ingest

    o = _read(spark, sf, "orders").select(
        F.col("o_custkey").cast("long").alias("src"),
        (F.col("o_orderkey") + F.lit(1_000_000)).cast("long").alias("dst"),
    )
    c = _read(spark, sf, "customer").select(
        F.col("c_custkey").cast("long").alias("src"),
        (F.col("c_nationkey") + F.lit(5_000_000)).cast("long").alias("dst"),
    )
    s = _read(spark, sf, "supplier").select(
        (F.col("s_suppkey") + F.lit(2_000_000)).cast("long").alias("src"),
        (F.col("s_nationkey") + F.lit(5_000_000)).cast("long").alias("dst"),
    )
    src_dir = tempfile.mkdtemp(prefix="strcc_src_")
    for i, b in enumerate([o, c, s]):
        d = f"{src_dir}/b{i}"
        b.coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.rename(f"{d}/{f}", f"{src_dir}/batch{i}.parquet")
                os.utime(f"{src_dir}/batch{i}.parquet",
                         (1_000_000 + i, 1_000_000 + i))
    store = tempfile.mkdtemp(prefix="strcc_store_") + "/store"
    build_component_store(
        spark.createDataFrame([], "id BIGINT, component BIGINT"),
        store, buckets=16)
    q = streaming_component_ingest(spark, src_dir, store,
                                   compact_every_n_batches=2)
    q.awaitTermination(180)
    return resolve_component_store(spark, store)


def _q_canonical_update(spark, sf):  # incremental canonical store
    """Persisted canonical store (a component store over rep-order label
    keys, operators/canonicalize.py): built from customer<->nation alias
    stars, then a delta folded in that BOTH adds labels
    (supplier<->nation) and MERGES components (nation<->region collapses
    each region's five nation stars into one), forcing the remap-log
    re-rooting path that dethrones representatives. Oracle: from-scratch
    min-propagation CC over the union edge set plus a window argmax for
    the rep rule (longest label, ties lexicographic) — the incremental
    store must resolve identically to a second engine's full
    recompute."""
    import tempfile

    from nous_spark.operators.canonicalize import (
        build_canonical_store,
        resolve_canonical_store,
        update_canonical_store,
    )

    cust = _read(spark, sf, "customer")
    nat = _read(spark, sf, "nation")
    reg = _read(spark, sf, "region")
    sup = _read(spark, sf, "supplier")
    base = cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
        F.col("c_name").alias("a"), F.col("n_name").alias("b")
    )
    delta = (
        sup.join(nat, sup.s_nationkey == nat.n_nationkey)
        .select(F.col("s_name").alias("a"), F.col("n_name").alias("b"))
        .unionByName(
            nat.join(reg, nat.n_regionkey == reg.r_regionkey).select(
                F.col("n_name").alias("a"), F.col("r_name").alias("b")
            )
        )
    )
    path = tempfile.mkdtemp(prefix="canonstore_") + "/store"
    build_canonical_store(base, path, buckets=16)
    update_canonical_store(spark, delta, path, update_id=1)
    return resolve_canonical_store(spark, path).select(
        "label", "canonical_label"
    )


def _ts_store(spark, sf):  # shared build for the triple-store gates
    """Incremental triple store (operators/triple_store.py): built from
    order-placement triples + customer<->nation alias stars, then one
    increment folds in supplier triples plus an alias delta whose
    nation<->region edges MERGE each region's five components — the
    store must answer with every stored triple rewritten through the
    POST-merge canonicalization, paid for with a per-dethroned-rep
    patch log, never a corpus rewrite. Oracle: full-recompute canonical
    mapping (string min-propagation CC + window-argmax rep) applied to
    the union triple set with left-join rewrites of subj and obj."""
    import tempfile

    from nous_spark.operators.triple_store import (
        build_triple_store,
        update_triple_store,
    )


    cust = _read(spark, sf, "customer")
    nat = _read(spark, sf, "nation")
    reg = _read(spark, sf, "region")
    sup = _read(spark, sf, "supplier")
    base_edges = cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
        F.col("c_name").alias("a"), F.col("n_name").alias("b")
    )
    base_triples = (
        _read(spark, sf, "orders")
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .select(
            F.col("c_name").alias("subj"),
            F.lit("placed").alias("pred"),
            F.concat(F.lit("O"), F.col("o_orderkey").cast("string"))
            .alias("obj"),
        )
    )
    delta_edges = (
        sup.join(nat, sup.s_nationkey == nat.n_nationkey)
        .select(F.col("s_name").alias("a"), F.col("n_name").alias("b"))
        .unionByName(
            nat.join(reg, nat.n_regionkey == reg.r_regionkey).select(
                F.col("n_name").alias("a"), F.col("r_name").alias("b")
            )
        )
    )
    delta_triples = sup.join(nat, sup.s_nationkey == nat.n_nationkey).select(
        F.col("s_name").alias("subj"),
        F.lit("located_in").alias("pred"),
        F.col("n_name").alias("obj"),
    )
    path = tempfile.mkdtemp(prefix="triplestore_") + "/store"
    build_triple_store(base_triples, base_edges, path, buckets=16,
                       salt_buckets=4)
    update_triple_store(spark, delta_triples, delta_edges, path,
                        update_id=1, salt_buckets=4)
    return path


def _q_triple_store(spark, sf):  # incremental materialized triple table
    """Incremental triple store read-back; see _ts_store for the
    build/update scenario and the oracle sketch."""
    from nous_spark.operators.triple_store import read_triple_store

    return read_triple_store(spark, _ts_store(spark, sf))


def _q_mis_update(spark, sf):  # incremental min-image support
    """Incremental MIS store (operators/mining_inc.py): pattern
    supports maintained across increments at delta cost. Base =
    has_brand edges + the even-suppkey half of supplies; increment 1
    folds in the odd half — its pair matches exist only through the
    cross-increment delta-join terms (new supplies edges against
    STORED has_brand edges); increment 2 adds a brand-new predicate.
    The read must equal a full recompute over the union graph —
    which is exactly what the oracle does."""
    import tempfile

    from nous_spark.operators.mining_inc import (
        build_mis_store,
        read_mis_support,
        update_mis_store,
    )

    li = _read(spark, sf, "lineitem")
    part = _read(spark, sf, "part")
    supp = _read(spark, sf, "supplier")
    supplies = li.select(
        F.concat(F.lit("S"), F.col("l_suppkey")).alias("subj"),
        F.lit("supplies").alias("pred"),
        F.concat(F.lit("P"), F.col("l_partkey")).alias("obj"),
        (F.col("l_suppkey") % 2).alias("half"),
    ).distinct()
    has_brand = part.select(
        F.concat(F.lit("P"), F.col("p_partkey")).alias("subj"),
        F.lit("has_brand").alias("pred"),
        F.col("p_brand").alias("obj"),
    )
    in_nation = supp.select(
        F.concat(F.lit("S"), F.col("s_suppkey")).alias("subj"),
        F.lit("in_nation").alias("pred"),
        F.concat(F.lit("N"), F.col("s_nationkey")).alias("obj"),
    )
    nat = _read(spark, sf, "nation")
    cust = _read(spark, sf, "customer")
    placed_by = _read(spark, sf, "orders").select(
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("subj"),
        F.lit("placed_by").alias("pred"),
        F.concat(F.lit("C"), F.col("o_custkey")).alias("obj"),
    )
    cust_nation = cust.select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("subj"),
        F.lit("cust_nation").alias("pred"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("obj"),
    )
    nation_region = nat.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("subj"),
        F.lit("nation_region").alias("pred"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("obj"),
    )
    base = supplies.filter(F.col("half") == 0).drop("half").unionByName(
        has_brand).unionByName(placed_by)
    path = tempfile.mkdtemp(prefix="misstore_") + "/store"
    build_mis_store(
        base, path,
        pair_patterns=[("supplies", "has_brand"),
                       ("supplies", "supplies", "shared_obj")],
        chain_patterns=[("placed_by", "cust_nation", "nation_region")],
        buckets=16)
    # hop 2 lands in update 1, hop 3 in update 2: the chain's matches
    # exist only through the DEEPEST telescoping term (E1 x E2 x D3)
    update_mis_store(spark, supplies.filter(F.col("half") == 1)
                     .drop("half").unionByName(cust_nation),
                     path, update_id=1)
    update_mis_store(spark, in_nation.unionByName(nation_region),
                     path, update_id=2)
    return read_mis_support(spark, path)


def _q_str_mis_ingest(spark, sf):  # §2.9 streaming pattern support
    """Triples streamed in two microbatches into a persisted MIS store
    (base = has_brand + even-suppkey supplies; batch 0 = odd supplies,
    whose pair matches need the STORED has_brand side; batch 1 = the
    in_nation predicate; auto-compaction fires at batch 1 with the
    in-flight segment excluded). Same full-recompute oracle as
    kg_mis_update — the streamed incremental fold must equal the
    from-scratch batch run."""
    import os
    import tempfile

    from nous_spark.operators.mining_inc import (
        build_mis_store,
        read_mis_support,
    )
    from nous_spark.streaming.structured import streaming_mis_ingest

    li = _read(spark, sf, "lineitem")
    part = _read(spark, sf, "part")
    supp = _read(spark, sf, "supplier")
    supplies = li.select(
        F.concat(F.lit("S"), F.col("l_suppkey")).alias("subj"),
        F.lit("supplies").alias("pred"),
        F.concat(F.lit("P"), F.col("l_partkey")).alias("obj"),
        (F.col("l_suppkey") % 2).alias("half"),
    ).distinct()
    base = supplies.filter(F.col("half") == 0).drop("half").unionByName(
        part.select(
            F.concat(F.lit("P"), F.col("p_partkey")).alias("subj"),
            F.lit("has_brand").alias("pred"),
            F.col("p_brand").alias("obj"),
        ))
    batches = [
        supplies.filter(F.col("half") == 1).drop("half"),
        supp.select(
            F.concat(F.lit("S"), F.col("s_suppkey")).alias("subj"),
            F.lit("in_nation").alias("pred"),
            F.concat(F.lit("N"), F.col("s_nationkey")).alias("obj"),
        ),
    ]
    src_dir = tempfile.mkdtemp(prefix="strmis_src_")
    for i, b in enumerate(batches):
        d = f"{src_dir}/b{i}"
        b.coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.rename(f"{d}/{f}", f"{src_dir}/batch{i}.parquet")
                os.utime(f"{src_dir}/batch{i}.parquet",
                         (1_000_000 + i, 1_000_000 + i))
    store = tempfile.mkdtemp(prefix="strmis_store_") + "/store"
    build_mis_store(
        base, store,
        pair_patterns=[("supplies", "has_brand"),
                       ("supplies", "supplies", "shared_obj")],
        buckets=16)
    q = streaming_mis_ingest(spark, src_dir, store,
                             compact_every_n_batches=1)
    q.awaitTermination(180)
    return read_mis_support(spark, store)


def _q_str_triple_ingest(spark, sf):  # §2.9 streaming materialization
    """Triples with inline same_as alias links streamed in two
    microbatches into the incremental triple store: batch 0 folds the
    supplier located_in triples + supplier<->nation links, batch 1 the
    nation<->region links that MERGE every region's components — the
    streamed store must read back identical to the batch
    build+update (same full-recompute oracle as kg_triple_store)."""
    import os
    import tempfile

    from nous_spark.operators.triple_store import (
        build_triple_store,
        read_triple_store,
    )
    from nous_spark.streaming.structured import streaming_triple_ingest

    cust = _read(spark, sf, "customer")
    nat = _read(spark, sf, "nation")
    reg = _read(spark, sf, "region")
    sup = _read(spark, sf, "supplier")
    base_edges = cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
        F.col("c_name").alias("a"), F.col("n_name").alias("b")
    )
    base_triples = (
        _read(spark, sf, "orders")
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .select(
            F.col("c_name").alias("subj"),
            F.lit("placed").alias("pred"),
            F.concat(F.lit("O"), F.col("o_orderkey").cast("string"))
            .alias("obj"),
        )
    )
    sup_nat = sup.join(nat, sup.s_nationkey == nat.n_nationkey)
    b0 = sup_nat.select(
        F.col("s_name").alias("subj"),
        F.lit("located_in").alias("pred"),
        F.col("n_name").alias("obj"),
    ).unionByName(sup_nat.select(
        F.col("s_name").alias("subj"),
        F.lit("same_as").alias("pred"),
        F.col("n_name").alias("obj"),
    ))
    b1 = nat.join(reg, nat.n_regionkey == reg.r_regionkey).select(
        F.col("n_name").alias("subj"),
        F.lit("same_as").alias("pred"),
        F.col("r_name").alias("obj"),
    )
    src_dir = tempfile.mkdtemp(prefix="strts_src_")
    for i, b in enumerate([b0, b1]):
        d = f"{src_dir}/b{i}"
        b.coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.rename(f"{d}/{f}", f"{src_dir}/batch{i}.parquet")
                os.utime(f"{src_dir}/batch{i}.parquet",
                         (1_000_000 + i, 1_000_000 + i))
    store = tempfile.mkdtemp(prefix="strts_store_") + "/store"
    build_triple_store(base_triples, base_edges, store, buckets=16,
                       salt_buckets=4)
    q = streaming_triple_ingest(spark, src_dir, store)
    q.awaitTermination(300)
    return read_triple_store(spark, store)


def _q_str_pattern_watch(spark, sf):  # standing query / IVM stream
    """Standing two-edge query (supplies ?x->?y, has_brand ?y->?z) over
    a streamed graph: per microbatch the gate emits exactly the NEW
    bag-semantics matches (delta rule against the pre-batch edge set).
    Batch 0 folds the odd-suppkey supplies half (its matches need the
    STORED has_brand side); batch 1 re-arrives a slice of already-known
    edges — under bag semantics a duplicate edge legitimately raises
    match multiplicity, and the oracle's EXCEPT ALL difference of
    consecutive full bag joins must reproduce both batches exactly."""
    import os
    import tempfile

    from nous_spark.operators.mining_inc import build_mis_store
    from nous_spark.streaming.structured import streaming_pattern_watch

    li = _read(spark, sf, "lineitem")
    part = _read(spark, sf, "part")
    sup = li.select(
        F.col("l_suppkey").alias("k"),
        F.concat(F.lit("S"), F.col("l_suppkey")).alias("subj"),
        F.lit("supplies").alias("pred"),
        F.concat(F.lit("P"), F.col("l_partkey")).alias("obj"),
    ).distinct()
    hb = part.select(
        F.concat(F.lit("P"), F.col("p_partkey")).alias("subj"),
        F.lit("has_brand").alias("pred"),
        F.col("p_brand").alias("obj"),
    )
    base = sup.filter(F.col("k") % 2 == 0).drop("k").unionByName(hb)
    batches = [
        sup.filter(F.col("k") % 2 == 1).drop("k"),
        sup.filter((F.col("k") % 2 == 0) & (F.col("k") % 10 == 0))
        .drop("k"),
    ]
    src_dir = tempfile.mkdtemp(prefix="strwatch_src_")
    for i, b in enumerate(batches):
        d = f"{src_dir}/b{i}"
        b.coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.rename(f"{d}/{f}", f"{src_dir}/batch{i}.parquet")
                os.utime(f"{src_dir}/batch{i}.parquet",
                         (1_000_000 + i, 1_000_000 + i))
    store = tempfile.mkdtemp(prefix="strwatch_store_") + "/store"
    matches = tempfile.mkdtemp(prefix="strwatch_m_") + "/matches"
    build_mis_store(base, store,
                    pair_patterns=[("supplies", "has_brand")], buckets=16)
    q = streaming_pattern_watch(spark, src_dir, store, matches,
                                ("supplies", "has_brand"))
    q.awaitTermination(300)
    return spark.read.parquet(matches).select(
        "x", "y", "z", F.col("batch_id").cast("int").alias("batch_id"))


def _q_store_query(spark, sf):  # BGP + FILTER over the triple store
    """The full query path of the kg-construct service: a SPARQL BGP
    with a FILTER answered straight from the incrementally maintained
    triple store (operators/bgp.py match_pattern_store). The store is
    the same build+increment as kg_triple_store — the nation<->region
    alias delta merges every region's customers, suppliers, and
    nations into ONE component, so the join variable ?hub (placed's
    canonical subject == located_in's canonical subject) binds ONLY
    because the increment was folded in: the query result is evidence
    the store canonicalized, not just stored. Literal predicates prune
    the (pred, seg)-partitioned scan at the file level (plan-asserted
    in tests); the FILTER on ?o pushes into the placed-pattern scan.
    Multiset semantics are exercised on purpose: every located_in
    triple of a region multiplies the region's placed bindings, and
    the oracle's UNION ALL join reproduces that exactly."""
    from nous_spark.operators.bgp import match_pattern_store

    # Aggregate pushdown through the BGP join (optimization guide §3.3:
    # never materialize an exploding join whose consumer is an
    # aggregate). The two patterns share only ?hub, so per hub the
    # binding multiset is the CROSS product of each side's matches:
    #   n_bindings = cnt_placed(hub) × cnt_located(hub)
    #   n_orders   = countDistinct(o) within placed        (per hub)
    #   n_sites    = countDistinct(n) within located_in    (per hub)
    # and the inner join on hub keeps exactly the hubs both sides bind —
    # provably the same rows as aggregating the joined bindings (the
    # post-merge hubs each multiply ~10^6 placed × ~10^3 located rows,
    # so the unpushed form materializes ~10^9 join rows for a 5-row
    # answer). Both patterns still read through match_pattern_store
    # (literal-pred scan pruning + the FILTER pushdown, plan-asserted in
    # tests), and the hub join still binds ONLY because the increment's
    # canonicalization folded in — the gate's evidence is unchanged.
    path = _ts_store(spark, sf)
    placed = match_pattern_store(
        spark, path, [("?hub", "placed", "?o")], filters=["o > 'O3'"])
    located = match_pattern_store(
        spark, path, [("?hub", "located_in", "?n")])
    pa = placed.groupBy("hub").agg(
        F.count(F.lit(1)).alias("__n_placed"),
        F.countDistinct("o").alias("n_orders"),
    )
    la = located.groupBy("hub").agg(
        F.count(F.lit(1)).alias("__n_located"),
        F.countDistinct("n").alias("n_sites"),
    )
    return pa.join(la, "hub").select(
        "hub",
        (F.col("__n_placed") * F.col("__n_located")).alias("n_bindings"),
        "n_orders",
        "n_sites",
    )


def _q_path_search(spark, sf):  # G3/G5, DuckDB oracle = 3-hop unrolled CTEs
    from nous_spark.operators.pathsearch import find_paths

    n = _read(spark, sf, "nation").select(
        F.col("n_nationkey").cast("long").alias("src"),
        (F.col("n_regionkey") + 100).cast("long").alias("dst"),
        F.lit("in_region").alias("pred"),
    )
    # pairs share a region (regionkey = nationkey mod 5 in the testdata), so
    # each has exactly one 2-hop path through the region hub
    pairs = spark.createDataFrame(
        [(1, 0, 5), (2, 2, 7)], ["pair_id", "src_id", "dst_id"]
    )
    res = find_paths(n, pairs, max_hops=3, bidirectional=True)
    return res.select(
        "pair_id",
        F.col("hops"),
        F.concat_ws("->", "preds").alias("pred_chain"),
        F.concat_ws("->", F.transform("path", lambda x: x.cast("string"))).alias(
            "path_str"
        ),
    )


def _q_dictionary_encode(spark, sf):  # J10
    from nous_spark.operators.graph import dictionary_encode

    n = _read(spark, sf, "nation").select("n_name", "n_regionkey")
    enc, _ = dictionary_encode(n, ["n_name"])
    return enc.select("n_name", "n_regionkey", "n_name_id")


def _q_edge_label_multiset(spark, sf):  # A11 (map column → sorted entries)
    from nous_spark.operators.relations_mining import edge_label_multiset

    e = _read(spark, sf, "lineitem").select(
        F.col("l_suppkey").cast("long").alias("src"),
        F.col("l_partkey").cast("long").alias("dst"),
        F.col("l_returnflag").alias("pred"),
    )
    m = edge_label_multiset(e)
    return m.select(
        F.col("id").alias("node_id"),
        F.explode("label_counts").alias("label", "cnt"),
    )


def _q_two_edge_signatures(spark, sf):  # A6 (2-edge chains)
    from nous_spark.operators.relations_mining import two_edge_signatures

    v = _read(spark, sf, "supplier").select(
        (F.col("s_suppkey") + 1000).cast("long").alias("id"),
        F.col("s_name").alias("label"),
    ).unionByName(_read(spark, sf, "nation").select(
        F.col("n_nationkey").cast("long").alias("id"),
        F.col("n_name").alias("label"),
    )).unionByName(_read(spark, sf, "region").select(
        (F.col("r_regionkey") + 100).cast("long").alias("id"),
        F.col("r_name").alias("label"),
    ))
    e = _read(spark, sf, "supplier").select(
        (F.col("s_suppkey") + 1000).cast("long").alias("src"),
        F.col("s_nationkey").cast("long").alias("dst"),
        F.lit("in_nation").alias("pred"),
    ).unionByName(_read(spark, sf, "nation").select(
        F.col("n_nationkey").cast("long").alias("src"),
        (F.col("n_regionkey") + 100).cast("long").alias("dst"),
        F.lit("in_region").alias("pred"),
    ))
    return two_edge_signatures(e, v).filter(F.col("shape") == "chain")


def _q_a3_window_support(spark, sf):  # A3/A5 cumulative pattern counts
    from nous_spark.operators.mining import cumulative_pattern_count

    per_batch = _read(spark, sf, "events").select(
        F.col("event_type").alias("pattern_key"),
        F.lit(1).alias("support"),
    )
    return cumulative_pattern_count(per_batch).withColumn(
        "support", F.col("support").cast("long")
    )


def _q_pagerank(spark, sf):  # G6 (rows-only: iterative)
    from nous_spark.operators.graph import pagerank

    e = _read(spark, sf, "nation").select(
        F.col("n_nationkey").cast("long").alias("src"),
        (F.col("n_regionkey") + 100).cast("long").alias("dst"),
    )
    return pagerank(e, max_iter=5).select(
        "id", F.round("rank", 6).alias("rank")
    )


def _q_mis_exact(spark, sf):  # A1 type-keyed variant (reference-exact)
    from nous_spark.operators.mining_exact import (
        first_types,
        min_image_support_exact,
        one_edge_instances_exact,
    )

    orders = _read(spark, sf, "orders")
    # synthetic typed graph: customers typed by mktsegment-ish hash bucket
    quads = orders.select(
        F.col("o_custkey").cast("long").alias("src"),
        (F.pmod(F.col("o_orderkey"), F.lit(3)) + 1).cast("long").alias("pred"),
        (F.col("o_orderkey") + 1_000_000).cast("long").alias("dst"),
        F.lit(0).cast("long").alias("batch_id"),
    ).unionByName(
        orders.select(
            F.col("o_custkey").cast("long").alias("src"),
            F.lit(0).cast("long").alias("pred"),
            F.pmod(F.col("o_custkey"), F.lit(5)).cast("long").alias("dst"),
            F.lit(0).cast("long").alias("batch_id"),
        )
    ).unionByName(
        orders.select(
            (F.col("o_orderkey") + 1_000_000).cast("long").alias("src"),
            F.lit(0).cast("long").alias("pred"),
            F.lit(99).cast("long").alias("dst"),
            F.lit(0).cast("long").alias("batch_id"),
        )
    )
    inst = one_edge_instances_exact(quads, first_types(quads, 0), 0)
    return min_image_support_exact(inst).select("pat_str", "support")


_FIXTURES = "/root/repo/fixtures/readers"


def _q_j2_candidate_pairs(spark, sf):  # J2 token-blocked candidates, dice verify
    from nous_spark.operators.linking import candidate_pairs

    part = _read(spark, sf, "part")
    mentions = part.filter(F.col("p_partkey") < 50).select(
        F.col("p_partkey").cast("string").alias("doc_id"),
        F.split("p_name", " ")[0].alias("mention"),
    )
    entities = part.filter(F.col("p_partkey") < 500).select(
        F.col("p_partkey").cast("long").alias("id"),
        F.col("p_name").alias("label"),
        F.array("p_name").alias("names"),
    )
    return candidate_pairs(
        mentions, entities, phrase_match_threshold=0.6, sim_mode="dice"
    )


def _q_j2_candidate_pairs_stringsim(spark, sf):  # J2 full StringSim verify (rows-only)
    from nous_spark.operators.linking import candidate_pairs

    part = _read(spark, sf, "part")
    mentions = part.filter(F.col("p_partkey") < 50).select(
        F.col("p_partkey").cast("string").alias("doc_id"),
        F.split("p_name", " ")[0].alias("mention"),
    )
    entities = part.filter(F.col("p_partkey") < 500).select(
        F.col("p_partkey").cast("long").alias("id"),
        F.col("p_name").alias("label"),
        F.array("p_name").alias("names"),
    )
    return candidate_pairs(mentions, entities, phrase_match_threshold=0.6)


def _q_j6_grow_patterns(spark, sf):  # J6 pattern-growth self-join
    from nous_spark.operators.mining import grow_patterns

    o = _read(spark, sf, "orders").filter(F.col("o_orderkey") % 4 == 0)
    inst = o.select(
        F.col("o_orderpriority").alias("pattern_key"),
        F.array(F.col("o_orderkey").cast("long")).alias("binding"),
        F.array(F.col("o_custkey").cast("long")).alias("endpoints"),
        F.lit(0).cast("int").alias("batch_id"),
        F.col("o_orderkey").cast("long").alias("inst_id"),
    )
    g = grow_patterns(inst, per_key_cap=None)
    return g.select(
        "pattern_key",
        F.concat_ws(",", F.transform("binding", lambda x: x.cast("string"))).alias(
            "binding_str"
        ),
        "batch_id",
        F.col("endpoints")[0].alias("endpoint"),
    )


def _q_f8_dice_sim(spark, sf):  # F8 StringSim set-similarity stage
    from nous_spark.functions.similarity import dice_sim_col, split_words_col

    p = _read(spark, sf, "part").select("p_partkey", "p_name")
    a = p.alias("a")
    b = p.alias("b")
    return a.join(b, F.col("a.p_partkey") + 1 == F.col("b.p_partkey")).select(
        F.col("a.p_partkey").alias("id_a"),
        F.col("b.p_partkey").alias("id_b"),
        F.round(
            dice_sim_col(
                split_words_col(F.col("a.p_name")), split_words_col(F.col("b.p_name"))
            ),
            6,
        ).alias("dice"),
    )


def _q_f8_string_sim(spark, sf):  # F8 full StringSim (rows-only: merge alignment)
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def sim(a: pd.Series, b: pd.Series) -> pd.Series:
        from nous_spark.functions.similarity import string_sim

        return pd.Series([string_sim(x, y) for x, y in zip(a, b)])

    p = _read(spark, sf, "part").select("p_partkey", "p_name")
    a = p.alias("a")
    b = p.alias("b")
    return a.join(b, F.col("a.p_partkey") + 1 == F.col("b.p_partkey")).select(
        F.col("a.p_partkey").alias("id_a"),
        F.col("b.p_partkey").alias("id_b"),
        F.round(sim(F.col("a.p_name"), F.col("b.p_name")), 6).alias("sim"),
    )


def _q_a7_popularity(spark, sf):  # A7 popularity score
    from nous_spark.operators.linking import popularity_scores

    n = _read(spark, sf, "nation")
    r = _read(spark, sf, "region")
    s = _read(spark, sf, "supplier")
    cands = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.lit("d0").alias("doc_id"),
        F.col("r_name").alias("mention"),
        F.col("n_nationkey").cast("long").alias("entity_id"),
    )
    nbr_counts = s.groupBy(
        F.col("s_nationkey").cast("long").alias("entity_id")
    ).agg(F.count("*").alias("n_nbrs"))
    return popularity_scores(cands, nbr_counts).select(
        "doc_id", "mention", "entity_id", "pop_score"
    )


def _q_a8_context_score(spark, sf):  # A8 context score (exact matcher)
    from nous_spark.operators.linking import context_scores

    n = _read(spark, sf, "nation")
    s = _read(spark, sf, "supplier")
    mentions = n.select(
        F.col("n_regionkey").cast("string").alias("doc_id"),
        F.col("n_name").alias("mention"),
    )
    cands = n.select(
        F.col("n_regionkey").cast("string").alias("doc_id"),
        F.col("n_name").alias("mention"),
        F.col("n_nationkey").cast("long").alias("entity_id"),
    )
    # neighborhood of nation e: the name of nation (e+5) mod 25 (same
    # region, hence in context) plus its suppliers' names (never mentions)
    peer = n.select(F.col("n_nationkey").alias("pk"), F.col("n_name").alias("pn"))
    nbrs = (
        n.join(peer, F.pmod(n.n_nationkey + 5, F.lit(25)) == peer.pk)
        .select(
            F.col("n_nationkey").cast("long").alias("entity_id"),
            F.col("pn").alias("nbr_label"),
        )
        .unionByName(
            s.select(
                F.col("s_nationkey").cast("long").alias("entity_id"),
                F.col("s_name").alias("nbr_label"),
            )
        )
    )
    return context_scores(cands, mentions, nbrs)


def _q_a9_semantic_relatedness(spark, sf):  # A9 Milne-Witten relatedness
    from nous_spark.operators.linking import semantic_relatedness_pairs

    li = _read(spark, sf, "lineitem")
    n_parts = _read(spark, sf, "part").count()
    nbrs = li.select(
        F.col("l_suppkey").cast("long").alias("entity_id"),
        F.col("l_partkey").cast("string").alias("nbr_label"),
    )
    # max_label_df=30 is BINDING at gate scale (sf0.01 label dfs span
    # 13..41, so the hub-label prune really fires — same discipline as
    # the g_adamic_adar gate's max_neighbor_degree)
    return semantic_relatedness_pairs(nbrs, n_parts, max_label_df=30)


def _q_w3_argmax_entity(spark, sf):  # W3 argmax candidate per mention
    pop = _q_a7_popularity(spark, sf)
    w = Window.partitionBy("doc_id", "mention").orderBy(
        F.col("pop_score").desc(), F.col("entity_id")
    )
    return (
        pop.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "mention", "entity_id", "pop_score")
    )


def _q_j3_neighborhoods(spark, sf):  # J3 one-hop neighbor labels
    from nous_spark.operators.linking import candidate_neighborhoods

    s = _read(spark, sf, "supplier")
    n = _read(spark, sf, "nation")
    edges = s.select(
        (F.col("s_suppkey") + 1000).cast("long").alias("src"),
        F.col("s_nationkey").cast("long").alias("dst"),
        F.lit("in_nation").alias("pred"),
    )
    vertices = s.select(
        (F.col("s_suppkey") + 1000).cast("long").alias("id"),
        F.col("s_name").alias("label"),
    ).unionByName(
        n.select(F.col("n_nationkey").cast("long").alias("id"), F.col("n_name").alias("label"))
    )
    cand = n.select(F.col("n_nationkey").cast("long").alias("entity_id"))
    nb = candidate_neighborhoods(edges, vertices, cand)
    return nb.select("entity_id", F.explode("nbr_labels").alias("nbr_label"))


def _q_j11_prefix_match(spark, sf):  # J11 best prefix match
    from nous_spark.operators.linking import best_prefix_match

    c = _read(spark, sf, "customer")
    targets = c.select(F.substring("c_name", 1, 17).alias("query"))
    labels = c.select(F.col("c_name").alias("label"))
    return best_prefix_match(targets, labels)


def _q_s8_triples_reader(spark, sf):  # S8 TSV triple scan over fixture
    from nous_spark.sources.readers import read_triples_tsv

    return read_triples_tsv(spark, f"{_FIXTURES}/triples.tsv")


def _q_s9_quad_reader(spark, sf):  # S9 temporal int-quad scan over fixture
    from nous_spark.sources.readers import read_temporal_quads

    return read_temporal_quads(
        spark, f"{_FIXTURES}/quads.tsv", batch_ms=3_600_000
    ).select("src", "pred", "dst", "ts", "batch_id")


def _q_s10_lg_reader(spark, sf):  # S10 LG-format scan over fixture
    from nous_spark.sources.readers import read_lg_graph

    v, e = read_lg_graph(spark, f"{_FIXTURES}/graph.lg")
    return v.select(
        F.lit("v").alias("kind"),
        F.col("id").alias("x"),
        F.lit(-1).cast("long").alias("y"),
        "label",
    ).unionByName(
        e.select(
            F.lit("e").alias("kind"),
            F.col("src").alias("x"),
            F.col("dst").alias("y"),
            F.col("pred").alias("label"),
        )
    )


def _q_s12_topic_reader(spark, sf):  # S12 topic-matrix scan over fixture
    from nous_spark.sources.readers import read_topic_matrix

    t = read_topic_matrix(spark, f"{_FIXTURES}/topics.tsv")
    return t.select("vid", F.posexplode("topic").alias("pos", "val")).withColumn(
        "val", F.round("val", 6)
    )


def _q_f12_las_reader(spark, sf):  # F12 LAS munging scan over fixture
    from nous_spark.sources.readers import read_triples_las

    return read_triples_las(spark, f"{_FIXTURES}/las.tsv")


def _q_ann_lsh_topk(spark, sf):  # ANN scale path (rows-only: hash family)
    from nous_spark.operators.ann import lsh_topk

    emb = _read(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, q, dim=dim, k=10, n_bits=8, n_tables=3)


def _q_embedding_near_dups(spark, sf):  # embedding near-dup (rows-only)
    from nous_spark.operators.dedup import embedding_near_duplicates

    emb = _read(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    # the synthetic embeddings are random (no natural near-dups, which
    # would make this gate vacuous) — plant 10 shifted copies whose cosine
    # to their source is ~0.987, which the operator must recover
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda v: v + 0.02
        ).alias("embedding"),
    )
    both = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(planted)
    return embedding_near_duplicates(both, dim=dim, threshold=0.9)


def _q_s5_autodetect(spark, sf):  # S5 plugin JSON format auto-detection
    from nous_spark.sources.readers import detect_and_parse_json

    return detect_and_parse_json(spark, f"{_FIXTURES}/corpus.jsonl")


def _q_g9_sample_v1(spark, sf):  # G9/V1 with q=1 (deterministic keep-set)
    from nous_spark.operators.sampling import (
        sample_and_hold_v1,
        tail_vertices,
        vertex_scores,
    )

    li = _read(spark, sf, "lineitem")
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("l_partkey") + 10000).cast("long").alias("dst"),
        F.lit("link").alias("pred"),
    )
    tails = tail_vertices(vertex_scores(edges, "degree"), range_pct=10)
    return sample_and_hold_v1(edges, tails, q=1.0, p=0.0, seed=1)


def _q_g7_pic(spark, sf):  # G7 power-iteration clustering (rows-only)
    from nous_spark.operators.clustering import power_iteration_clustering

    li = _read(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    # co-occurrence build in ONE shuffle instead of distinct+self-join+agg
    # (three): collect_set per order subsumes the distinct, and the <-pairs
    # are exploded JVM-side from the sorted set (per-order set is bounded
    # by lines-per-order ~7, so the explosion is O(1) per group at any SF)
    grouped = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("ss")
    )

    def _tail_pairs(x, i):  # (element, 0-based index) -> pairs with later elems
        return F.transform(
            F.slice(F.col("ss"), i + F.lit(2), F.size("ss")),
            lambda y: F.struct(x.alias("src"), y.alias("dst")),
        )

    sim = (
        grouped.select(F.explode(F.flatten(F.transform("ss", _tail_pairs))).alias("p"))
        .groupBy(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .agg(F.count("*").cast("double").alias("weight"))
    )
    out = power_iteration_clustering(sim, k=4, max_iter=6)
    return out.select("id", "cluster")


def _q_lp_bpr_metrics(spark, sf):  # BPR link prediction (VALUES oracle)
    from nous_spark.operators.link_prediction import bpr_evaluate, bpr_train

    o = _read(spark, sf, "orders").filter(F.col("o_custkey") < 60)
    inter = o.select(
        F.col("o_custkey").cast("long").alias("user"),
        F.pmod(F.col("o_orderkey"), F.lit(24)).cast("long").alias("item"),
    ).dropDuplicates()
    # per-user holdout (user+item mod 5): held-out items stay warm in
    # OTHER users' training rows, so the metrics measure ranking skill
    # rather than cold-item bias drift
    test = inter.filter(F.pmod(F.col("user") + F.col("item"), F.lit(5)) == 0)
    train = inter.subtract(test)
    P, Q, B = bpr_train(
        spark, train, n_items=24, epochs=2, steps_per_user=30, k=6,
        n_blocks=4, seed=3,
    )
    # sampled-negative path — the evaluation that survives a web-scale
    # item catalog (O(K) per test item); exact path is pytest-covered on
    # the reference example
    m = bpr_evaluate(P, Q, B, train, test, top_n=5,
                     sampled_negatives=12, seed=17)
    return spark.createDataFrame(
        [(round(float(m["HR"]), 9), round(float(m["ARHR"]), 9),
          round(float(m["AUC"]), 9))],
        ["hr", "arhr", "auc"],
    )


def _q_mm_image_stats(spark, sf):  # multimodal: real PNG decode (rows-only)
    import numpy as np

    from nous_spark.operators.multimodal import decode_image_stats, encode_png

    rows = []
    for i in range(16):
        img = np.random.default_rng(i).integers(
            0, 256, (8 + i % 5, 12 + i % 3, 3), dtype=np.uint8
        )
        rows.append((i, bytearray(encode_png(img))))
    media = spark.createDataFrame(rows, ["media_id", "payload"])
    return decode_image_stats(media).select(
        "media_id", "width", "height", "channels",
        F.round("mean_intensity", 6).alias("mean_intensity"), "pixel_sha",
    )


def _q_mm_audio_stats(spark, sf):  # multimodal: real WAV decode (rows-only)
    import numpy as np

    from nous_spark.operators.multimodal import decode_audio_stats, encode_wav

    rows = []
    for i in range(12):
        rng = np.random.default_rng(100 + i)
        x = rng.uniform(-0.7, 0.7, (500 + 50 * i, 1 + i % 2))
        rows.append((i, bytearray(encode_wav(x, 8000 * (1 + i % 2)))))
    media = spark.createDataFrame(rows, ["media_id", "payload"])
    return decode_audio_stats(media).select(
        "media_id", "sample_rate", "n_channels", "n_frames",
        F.round("duration_ms", 6).alias("duration_ms"),
        F.round("rms", 6).alias("rms"), F.round("peak", 6).alias("peak"),
    )


def _q_mm_video_stats(spark, sf):  # multimodal: real Y4M decode (VALUES oracle)
    import numpy as np

    from nous_spark.operators.multimodal import decode_video_stats, encode_y4m

    rows = []
    for i in range(10):
        rng = np.random.default_rng(200 + i)
        frames = rng.integers(
            0, 256, (3 + i % 4, 6 + i % 3, 8 + i % 5), dtype=np.uint8
        )
        rows.append((i, bytearray(encode_y4m(frames, fps_num=10))))
    media = spark.createDataFrame(rows, ["media_id", "payload"])
    return decode_video_stats(media).select(
        "media_id", "width", "height", "n_frames", "fps",
        F.round("duration_ms", 6).alias("duration_ms"),
        F.round("mean_luma", 6).alias("mean_luma"), "luma_sha",
    )


def _q_str_stateful_window(spark, sf):  # applyInPandasWithState window state
    import tempfile

    from nous_spark.streaming.structured import stateful_window_support

    e = _read(spark, sf, "events")
    per_batch = e.groupBy(
        F.col("event_type").alias("pattern_key"),
        F.unix_date(F.to_date("ts")).cast("long").alias("batch_id"),
    ).agg(F.count("*").alias("support"))
    src = tempfile.mkdtemp(prefix="wsup_src_")
    per_batch.write.mode("overwrite").parquet(src)

    name = "gate_wsup"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    stream = spark.readStream.schema(
        "pattern_key STRING, batch_id LONG, support LONG"
    ).parquet(src)
    q = (
        stateful_window_support(stream, window_batches=3)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name).select("pattern_key", "upto_batch", "window_support")


def _q_extract_triples(spark, sf):  # flagship, rows-only check
    from nous_spark.operators.extraction import extract_triples

    docs = _read(spark, sf, "documents")
    src = docs.select(
        F.lit("corpus").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("0" * 40).alias("commit"),
        "lang",
        F.col("text").alias("content"),
    )
    return extract_triples(src, code_mode=False).select(
        "subj", "pred", "obj", "conf", "src", "content_sha"
    )


def _q_repetition_scores(spark, sf):  # Gopher-style repetition signals
    from nous_spark.operators.textstats import repetition_scores

    return repetition_scores(_read(spark, sf, "documents")).select(
        "doc_id", "dup_line_frac", "dup_para_frac", "top_bigram_frac"
    )


def _q_token_entropy(spark, sf):  # unigram entropy (low-vocab template text)
    from nous_spark.operators.textstats import token_entropy

    return token_entropy(_read(spark, sf, "documents")).select(
        "doc_id", "token_entropy"
    )


def _q_contamination(spark, sf):  # train/eval 13-gram decontamination
    from nous_spark.operators.dedup import contamination_check

    docs = _read(spark, sf, "documents")
    # deterministic benchmark stand-in: every 37th doc IS an eval item, so
    # each eval doc must at minimum collide with itself (self-collision
    # count = its distinct 13-gram count) and with any true near-copy
    ev = docs.filter(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    return contamination_check(
        docs, ev, n=13, eval_id_col="eval_id"
    ).select("doc_id", "eval_id", F.col("n_collisions").cast("long").alias("n_collisions"))


def _q_near_dup_clusters(spark, sf):  # pairs -> transitive keep/drop
    from nous_spark.operators.dedup import near_duplicate_clusters

    d = _read(spark, sf, "documents").select(
        "doc_id",
        F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+")).alias("toks"),
    )
    a, b = d.alias("a"), d.alias("b")
    # chain pairs (doc, doc+1) with token-Jaccard >= 0.8: ~20% of
    # consecutive docs pass at sf0.01, so islands (maximal runs) are
    # nontrivial and CC must close chains transitively, not just stars
    pairs = (
        a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
        .filter(
            F.round(
                F.size(F.array_intersect("a.toks", "b.toks"))
                / F.size(F.array_union("a.toks", "b.toks")).cast("double"),
                6,
            )
            >= 0.8
        )
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
    )
    return near_duplicate_clusters(pairs).select("id", "keeper_id")


def _q_ann_ivf_query(spark, sf):  # IVF build-once index + query
    from nous_spark.operators.ann import ivf_build_index, ivf_query

    emb = _read(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    cents, assigned = ivf_build_index(emb, dim=dim, n_cells=8)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_query(cents, assigned, q, k=10, n_probe=3).select(
        "query_id", "vec_id", "cosine", "rank"
    )


def _q_ann_ivf_add(spark, sf):  # incremental IVF index update
    import tempfile

    from nous_spark.operators.ann import (
        ivf_add_vectors,
        ivf_build_index,
        ivf_load_index,
        ivf_query,
        ivf_save_index,
    )

    emb = _read(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    # index trained and saved on 3/4 of the corpus; the %4==0 delta is
    # folded in WITHOUT retraining (assigned to the existing centroids).
    # Queries 0..2 include vec_id 0 — an ADDED vector — whose rank-1
    # self-recovery proves the delta landed in the probed cells; the
    # VALUES oracle is NumPy-verified (cosines, rank order, recovery) in
    # gen_values_oracles.verify_ann_ivf_add.
    path = tempfile.mkdtemp(prefix="ivfadd_gate_")
    cents, assigned = ivf_build_index(
        emb.filter(F.col("vec_id") % 4 != 0), dim=dim, n_cells=8)
    ivf_save_index(cents, assigned, path)
    ivf_add_vectors(emb.filter(F.col("vec_id") % 4 == 0), path)
    cents2, assigned2 = ivf_load_index(spark, path)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_query(cents2, assigned2, q, k=10, n_probe=3).select(
        "query_id", "vec_id", "cosine", "rank")


def _q_str_ivf_ingest(spark, sf):  # §2.9 streaming embedding ingest
    import os
    import tempfile

    from nous_spark.operators.ann import (
        ivf_build_index,
        ivf_load_index,
        ivf_query,
        ivf_save_index,
    )
    from nous_spark.streaming.structured import streaming_ivf_ingest

    emb = _read(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    # the streaming twin of ann_ivf_add: the SAME %4==0 delta arrives as
    # two mtime-ordered microbatches and is folded into the saved index
    # by foreachBatch (seg-keyed dynamic overwrite — effectively-once
    # under replay, pinned in pytest). The drained index is therefore
    # identical to the batch fold's, so the final probe must return
    # exactly ann_ivf_add's rows (the VALUES oracle is the same NumPy-
    # verified table — gen_values_oracles.verify_str_ivf_ingest also
    # asserts cross-gate equality).
    path = tempfile.mkdtemp(prefix="strivf_idx_")
    cents, assigned = ivf_build_index(
        emb.filter(F.col("vec_id") % 4 != 0), dim=dim, n_cells=8)
    ivf_save_index(cents, assigned, path)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    src = tempfile.mkdtemp(prefix="strivf_src_")
    for i, b in enumerate([delta.filter(F.col("vec_id") % 8 == 0),
                           delta.filter(F.col("vec_id") % 8 == 4)]):
        dd = f"{src}/b{i}"
        b.coalesce(1).write.parquet(dd)
        for f in os.listdir(dd):
            if f.endswith(".parquet"):
                os.rename(f"{dd}/{f}", f"{src}/batch{i}.parquet")
                os.utime(f"{src}/batch{i}.parquet",
                         (1_000_000 + i, 1_000_000 + i))
    q = streaming_ivf_ingest(
        spark, src, path,
        schema="vec_id BIGINT, embedding ARRAY<FLOAT>",
        checkpoint_dir=tempfile.mkdtemp(prefix="strivf_ckpt_"))
    q.awaitTermination(120)
    cents2, assigned2 = ivf_load_index(spark, path)
    qdf = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_query(cents2, assigned2, qdf, k=10, n_probe=3).select(
        "query_id", "vec_id", "cosine", "rank")


def _q_str_exact_dedup(spark, sf):  # streaming exact dedup (§2.9)
    import tempfile

    from nous_spark.streaming.structured import streaming_exact_dedup

    docs = _read(spark, sf, "documents").filter(F.col("doc_id") < 300)
    with_ts = docs.select(
        "doc_id", "text",
        (F.lit("2026-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("ts"),
    )
    src = tempfile.mkdtemp(prefix="strdedup_src_")
    # two files -> two microbatches under maxFilesPerTrigger=1. The sf
    # documents have no exact-duplicate texts, so batch 2 carries planted
    # REPLAYS of batch-1 docs (new ids, same text, later ts): the dedup
    # state must drop them ACROSS the batch boundary, which is the whole
    # point of the streaming form
    batch1 = with_ts.filter(F.col("doc_id") < 150)
    replays = batch1.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text",
        (F.col("ts") + F.make_interval(secs=F.lit(200.0))).alias("ts"),
    )
    batch2 = with_ts.filter(F.col("doc_id") >= 150).unionByName(replays)
    for b in (batch1, batch2):
        (b.coalesce(1).sortWithinPartitions("doc_id")
         .write.mode("append").parquet(src))

    name = "gate_strdedup"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_exact_dedup(stream, watermark="10 minutes")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # WHICH duplicate survives depends on arrival order — the gate pins
    # the order-independent contract: exactly one row per distinct text
    return spark.table(name).select("text_hash", "text")


def _q_str_minhash_cands(spark, sf):  # streaming cross-batch LSH candidates
    import tempfile

    from nous_spark.streaming.structured import streaming_minhash_candidates

    docs = _read(spark, sf, "documents").filter(F.col("doc_id") < 250).select(
        "doc_id", "text", "lang"
    )
    src = tempfile.mkdtemp(prefix="strmh_src_")
    for lo, hi in ((0, 125), (125, 250)):
        (docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).sortWithinPartitions("doc_id")
         .write.mode("append").parquet(src))

    name = "gate_strmh"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING, lang STRING")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    # state-partition count is pinned per checkpoint at query start; for
    # a 250-doc gate, 32 partitions mean 32 Python workers + state
    # stores per micro-batch stage — pure overhead. 8 halves the wall.
    # (The emitted SET is partitioning-independent.)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            streaming_minhash_candidates(stream, threshold=0.8)
            .writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        # the bucket-TTL state means availableNow never self-terminates
        # (empty cleanup batches until the TTL, hours away) — stop as
        # soon as the input is drained: the round-5 "120 s" reading was
        # a full awaitTermination timeout, not tenancy
        from nous_spark.streaming.structured import await_input_drained
        await_input_drained(q, timeout=120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    # the emitted (band, a, b, est) SET is batching-independent (every
    # co-bucketed pair is compared exactly once per band as long as the
    # state cap is not hit — 250 docs < cap 256)
    return spark.table(name).select(
        "band", "a", "b", F.round("est_jaccard", 6).alias("est_jaccard")
    ).dropDuplicates()


def _q_str_watermark_counts(spark, sf):  # §2.9 watermarked window agg
    import tempfile

    from nous_spark.streaming.structured import windowed_event_counts

    # THREE microbatches: under availableNow the watermark computed from
    # batch N's data only becomes effective one committed trigger later
    # (measured on this Spark: a late row in batch 2 of 2 is NOT yet
    # filtered, a late row in batch 3 is) — so the late replay rides in
    # batch 3, where the watermark from the earlier batches must DROP
    # it. The oracle below excludes it and applies the closed-window
    # emission cutoff (window end <= max(ts) - watermark delay).
    e = _read(spark, sf, "events").select("event_type", "ts", "value")
    hi = e.agg(F.max("ts").alias("m")).collect()[0].m
    cut1 = F.lit(hi) - F.expr("INTERVAL 12 HOURS")
    cut2 = F.lit(hi) - F.expr("INTERVAL 6 HOURS")
    src = tempfile.mkdtemp(prefix="strwm_src_")
    batch1 = e.filter(F.col("ts") < cut1)
    late = batch1.orderBy("ts").limit(1).select(
        F.lit("late_replay").alias("event_type"), "ts", "value"
    )
    batch2 = e.filter((F.col("ts") >= cut1) & (F.col("ts") < cut2))
    batch3 = e.filter(F.col("ts") >= cut2).unionByName(late)
    for b in (batch1, batch2, batch3):
        (b.coalesce(1).write.mode("append").parquet(src))

    name = "gate_strwm"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    stream = (
        spark.readStream.schema("event_type STRING, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        windowed_event_counts(stream, window="1 hour", watermark="2 hours")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # append mode emits only windows CLOSED by the final watermark; the
    # oracle mirrors both the late-drop and the closed-window cutoff
    return spark.table(name).select(
        "window_start", "event_type", "cnt", "sum_value"
    )


def _q_str_session_stats(spark, sf):  # §2.9 stateful session windows
    import tempfile

    from nous_spark.streaming.structured import streaming_session_stats

    # two time-split microbatches: sessions STRADDLING the cut must merge
    # through the session-window state store; append mode then emits only
    # sessions closed by the final watermark (close = last event + gap,
    # cutoff mirrored in the oracle)
    e = _read(spark, sf, "events").select("user_id", "ts", "value")
    hi = e.agg(F.max("ts").alias("m")).collect()[0].m
    cut = F.lit(hi) - F.expr("INTERVAL 15 DAYS")
    src = tempfile.mkdtemp(prefix="strsess_src_")
    for b in (e.filter(F.col("ts") < cut), e.filter(F.col("ts") >= cut)):
        b.coalesce(1).write.mode("append").parquet(src)

    name = "gate_strsess"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    stream = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_session_stats(stream, gap="30 minutes", watermark="2 hours")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return spark.table(name).select(
        "user_id", "session_start", "session_end", "n_events",
        "duration_us", "sum_value"
    )


def _q_str_funnel_counts(spark, sf):  # §2.9 stateful streaming funnel
    import os
    import tempfile

    from nous_spark.streaming.structured import streaming_funnel_counts

    # two time-split microbatches fed IN EVENT-TIME ORDER (mtimes set
    # explicitly — the file source orders by modification time, and two
    # sub-second appends can collide): funnels STRADDLING the cut must
    # advance through the per-user state store across the batch boundary
    e = _read(spark, sf, "events").select("user_id", "ts", "event_type")
    hi = e.agg(F.max("ts").alias("m")).collect()[0].m
    cut = F.lit(hi) - F.expr("INTERVAL 15 DAYS")
    src = tempfile.mkdtemp(prefix="strfun_src_")
    for i, b in enumerate([e.filter(F.col("ts") < cut),
                           e.filter(F.col("ts") >= cut)]):
        d = f"{src}/b{i}"
        b.coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.rename(f"{d}/{f}", f"{src}/batch{i}.parquet")
                os.utime(f"{src}/batch{i}.parquet", (1_000_000 + i,
                                                     1_000_000 + i))
    name = "gate_strfunnel"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    stream = (
        spark.readStream
        .schema("user_id BIGINT, ts TIMESTAMP, event_type STRING")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_funnel_counts(
            stream, ["view", "click", "purchase"], max_gap_minutes=120)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return spark.table(name).select(
        "user_id", "step", "step_name", "step_ts_us"
    )


def _q_str_corpus_report(spark, sf):  # §2.9 complete-mode health report
    import tempfile

    from nous_spark.streaming.structured import streaming_corpus_report

    # two id-split microbatches; complete mode re-emits the full
    # per-source table each trigger, so the memory sink's final state is
    # the whole-corpus report (aggregation is order-insensitive — no
    # mtime choreography needed)
    d = _read(spark, sf, "documents").select("doc_id", "text", "source")
    src = tempfile.mkdtemp(prefix="strrep_src_")
    for b in (d.filter(F.col("doc_id") % 2 == 0),
              d.filter(F.col("doc_id") % 2 == 1)):
        b.coalesce(1).write.mode("append").parquet(src)
    name = "gate_strreport"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    stream = (
        spark.readStream
        .schema("doc_id BIGINT, text STRING, source STRING")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_corpus_report(stream, spread_partitions=16)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return spark.table(name).select(
        "source", "n_docs", "n_chars_total", "mean_tokens",
        "mean_top_bigram_frac", "pct_en"
    )


def _q_neighbor_labels(spark, sf):  # A12 one-hop neighbor label sets
    from nous_spark.operators.graph import neighbor_labels

    sup = _read(spark, sf, "supplier")
    nat = _read(spark, sf, "nation")
    edges = sup.select(
        F.col("s_suppkey").cast("long").alias("src"),
        (F.col("s_nationkey") + 100_000).cast("long").alias("dst"),
    )
    verts = sup.select(
        F.col("s_suppkey").cast("long").alias("id"),
        F.col("s_name").alias("label"),
    ).unionByName(nat.select(
        (F.col("n_nationkey") + 100_000).cast("long").alias("id"),
        F.col("n_name").alias("label"),
    ))
    out = neighbor_labels(edges, verts, both_directions=True)
    # collect_set order follows shuffle layout — sort, and emit as a
    # joined string (array-valued output cells break the pandas-side
    # row-sort in the entry-contract compare)
    return out.select(
        "id",
        F.concat_ws("|", F.sort_array("nbr_labels")).alias("nbr_labels"),
        "n_nbrs",
    )


def _q_subgraph(spark, sf):  # G2 vertex-induced subgraph
    from nous_spark.operators.graph import subgraph_by_vertices

    li = _read(spark, sf, "lineitem")
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("l_partkey") + 10_000).cast("long").alias("dst"),
    )
    sup = _read(spark, sf, "supplier").filter(F.col("s_acctbal") > 0).select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    part = _read(spark, sf, "part").filter(F.col("p_size") > 25).select(
        (F.col("p_partkey") + 10_000).cast("long").alias("id")
    )
    return subgraph_by_vertices(edges, sup.unionByName(part))


def _q_weight_bins(spark, sf):  # W6/A14 min-max normalize + bin
    from nous_spark.operators.graph import bin_weights

    li = _read(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.col("l_extendedprice").cast("double").alias("w"),
    )
    return bin_weights(li, "w", n_bins=10).select(
        "l_orderkey", "l_linenumber", "bin"
    )


def _q_js_divergence(spark, sf):  # F9 Jensen-Shannon over distributions
    from nous_spark.functions.similarity import js_divergence_col

    emb = _read(spark, sf, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    # make each embedding a probability distribution: |x| / sum|x|
    absd = emb.select(
        "vec_id", F.transform("e", lambda x: F.abs(x)).alias("a")
    )
    dist = absd.select(
        "vec_id",
        F.transform(
            "a",
            lambda x: x / F.aggregate("a", F.lit(0.0), lambda s, v: s + v),
        ).alias("p"),
    )
    a, b = dist.alias("a"), dist.alias("b")
    return (
        a.join(b, F.col("a.vec_id") + 1 == F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(
                js_divergence_col(F.col("a.p"), F.col("b.p")), 6
            ).alias("js"),
        )
    )


def _q_normalize_urls(spark, sf):  # URL canonicalization for crawl dedup
    from nous_spark.operators.curation import normalize_urls

    d = _read(spark, sf, "documents").select("doc_id")
    urls = d.withColumn(
        "url",
        F.when(
            F.col("doc_id") % 12 == 2,
            F.concat(F.lit("https://Wrong.Port:80/keep/"), F.col("doc_id")),
        ).when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("HTTPS://ExAmple.COM:443/Path"), F.col("doc_id"),
                     F.lit("?utm_source=x&id="), F.col("doc_id"),
                     F.lit("&utm_campaign=y#frag")),
        ).when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("http://Site.org:80/a/"), F.col("doc_id")),
        ).otherwise(
            F.concat(F.lit("ftp://Files.Net/data?x=1&fbclid=abc"),
                     F.col("doc_id")),
        ),
    )
    return normalize_urls(urls).select("doc_id", "url", "url_norm")


_SPAN_HEADER = ("this site uses cookies to improve your experience accept"
                " our terms to continue reading more")
_SPAN_FOOTER = ("all rights reserved contact us privacy policy terms of"
                " service follow us online")


def _q_substring_spans(spark, sf):  # exact repeated-span (boilerplate) dedup
    from nous_spark.operators.dedup import duplicate_spans

    docs = _read(spark, sf, "documents").select("doc_id", "text")
    # the synthetic corpus has no cross-doc boilerplate — plant a 15-token
    # header on every 4th doc and a 13-token footer on every 4th+1 doc
    # (deterministic, mirrored literally in the oracle)
    planted = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(_SPAN_HEADER + " "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.col("text"), F.lit(" " + _SPAN_FOOTER)),
        )
        .otherwise(F.col("text"))
    )
    # broadcast_vocab opted IN here: gate/bench scale has a known-small
    # duplicated vocabulary (the measured 15% win, BENCH_span_broadcast)
    return duplicate_spans(docs.withColumn("text", planted), k=13,
                           broadcast_vocab=True).select(
        "doc_id", "span_start", "span_end", "n_span_tokens", "span_text"
    )


def _q_chunk_documents(spark, sf):  # fixed-token-window chunking
    from nous_spark.operators.textstats import chunk_documents

    return chunk_documents(
        _read(spark, sf, "documents"), chunk_tokens=16, overlap=4
    ).select("doc_id", "chunk_id", "chunk", "n_chunk_tokens")


def _q_str_near_dup_drop(spark, sf):  # streaming near-dup keep/drop loop
    import tempfile

    from nous_spark.streaming.batch_driver import StreamingNearDupFilter

    docs = _read(spark, sf, "documents").filter(F.col("doc_id") < 160) \
        .select("doc_id", "text")
    nd = StreamingNearDupFilter(
        spark, tempfile.mkdtemp(prefix="strnd_state_"), threshold=0.7
    )
    b1 = docs.filter(F.col("doc_id") < 80)
    # batch 2 carries PLANTED cross-batch near-dups: replicas of batch-1
    # docs 0..25 with the trailing token dropped (new ids, ~identical
    # shingle sets) — the frontier state must drop them
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                    lambda x: F.length(x) > 0)
    rep = docs.filter(F.col("doc_id") < 26).select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(1)))
        ).alias("text"),
    )
    b2 = docs.filter(F.col("doc_id") >= 80).unionByName(rep)
    k1 = nd.process_batch(b1, 0).select(
        "doc_id", F.lit(0).cast("long").alias("batch"))
    k2 = nd.process_batch(b2, 1).select(
        "doc_id", F.lit(1).cast("long").alias("batch"))
    return k1.unionByName(k2)


def _q_chunk_documents_subword(spark, sf):  # model-token-budget chunking
    from nous_spark.operators.textstats import chunk_documents_subword

    return chunk_documents_subword(
        _read(spark, sf, "documents"), chunk_subwords=24
    ).select("doc_id", "chunk_id", "chunk", "n_chunk_words",
             "n_chunk_subwords")


def _q_model_quality(spark, sf):  # broadcast linear quality classifier
    from nous_spark.operators.textstats import model_quality_scores

    return model_quality_scores(
        _read(spark, sf, "documents").select("doc_id", "text")
    ).select("doc_id", "quality_prob")


def _q_str_contamination(spark, sf):  # stream-static decontamination
    import tempfile

    from nous_spark.streaming.structured import streaming_contamination_matches

    docs = _read(spark, sf, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    src = tempfile.mkdtemp(prefix="strcontam_src_")
    for lo, hi in ((0, 250), (250, 100000)):
        (docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).sortWithinPartitions("doc_id")
         .write.mode("append").parquet(src))

    name = "gate_strcontam"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_contamination_matches(stream, ev, n=13)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # aggregate the appended match rows to per-pair collision counts —
    # must equal the BATCH operator's output (stream-static joins are
    # stateless, so batching cannot change the match set)
    return (
        spark.table(name)
        .groupBy("doc_id", "eval_id")
        .agg(F.count_distinct("gram").cast("long").alias("n_collisions"))
    )


def _q_corpus_report(spark, sf):  # per-source corpus health report
    from nous_spark.operators.curation import corpus_report

    return corpus_report(_read(spark, sf, "documents")).select(
        "source", "n_docs", "n_chars_total", "mean_tokens",
        "p50_tokens", "p95_tokens", "mean_top_bigram_frac", "pct_en",
        "dup_rate"
    )


def _q_mask_pii(spark, sf):  # PII masking (emails/cards/SSN/IP/phones)
    from nous_spark.operators.curation import mask_pii

    docs = _read(spark, sf, "documents").select("doc_id", "text")
    # the synthetic corpus carries no PII — plant one of each kind on
    # every 5th doc (deterministic, mirrored literally in the oracle)
    planted = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"), F.lit(" contact: user"), F.col("doc_id"),
            F.lit("@example.com ip 10.0."), F.col("doc_id") % 250,
            F.lit(".7 card 4111-1111-1111-1111 ssn 123-45-6789"
                  " tel +1 (555) 123-4567"),
        ),
    ).otherwise(F.col("text"))
    return mask_pii(docs.withColumn("text", planted)).select(
        "doc_id", "masked", "n_pii"
    )


def _q_s3_web_crawl_reader(spark, sf):  # S3/S4 JSON corpus -> (url, line)
    from nous_spark.sources.readers import read_web_crawl_json

    return read_web_crawl_json(spark, f"{_FIXTURES}/corpus.jsonl").select(
        "url", "line"
    )


def _q_str_corpus_clean(spark, sf):  # curation funnel on a stream
    import tempfile

    from nous_spark.operators.curation import clean_corpus_stream

    docs = _read(spark, sf, "documents").filter(F.col("doc_id") < 300)
    with_ts = docs.select(
        "doc_id", "text",
        (F.lit("2026-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("ts"),
    )
    src = tempfile.mkdtemp(prefix="strclean_src_")
    # batch 2 replays 50 batch-1 docs — the watermarked dedup state must
    # drop them across the boundary, on top of the stateless filters
    batch1 = with_ts.filter(F.col("doc_id") < 150)
    replays = batch1.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text",
        (F.col("ts") + F.make_interval(secs=F.lit(200.0))).alias("ts"),
    )
    batch2 = with_ts.filter(F.col("doc_id") >= 150).unionByName(replays)
    for b in (batch1, batch2):
        (b.coalesce(1).sortWithinPartitions("doc_id")
         .write.mode("append").parquet(src))

    name = "gate_strclean"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        clean_corpus_stream(
            stream, langs=("en",), min_tokens=15,
            max_dup_line_frac=0.3, max_top_bigram_frac=0.12,
        )
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # survivor identity is arrival-order defined — the gate pins the
    # order-independent contract: the distinct (text_hash, text) set of
    # filter survivors
    return spark.table(name).select("text_hash", "text").dropDuplicates()


def _q_unigram_logprob(spark, sf):  # CCNet-style perplexity proxy
    from nous_spark.operators.textstats import unigram_logprob_scores

    return unigram_logprob_scores(_read(spark, sf, "documents")).select(
        "doc_id", "avg_logprob"
    )


def _q_ngram_pairs(spark, sf):  # exact n-gram Jaccard with prefix blocking
    from nous_spark.operators.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf, "documents").select("doc_id", "text")
    # the sf documents have no natural trigram near-dups (gate would be
    # vacuous) — plant 10 one-token-appended copies (jaccard G/(G+1)
    # ~0.97). A single added gram can displace at most one of the two
    # smallest block hashes, so each planted pair ALWAYS shares a block
    # and recovery is guaranteed, not probabilistic.
    planted = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zyxtoken")).alias("text"),
    )
    return ngram_jaccard_pairs(
        docs.unionByName(planted), n=3, threshold=0.5
    ).select("a", "b", "jaccard")


def _q_corpus_clean(spark, sf):  # end-to-end curation funnel, one plan
    from nous_spark.operators.curation import clean_corpus

    docs = _read(spark, sf, "documents")
    d = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+")).alias("toks"),
    )
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
        .filter(
            F.round(
                F.size(F.array_intersect("a.toks", "b.toks"))
                / F.size(F.array_union("a.toks", "b.toks")).cast("double"),
                6,
            )
            >= 0.8
        )
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
    )
    return clean_corpus(
        docs, langs=("en",), min_tokens=15, max_dup_line_frac=0.3,
        max_top_bigram_frac=0.12, near_dup_pairs=pairs,
    ).select("doc_id", "n_chars", "keep_reason")


def _q_split_dataset(spark, sf):  # deterministic train/val/test split
    from nous_spark.operators.datasets import split_dataset

    return split_dataset(
        _read(spark, sf, "documents").select("doc_id"),
        {"train": 0.9, "val": 0.05, "test": 0.05},
        salt="split-v1",
    )


def _q_pack_shards(spark, sf):  # token-budget shard packing per source
    from nous_spark.operators.datasets import pack_into_shards
    from nous_spark.operators.textstats import token_counts

    docs = token_counts(_read(spark, sf, "documents")).select(
        "doc_id", "source", "n_tokens"
    )
    return pack_into_shards(docs, budget_tokens=400).select(
        "doc_id", "source", "n_tokens", "token_offset", "shard_id"
    )


def _q_mixture_sample(spark, sf):  # source rebalancing toward 50/30/20
    from nous_spark.operators.datasets import mixture_sample

    docs = _read(spark, sf, "documents").select("doc_id", "source")
    return mixture_sample(
        docs,
        {"src0": 500_000, "src1": 300_000, "src2": 200_000},
        salt="mix-v1",
    )


def _q_index_dedup(spark, sf):  # incremental dedup vs a persisted index
    import tempfile

    from nous_spark.operators.dedup import (
        build_minhash_index,
        dedup_against_index,
    )

    d = _read(spark, sf, "documents").select("doc_id", "text")
    # corpus = docs outside the %3 residue, batch = the residue: the
    # incremental path must find exactly the cross pairs the batch
    # pipeline finds on the union (equivalence verified in
    # gen_values_oracles + pytest)
    path = tempfile.mkdtemp(prefix="mhidx_gate_")
    build_minhash_index(d.filter(F.col("doc_id") % 3 != 0), path)
    return dedup_against_index(
        d.filter(F.col("doc_id") % 3 == 0), path, threshold=0.7
    )


def _q_str_index_dedup(spark, sf):  # §2.9 streaming incremental dedup
    import os
    import tempfile

    from nous_spark.operators.dedup import build_minhash_index
    from nous_spark.streaming.structured import streaming_index_dedup

    d = _read(spark, sf, "documents").select("doc_id", "text")
    idx = tempfile.mkdtemp(prefix="stridx_idx_")
    build_minhash_index(d.filter(F.col("doc_id") % 3 == 1), idx)
    # two mtime-ordered microbatches of NEW docs. Batch 2 carries planted
    # replicas (drop-last-token, new ids) exercising every pair source:
    # +10M replicas of batch-1 docs — only catchable because batch 1 was
    # FOLDED into the index between triggers — and +20M replicas of its
    # own docs, the within-batch arm. Natural near-dups against the %3==1
    # corpus cover the plain index arm. The VALUES oracle is verified by
    # a pure-Python brute force over true string-shingle sets
    # (gen_values_oracles.verify_streaming_index_dedup).
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                    lambda x: F.length(x) > 0)
    drop_last = F.concat_ws(
        " ", F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(1))))
    b1 = d.filter(F.col("doc_id") % 3 == 0)
    rep_b1 = b1.orderBy("doc_id").limit(2).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        drop_last.alias("text"))
    b2n = d.filter(F.col("doc_id") % 3 == 2)
    rep_b2 = b2n.orderBy("doc_id").limit(2).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        drop_last.alias("text"))
    b2 = b2n.unionByName(rep_b1).unionByName(rep_b2)
    src = tempfile.mkdtemp(prefix="stridx_src_")
    for i, b in enumerate([b1, b2]):
        dd = f"{src}/b{i}"
        b.coalesce(1).write.parquet(dd)
        for f in os.listdir(dd):
            if f.endswith(".parquet"):
                os.rename(f"{dd}/{f}", f"{src}/batch{i}.parquet")
                os.utime(f"{src}/batch{i}.parquet",
                         (1_000_000 + i, 1_000_000 + i))
    out = tempfile.mkdtemp(prefix="stridx_out_")
    q = streaming_index_dedup(spark, src, idx, f"{out}/pairs")
    q.awaitTermination(120)
    return spark.read.parquet(f"{out}/pairs").select(
        "new_id", "index_id", "jaccard")


def _q_cross_source_dup(spark, sf):  # provenance overlap matrix
    from nous_spark.operators.dedup import cross_source_duplication

    d = _read(spark, sf, "documents").select("doc_id", "source", "text")
    # plant a mirror feed re-publishing every 10th doc (the synthetic
    # sources rarely share exact contents); mirrored in the oracle
    planted = d.unionByName(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.lit("mirror").alias("source"), "text",
        )
    )
    return cross_source_duplication(planted)


def _q_boilerplate_ngrams(spark, sf):  # repeated-span census
    from nous_spark.operators.dedup import boilerplate_ngrams

    return boilerplate_ngrams(
        _read(spark, sf, "documents").select("doc_id", "text"),
        k=13, min_docs=2, top=20,
    )


_TOKMIX_SHARES = {"src0": 500_000, "src1": 300_000, "src2": 200_000}
_TOKMIX_BUDGET = 4_000  # binds the feasibility cap at sf0.01, the
#                         requested budget at sf0.1 — both solver paths
#                         get driver coverage across the two scales


def _q_token_budget_plan(spark, sf):  # token-budget mixing plan
    from nous_spark.operators.datasets import token_budget_plan
    from nous_spark.operators.textstats import token_counts

    docs = token_counts(_read(spark, sf, "documents")).select(
        "doc_id", "source", "n_tokens"
    )
    return token_budget_plan(docs, _TOKMIX_SHARES, _TOKMIX_BUDGET).select(
        "source", "available_tokens", "target_share_ppm", "target_tokens",
        "accept_ppm", F.col("binding").cast("long").alias("binding"),
    )


def _q_sample_token_budget(spark, sf):  # apply the token-budget plan
    from nous_spark.operators.datasets import sample_token_budget
    from nous_spark.operators.textstats import token_counts

    docs = token_counts(_read(spark, sf, "documents")).select(
        "doc_id", "source", "n_tokens"
    )
    return sample_token_budget(
        docs, _TOKMIX_SHARES, _TOKMIX_BUDGET, salt="tokmix-v1"
    ).select("doc_id", "source", "n_tokens")


def _q_tfidf_keywords(spark, sf):  # per-doc top-3 TF-IDF keywords
    from nous_spark.operators.textstats import tfidf_keywords

    return tfidf_keywords(
        _read(spark, sf, "documents").select("doc_id", "text"), k=3
    )


def _cooccur_edges(spark, sf, mod):
    """Part co-occurrence graph: parts sharing an order are linked —
    the triangle-rich unipartite projection of the order/part bipartite
    table (the testdata has no native unipartite edge list)."""
    li = _read(spark, sf, "lineitem").filter(
        F.col("l_orderkey") % mod == 0
    ).select("l_orderkey", F.col("l_partkey").cast("long").alias("p"))
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.p") < F.col("b.p"))
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
    )


def _q_triangle_counts(spark, sf):  # per-vertex triangles, oriented join
    from nous_spark.operators.graph import triangle_counts

    return triangle_counts(_cooccur_edges(spark, sf, 4))


def _q_adamic_adar(spark, sf):  # common-neighbor link suggestion scores
    from nous_spark.operators.graph import adamic_adar_scores

    # the PRODUCTION configuration (VERDICT r6 #7): hub-capped
    # intermediates + per-vertex top-k — both BINDING at this scale
    # (max degree 30, so cap 12 drops real wedges; top 5 truncates) so
    # the oracle covers the capped path users run at 100 TB
    return adamic_adar_scores(
        _cooccur_edges(spark, sf, 20), max_neighbor_degree=12, top_k=5
    )


def _q_k_core(spark, sf):  # 6-core of the co-occurrence graph
    from nous_spark.operators.graph import k_core

    return k_core(_cooccur_edges(spark, sf, 20), k=6)


_PTS_PII_SUFFIX = (
    " contact: user{id}@example.com ip 10.0.{ip}.7 card"
    " 4111-1111-1111-1111 ssn 123-45-6789 tel +1 (555) 123-4567"
)


def _q_prepare_training_set(spark, sf):  # corpus -> shards, end to end
    from nous_spark.operators.datasets import prepare_training_set

    docs = _read(spark, sf, "documents")
    # plant PII on every 5th doc (same plant as the txt_mask_pii gate) so
    # the masking stage is binding, BEFORE the funnel so every stage sees
    # the same text; mirrored literally in the oracle
    planted = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"), F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(".7 card 4111-1111-1111-1111 ssn 123-45-6789"
                  " tel +1 (555) 123-4567"),
        ),
    ).otherwise(F.col("text"))
    docs = docs.withColumn("text", planted)
    # spread before the tokenize arms: the candidate-pair self-join
    # computes the token-array subtree once per side, and a single-file
    # doc scan would run both on one core (dedup._spread, no-op at
    # cluster file counts)
    from nous_spark.operators.dedup import _spread

    d = _spread(docs).select(
        "doc_id",
        F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+")).alias("toks"),
    )
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
        .filter(
            F.round(
                F.size(F.array_intersect("a.toks", "b.toks"))
                / F.size(F.array_union("a.toks", "b.toks")).cast("double"),
                6,
            )
            >= 0.8
        )
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
    )
    return prepare_training_set(
        docs, langs=("en",), min_tokens=15, max_dup_line_frac=0.3,
        max_top_bigram_frac=0.12, near_dup_pairs=pairs, budget_tokens=400,
    ).select("doc_id", "source", "split", "n_pii", "n_tokens",
             "token_offset", "shard_id")


def _q_funnel_counts(spark, sf):  # first-touch funnel over events
    from nous_spark.operators.sessions import funnel_counts

    e = _read(spark, sf, "events").select("user_id", "ts", "event_type")
    return funnel_counts(
        e, ["view", "click", "purchase"], max_gap_minutes=120
    )


def _q_collocations(spark, sf):  # PMI collocation mining
    from nous_spark.operators.textstats import collocations

    return collocations(
        _read(spark, sf, "documents").select("text"), min_count=5, k=40
    )


def _q_retention_cohorts(spark, sf):  # weekly retention triangle
    from nous_spark.operators.sessions import retention_cohorts

    # cohort_week as ISO string: pandas maps Spark DATE to datetime.date
    # but DuckDB DATE to Timestamp, which falsely mismatches in
    # string-compare harnesses
    return retention_cohorts(
        _read(spark, sf, "events").select("user_id", "ts")
    ).withColumn("cohort_week", F.col("cohort_week").cast("string"))


def _q_corpus_diff(spark, sf):  # snapshot diff for dataset versioning
    from nous_spark.operators.datasets import corpus_diff

    docs = _read(spark, sf, "documents").select("doc_id", "text")
    # synthesize snapshot v2 deterministically: drop every 7th doc,
    # append a token to every 5th, add 20 fresh ids (mirrored in SQL)
    changed = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.col("text"), F.lit(" v2-extra-token")),
    ).otherwise(F.col("text"))
    new = docs.filter(F.col("doc_id") % 7 != 0).withColumn("text", changed)
    fresh = spark.range(20).select(
        (F.col("id") + 900_000).alias("doc_id"),
        F.concat(F.lit("fresh doc "), F.col("id").cast("string")).alias("text"),
    )
    return corpus_diff(docs, new.unionByName(fresh))


def _q_label_propagation(spark, sf):  # LPA communities, capped sync loop
    from nous_spark.operators.graph import label_propagation

    return label_propagation(_cooccur_edges(spark, sf, 20), max_iter=10)


def _q_sessionize(spark, sf):  # gap-based event sessionization
    from nous_spark.operators.sessions import sessionize

    e = _read(spark, sf, "events").select("event_id", "user_id", "ts")
    return sessionize(e).select(
        "event_id", "user_id", "session_idx", "session_id"
    )


def _q_session_stats(spark, sf):  # per-session rollup
    from nous_spark.operators.sessions import session_stats

    e = _read(spark, sf, "events").select("event_id", "user_id", "ts", "value")
    return session_stats(e).select(
        "user_id", "session_idx", "session_id", "session_start",
        "session_end", "n_events", "duration_us", "sum_value"
    )


def _q_semantic_dedup(spark, sf):  # SemDeDup cluster-blocked dedup
    """Semantic dedup over the embeddings table with planted duplicate
    CHAINS: +0.02-shifted copies of vec_id<12 (cos ~0.987 to source)
    and +0.04-shifted copies of vec_id<6 (cos ~0.95 to source, ~0.988
    to the +0.02 copy). At threshold 0.97 the source–far-copy edge is
    ABSENT, so the three-member groups exist only through transitive
    closure — the policy the operator pins."""
    from nous_spark.operators.semdedup import semantic_dedup

    emb = _read(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])

    def shifted(max_id, offset, delta):
        return emb.filter(F.col("vec_id") < max_id).select(
            (F.col("vec_id") + offset).alias("vec_id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda v: v + delta,
            ).alias("embedding"),
        )

    both = (
        emb.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("embedding"))
        .unionByName(shifted(12, 1_000_000, 0.02))
        .unionByName(shifted(6, 2_000_000, 0.04))
    )
    return semantic_dedup(both, dim=dim, threshold=0.97, n_cells=8)


def _q_str_asof_enrich(spark, sf):  # §2.9 streaming temporal enrichment
    """Streaming twin of ev_asof_join: purchases enriched with the
    latest prior click per user across two event-time-split
    microbatches (single-version right state carried in the state
    store). Batches arrive in event-time order, so the result must
    equal the batch as-of join — the oracle is the SAME DuckDB ASOF
    LEFT JOIN as ev_asof_join's."""
    import os
    import tempfile

    from nous_spark.streaming.structured import streaming_asof_enrich

    e = _read(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type", "value")
    hi = e.agg(F.max("ts").alias("m")).collect()[0].m
    cut = F.lit(hi) - F.expr("INTERVAL 15 DAYS")
    src = tempfile.mkdtemp(prefix="strasof_src_")
    for i, b in enumerate([e.filter(F.col("ts") < cut),
                           e.filter(F.col("ts") >= cut)]):
        d = f"{src}/b{i}"
        b.coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.rename(f"{d}/{f}", f"{src}/batch{i}.parquet")
                os.utime(f"{src}/batch{i}.parquet", (1_000_000 + i,
                                                     1_000_000 + i))
    name = "gate_strasof"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    stream = (
        spark.readStream
        .schema("event_id BIGINT, user_id BIGINT, ts TIMESTAMP, "
                "event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    purchases = stream.where("event_type = 'purchase'").select(
        F.col("event_id").alias("pid"), "user_id", "ts")
    clicks = stream.where("event_type = 'click'").select(
        "user_id", "ts",
        F.col("event_id").alias("click_eid"),
        F.col("value").alias("click_value"))
    q = (
        streaming_asof_enrich(purchases, clicks, on="user_id")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return spark.table(name).select(
        "pid", "user_id",
        F.coalesce("click_eid", F.lit(-1)).alias("click_eid"),
        F.coalesce(F.round("click_value", 2), F.lit(-1.0)).alias("click_value"),
        F.coalesce(F.col("ts_us") - F.col("matched_ts_us"),
                   F.lit(-1)).alias("gap_us"),
    )


def _q_asof_join(spark, sf):  # per-user last-click attribution (as-of)
    """Every purchase joined to the user's most recent click at-or-before
    it (classic attribution). Union+window implementation — one shuffle
    on user_id, zero joins; oracle is DuckDB's native ASOF LEFT JOIN
    over the same tie-collapsed click stream."""
    from nous_spark.operators.joins import asof_join

    e = _read(spark, sf, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", "ts"
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.col("event_id").alias("click_eid"),
        F.col("value").alias("click_value"),
    )
    j = asof_join(purchases, clicks, on=["user_id"])
    # unmatched purchases keep -1 sentinels (the harness compares
    # null-free sorted tuples; same coalesce in the oracle)
    return j.select(
        "pid", "user_id",
        F.coalesce("click_eid", F.lit(-1)).alias("click_eid"),
        F.coalesce(F.round("click_value", 2), F.lit(-1.0)).alias("click_value"),
        F.coalesce(
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros("ts_r"),
            F.lit(-1),
        ).alias("gap_us"),
    )


def _q_range_join(spark, sf):  # events inside post-error windows
    """For each error event, the count/value-sum of ALL events (any
    user) in the closed 10-minute window starting at the error — a
    global (un-keyed) interval×point range join, bucketed so the plan
    is an equi-join, never a broadcast-nested-loop."""
    from nous_spark.operators.joins import range_join

    e = _read(spark, sf, "events")
    intervals = e.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("iid"),
        F.col("ts").alias("start"),
        F.timestamp_micros(
            F.unix_micros(F.col("ts").cast("timestamp")) + 600_000_000
        ).alias("end"),
    )
    points = e.select(F.col("event_id").alias("pid"), "ts", "value")
    j = range_join(intervals, points, bucket_seconds=600)
    return j.groupBy("iid").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _q_bgp_match(spark, sf):  # conjunctive triple-pattern query
    """SPARQL-style BGP over a triple table built from the TPC-H
    relations: which suppliers ?s ship a part ?p of Brand#13, and in
    which nation ?n do they sit? Three patterns, two join variables;
    the bound-predicate+object pattern seeds the join order."""
    from nous_spark.operators.bgp import match_pattern

    li = _read(spark, sf, "lineitem")
    part = _read(spark, sf, "part")
    supp = _read(spark, sf, "supplier")
    triples = (
        li.select(
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("subj"),
            F.lit("supplies").alias("pred"),
            F.concat(F.lit("P"), F.col("l_partkey")).alias("obj"),
        ).distinct()
        .unionByName(part.select(
            F.concat(F.lit("P"), F.col("p_partkey")).alias("subj"),
            F.lit("has_brand").alias("pred"),
            F.col("p_brand").alias("obj"),
        ))
        .unionByName(supp.select(
            F.concat(F.lit("S"), F.col("s_suppkey")).alias("subj"),
            F.lit("in_nation").alias("pred"),
            F.concat(F.lit("N"), F.col("s_nationkey")).alias("obj"),
        ))
    )
    m = match_pattern(triples, [
        ("?s", "supplies", "?p"),
        ("?p", "has_brand", "Brand#13"),
        ("?s", "in_nation", "?n"),
    ])
    return m.select("s", "p", "n")


def _bgp_triples(spark, sf):
    """Shared TPC-H-derived triple table for the BGP-family gates:
    supplies (multiset over lineitem), has_brand (total), has_type
    (PARTIAL — only parts with p_size < 25, so OPTIONAL has real
    misses)."""
    li = _read(spark, sf, "lineitem")
    part = _read(spark, sf, "part")
    return (
        li.select(
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("subj"),
            F.lit("supplies").alias("pred"),
            F.concat(F.lit("P"), F.col("l_partkey")).alias("obj"),
        ).distinct()
        .unionByName(part.select(
            F.concat(F.lit("P"), F.col("p_partkey")).alias("subj"),
            F.lit("has_brand").alias("pred"),
            F.col("p_brand").alias("obj"),
        ))
        .unionByName(part.filter(F.col("p_size") < 25).select(
            F.concat(F.lit("P"), F.col("p_partkey")).alias("subj"),
            F.lit("has_type").alias("pred"),
            F.col("p_type").alias("obj"),
        ))
    )


def _q_bgp_optional(spark, sf):  # SPARQL OPTIONAL (left-join group)
    """Brand#13 supply pairs with their part's type OPTIONALLY bound:
    has_type triples exist only for p_size < 25, so the optional group
    has genuine misses (NULL -> 'NONE' sentinel on both sides, the
    harness compares null-free tuples). Oracle is the equivalent
    JOIN + LEFT JOIN."""
    from nous_spark.operators.bgp import match_pattern

    m = match_pattern(
        _bgp_triples(spark, sf),
        [("?s", "supplies", "?p"), ("?p", "has_brand", "Brand#13")],
        optionals=[[("?p", "has_type", "?t")]],
    )
    return m.select(
        "s", "p", F.coalesce("t", F.lit("NONE")).alias("t"))


def _q_construct(spark, sf):  # SPARQL CONSTRUCT from BGP bindings
    """CONSTRUCT a derived graph from Brand#13 supply bindings: one
    sells_brand triple per (supplier, brand) and one typed triple per
    part with a has_type edge — the OPTIONAL variable is NULL where
    has_type is missing (p_size >= 25), and CONSTRUCT's NULL-skip
    drops exactly those instantiations. Graph-as-set semantics: the
    multiset of bindings collapses to distinct triples."""
    from nous_spark.operators.bgp import construct_triples, match_pattern

    b = match_pattern(
        _bgp_triples(spark, sf),
        [("?s", "supplies", "?p"), ("?p", "has_brand", "Brand#13")],
        optionals=[[("?p", "has_type", "?ty")]],
    )
    return construct_triples(b, [
        ("?s", "sells_brand", "Brand#13"),
        ("?p", "typed", "?ty"),
    ])


def _q_path_reach(spark, sf):  # bounded SPARQL property path next{1,3}
    """Reachability within 1..3 hops over a nation graph with chain
    (k -> k+1) and skip (k -> k+5) edges, hops = shortest in-bound
    length — min-hops is non-trivial (k -> k+10 resolves to two skips,
    not ten chain steps). Oracle: 3 unrolled exact-length BFS rounds."""
    from nous_spark.operators.bgp import match_path

    n = _read(spark, sf, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"))
    edges = (
        n.filter(F.col("k") + 1 <= 24).select(
            F.concat(F.lit("N"), F.col("k")).alias("subj"),
            F.lit("next").alias("pred"),
            F.concat(F.lit("N"), F.col("k") + 1).alias("obj"))
        .unionByName(n.filter(F.col("k") + 5 <= 24).select(
            F.concat(F.lit("N"), F.col("k")).alias("subj"),
            F.lit("next").alias("pred"),
            F.concat(F.lit("N"), F.col("k") + 5).alias("obj")))
    )
    return match_path(edges, "next", min_hops=1, max_hops=3)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ---- driver-verified top 50 (ORDER MATTERS: the driver
        # evaluates in order and verifies the first 50). Round-8
        # rotation (VERDICT r7 #3): the whole round-7 family
        # (index dedup, token-budget solver, cross-source matrix,
        # boilerplate census, streaming funnel/report) plus every
        # remaining never-driver-sampled r4-r6 holdout moves IN;
        # gates whose code or oracle changed THIS round
        # (a9 hub cap, dd_substring_spans broadcast opt-in, ds_*
        # decimal ppm, index seg layout) are pinned in. Everything
        # demoted has one or more green driver rows already and
        # stays oracled + swept by scripts/gate_check.py. ----
        # new this round (joins.py / bgp.py / semdedup.py / the
        # streaming as-of twin) — pinned into the 50:
        "ev_asof_join": _q_asof_join,
        "ev_range_join": _q_range_join,
        "kg_bgp_match": _q_bgp_match,
        "dd_semantic_dedup": _q_semantic_dedup,
        "str_asof_enrich": _q_str_asof_enrich,
        "g_cc_update": _q_cc_update,
        "str_cc_ingest": _q_str_cc_ingest,
        "kg_bgp_optional": _q_bgp_optional,
        "kg_path_reach": _q_path_reach,
        "kg_canonical_update": _q_canonical_update,
        "kg_triple_store": _q_triple_store,
        "a9_semantic_relatedness": _q_a9_semantic_relatedness,
        "dd_substring_spans": _q_substring_spans,
        "ds_mixture_sample": _q_mixture_sample,
        "ds_token_budget": _q_token_budget_plan,
        "ds_sample_token_budget": _q_sample_token_budget,
        "dd_index_dedup": _q_index_dedup,
        "str_index_dedup": _q_str_index_dedup,
        "ann_ivf_add": _q_ann_ivf_add,
        "dd_cross_source": _q_cross_source_dup,
        "dd_boilerplate_ngrams": _q_boilerplate_ngrams,
        "str_funnel_counts": _q_str_funnel_counts,
        "str_corpus_report": _q_str_corpus_report,
        "corpus_report": _q_corpus_report,
        "txt_chunks_subword": _q_chunk_documents_subword,
        "txt_tfidf_keywords": _q_tfidf_keywords,
        "txt_repetition_scores": _q_repetition_scores,
        "txt_token_entropy": _q_token_entropy,
        "str_minhash_cands": _q_str_minhash_cands,
        "str_corpus_clean": _q_str_corpus_clean,
        "str_contamination": _q_str_contamination,
        "txt_chunks": _q_chunk_documents,
        "url_normalize": _q_normalize_urls,
        "f9_js_divergence": _q_js_divergence,
        "a12_neighbor_labels": _q_neighbor_labels,
        "g2_subgraph": _q_subgraph,
        "w6_weight_bins": _q_weight_bins,
        "s3_web_crawl_reader": _q_s3_web_crawl_reader,
        "txt_subword_count": _q_subword_count,
        "str_windowed_agg": _q_windowed_agg,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "j2_candidate_pairs_stringsim": _q_j2_candidate_pairs_stringsim,
        "f8_string_sim": _q_f8_string_sim,
        "str_ivf_ingest": _q_str_ivf_ingest,
        "kg_store_query": _q_store_query,
        "kg_mis_update": _q_mis_update,
        "str_mis_ingest": _q_str_mis_ingest,
        "kg_construct": _q_construct,
        "str_triple_ingest": _q_str_triple_ingest,
        "str_pattern_watch": _q_str_pattern_watch,
        # ---- past the driver 50-key cap: all previously driver-
        # verified (CORRECTNESS_r01..r07), still run every round
        # by scripts/gate_check.py. corpus_clean / a1_mis_support /
        # g_k_core / g_adamic_adar / kg_extract_triples demoted this
        # round to make room for the five new gates — every demotion
        # has one or more green driver rows (kg_extract_triples has
        # seven) and is unchanged this round; all stay swept and
        # kg_extract_triples additionally stays exercised by entry()
        # and the golden extraction tests. f1_valid_lines /
        # f2_normalize_fields / txt_token_count / a13_type_cooccurrence
        # (4-5 green driver rounds each, all unchanged this round)
        # demoted for the incremental-canonicalization pair and the
        # OPTIONAL/property-path pair; s10_lg_reader / s12_topic_reader
        # (driver-green, unchanged) demoted for kg_canonical_update and
        # kg_triple_store. ----
        # f12_las_reader / j11_prefix_match / s5_autodetect /
        # w3_argmax_entity / a1_mis_exact (driver-green, unchanged)
        # demoted for kg_store_query (BGP+FILTER over the incremental
        # store), kg_mis_update (incremental pattern support),
        # str_mis_ingest (its streaming twin), kg_construct (SPARQL
        # CONSTRUCT), str_triple_ingest (streaming KG
        # materialization), and str_pattern_watch (standing-query IVM;
        # a6_edge_signatures demoted, driver-green r7). ----
        "f12_las_reader": _q_f12_las_reader,
        "j11_prefix_match": _q_j11_prefix_match,
        "s5_autodetect": _q_s5_autodetect,
        "w3_argmax_entity": _q_w3_argmax_entity,
        "a1_mis_exact": _q_mis_exact,
        "a6_edge_signatures": _q_edge_signatures,
        "s10_lg_reader": _q_s10_lg_reader,
        "s12_topic_reader": _q_s12_topic_reader,
        "f1_valid_lines": _q_valid_lines,
        "f2_normalize_fields": _q_normalize_fields,
        "txt_token_count": _q_token_count,
        "a13_type_cooccurrence": _q_type_cooccurrence,
        "kg_extract_triples": _q_extract_triples,
        "corpus_clean": _q_corpus_clean,
        "a1_mis_support": _q_mis_support,
        "g_k_core": _q_k_core,
        "g_adamic_adar": _q_adamic_adar,
        "ev_retention_cohorts": _q_retention_cohorts,
        "dd_embedding_pairs": _q_embedding_near_dups,
        "dd_contamination": _q_contamination,
        "dd_minhash_pairs": _q_minhash_pairs,
        "txt_quality_score": _q_quality_score,
        "dd_exact_dedup": _q_dedup_exact,
        "dd_simhash_pairs": _q_simhash_pairs,
        "dd_ngram_pairs": _q_ngram_pairs,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "txt_language_id": _q_language_id,
        "txt_fingerprint_stats": _q_fingerprint_stats,
        "g8_connected_components": _q_connected_components,
        "g3_path_search": _q_path_search,
        "j10_dictionary_encode": _q_dictionary_encode,
        "a6_two_edge_signatures": _q_two_edge_signatures,
        "g6_pagerank": _q_pagerank,
        "dd_near_dup_clusters": _q_near_dup_clusters,
        "j6_grow_patterns": _q_j6_grow_patterns,
        "a7_popularity": _q_a7_popularity,
        "a8_context_score": _q_a8_context_score,
        "ann_ivf_query": _q_ann_ivf_query,
        "j3_neighborhoods": _q_j3_neighborhoods,
        "str_exact_dedup": _q_str_exact_dedup,
        "txt_mask_pii": _q_mask_pii,
        "txt_unigram_logprob": _q_unigram_logprob,
        "str_watermark_counts": _q_str_watermark_counts,
        "str_stateful_window": _q_str_stateful_window,
        "g7_pic": _q_g7_pic,
        "lp_bpr_metrics": _q_lp_bpr_metrics,
        "ds_split": _q_split_dataset,
        "ds_pack_shards": _q_pack_shards,
        "ds_prepare_training_set": _q_prepare_training_set,
        "ds_corpus_diff": _q_corpus_diff,
        "g_triangle_counts": _q_triangle_counts,
        "g_label_propagation": _q_label_propagation,
        "ev_sessionize": _q_sessionize,
        "ev_session_stats": _q_session_stats,
        "ev_funnel_counts": _q_funnel_counts,
        "txt_collocations": _q_collocations,
        "txt_model_quality": _q_model_quality,
        "str_near_dup_drop": _q_str_near_dup_drop,
        "str_session_stats": _q_str_session_stats,
        "s7_lang_histogram": _q_lang_histogram,
        "n6_purge_longest": _q_purge_longest,
        "w2_topk_per_group": _q_topk_per_group,
        "a10_degree": _q_degree,
        "j1_agg_join": _q_agg_join,
        "j7_semi_join": _q_semi_join,
        "j9_anti_join": _q_anti_join,
        "f10_token_jaccard": _q_token_jaccard,
        "s8_triples_reader": _q_s8_triples_reader,
        "s9_quad_reader": _q_s9_quad_reader,
        "a3_window_support": _q_a3_window_support,
        "a11_edge_label_multiset": _q_edge_label_multiset,
        "g9_sample_v1": _q_g9_sample_v1,
        "f8_dice_sim": _q_f8_dice_sim,
        "j2_candidate_pairs": _q_j2_candidate_pairs,
        "mm_image_stats": _q_mm_image_stats,
        "mm_audio_stats": _q_mm_audio_stats,
        "mm_video_stats": _q_mm_video_stats,
    }


_CORPUS_FEAT_CTE = """
            WITH lt AS (SELECT doc_id,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks
              FROM documents),
            ls AS (SELECT doc_id,
              len(list_filter(ltoks, x -> list_contains(
                ['the','and','of','to','is','was','with'], x))) AS s_en,
              len(list_filter(ltoks, x -> list_contains(
                ['der','die','und','das','ist','mit','von'], x))) AS s_de,
              len(list_filter(ltoks, x -> list_contains(
                ['le','la','et','les','des','est','avec'], x))) AS s_fr,
              len(list_filter(ltoks, x -> list_contains(
                ['el','la','los','las','es','con','por'], x))) AS s_es
              FROM lt),
            lang AS (SELECT doc_id,
              CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
                   WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                   WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                   WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                   ELSE 'es' END AS lang_pred
              FROM ls),
            rt AS (SELECT doc_id,
                list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> len(x) > 0) AS toks
              FROM documents),
            g AS (SELECT doc_id,
                CASE WHEN len(toks) >= 2
                     THEN list_transform(range(len(toks) - 1),
                          i -> toks[i+1] || ' ' || toks[i+2])
                     ELSE []::VARCHAR[] END AS grams
              FROM rt),
            m AS (SELECT doc_id, max(c) AS mode_cnt FROM (
                SELECT doc_id, gram, count(*) AS c
                FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
                GROUP BY doc_id, gram)
              GROUP BY doc_id),
            feat AS (SELECT d.source, d.text, lang.lang_pred,
                CASE WHEN length(trim(d.text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(d.text), '\\s+'))
                END AS n_tokens,
                CASE WHEN len(g.grams) > 0
                     THEN round(m.mode_cnt / len(g.grams)::DOUBLE, 6)
                     ELSE 0.0 END AS top_bigram_frac
              FROM documents d
              JOIN lang USING (doc_id) JOIN g USING (doc_id)
              LEFT JOIN m USING (doc_id))
"""


def oracle_sql() -> dict[str, str]:
    return {
        "s7_lang_histogram": "SELECT lang, count(*) AS cnt FROM documents GROUP BY lang",
        "f1_valid_lines": """
            SELECT doc_id, text AS line FROM documents
            WHERE length(text) > 0 AND text NOT LIKE '#%'
              AND text NOT LIKE '@%' AND text NOT LIKE '3210#%'
        """,
        "f2_normalize_fields": """
            SELECT doc_id,
                   trim(regexp_replace(lower(regexp_replace(text, '[<>]', '', 'g')),
                        '\\s*\\.\\s*$', '')) AS norm
            FROM documents
        """,
        "n6_purge_longest": """
            SELECT user_id AS src, event_type AS subj, props AS obj
            FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id, event_type
                ORDER BY length(props) DESC, props DESC) = 1
        """,
        "w2_topk_per_group": """
            SELECT * FROM (
              SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                     row_number() OVER (PARTITION BY l_returnflag
                        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
              FROM lineitem) WHERE rk <= 10
        """,
        "a10_degree": """
            SELECT node_id, count(*)::BIGINT AS degree FROM (
              SELECT l_suppkey::BIGINT AS node_id FROM lineitem
              UNION ALL
              SELECT l_partkey::BIGINT AS node_id FROM lineitem)
            GROUP BY node_id
        """,
        "a1_mis_support": """
            SELECT pattern_key,
                   least(count(DISTINCT b0), count(DISTINCT b1))::BIGINT AS support
            FROM (SELECT l_returnflag || '|' || l_linestatus AS pattern_key,
                         l_suppkey::BIGINT AS b0, l_partkey::BIGINT AS b1
                  FROM lineitem)
            GROUP BY pattern_key
        """,
        "j1_agg_join": """
            SELECT c_custkey,
                   coalesce(n_orders, 0)::BIGINT AS n_orders,
                   coalesce(total_spend, 0.0) AS total_spend
            FROM customer LEFT JOIN (
              SELECT o_custkey, count(*) AS n_orders,
                     round(sum(o_totalprice), 2) AS total_spend
              FROM orders GROUP BY o_custkey) agg
            ON c_custkey = agg.o_custkey
        """,
        "j7_semi_join": """
            SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)
        """,
        "j9_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderkey % 7 = 0)
        """,
        "str_windowed_agg": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS cnt, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "txt_token_count": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE length(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT
                   AS n_tokens
            FROM documents
        """,
        "txt_subword_count": """
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]+'))::BIGINT
                   AS n_subword_tokens
            FROM documents
        """,
        "txt_quality_score": """
            SELECT doc_id,
                   length(text)::BIGINT AS n_chars_obs,
                   round(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         t -> list_contains(['the','a','an','of','in','on','and','or',
                                             'to','is','was','for','with','that','it'], t)))
                         / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1)::DOUBLE,
                         6) AS stopword_ratio,
                   round(length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE
                         / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 6)
                   AS mean_token_len
            FROM documents
        """,
        "dd_exact_dedup": """
            SELECT md5(text) AS text_hash, min(doc_id)::BIGINT AS keeper_id,
                   count(*)::BIGINT AS n_dups
            FROM documents GROUP BY md5(text)
        """,
        "a6_edge_signatures": """
            SELECT l_returnflag || '->' || l_linestatus AS sig, count(*) AS cnt
            FROM lineitem GROUP BY 1
        """,
        "a13_type_cooccurrence": """
            SELECT a.l_returnflag AS t1, b.l_returnflag AS t2, count(*) AS weight
            FROM (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem) a
            JOIN (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem) b
            USING (l_orderkey)
            WHERE a.l_returnflag < b.l_returnflag
            GROUP BY 1, 2
        """,
        "ann_cosine_topk": """
            SELECT query_id, vec_id, cosine, rank FROM (
              SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
                round(list_dot_product(b.embedding::DOUBLE[], a.embedding::DOUBLE[])
                  / greatest(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                           * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])),
                           1e-12), 6) AS cosine,
                row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY round(list_dot_product(b.embedding::DOUBLE[], a.embedding::DOUBLE[])
                      / greatest(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                               * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])),
                               1e-12), 6) DESC, b.vec_id) AS rank
              FROM embeddings a, embeddings b
              WHERE a.vec_id < 3)
            WHERE rank <= 10
        """,
        "txt_language_id": """
            WITH t AS (SELECT doc_id,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
              FROM documents),
            s AS (SELECT doc_id,
              len(list_filter(toks, x -> list_contains(
                ['the','and','of','to','is','was','with'], x))) AS s_en,
              len(list_filter(toks, x -> list_contains(
                ['der','die','und','das','ist','mit','von'], x))) AS s_de,
              len(list_filter(toks, x -> list_contains(
                ['le','la','et','les','des','est','avec'], x))) AS s_fr,
              len(list_filter(toks, x -> list_contains(
                ['el','la','los','las','es','con','por'], x))) AS s_es
              FROM t)
            SELECT doc_id,
              CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
                   WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                   WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                   WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                   ELSE 'es' END AS lang_pred
            FROM s
        """,
        "txt_fingerprint_stats": """
            SELECT count(*)::BIGINT AS n_docs,
                   count(DISTINCT array_to_string(
                     regexp_split_to_array(trim(lower(text)), '\\s+'), ' '))::BIGINT
                   AS n_unique
            FROM documents
        """,
        "f10_token_jaccard": """
            WITH t AS (SELECT doc_id,
                list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
              FROM documents)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(len(list_intersect(a.toks, b.toks))::DOUBLE
                         / (len(a.toks) + len(b.toks)
                            - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
            FROM t a JOIN t b ON a.doc_id + 1 = b.doc_id
        """,
        "j10_dictionary_encode": """
            SELECT n_name, n_regionkey,
                   (row_number() OVER (ORDER BY n_name)) - 1 AS n_name_id
            FROM nation
        """,
        "a11_edge_label_multiset": """
            SELECT l_suppkey::BIGINT AS node_id, l_returnflag AS label,
                   count(*)::BIGINT AS cnt
            FROM lineitem GROUP BY 1, 2
        """,
        "a6_two_edge_signatures": """
            SELECT 'chain' AS shape,
                   s.s_name || '>in_nation>' || n.n_name
                            || '>in_region>' || r.r_name AS sig,
                   count(*)::BIGINT AS cnt
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2
        """,
        "a3_window_support": """
            SELECT event_type AS pattern_key, count(*)::BIGINT AS support
            FROM events GROUP BY event_type
        """,
        "j2_candidate_pairs": """
            WITH e AS (SELECT p_partkey::BIGINT AS entity_id, p_name AS entity_label
                       FROM part WHERE p_partkey < 500),
            ew AS (SELECT entity_id, entity_label,
                          unnest(list_distinct(list_filter(
                            regexp_split_to_array(lower(entity_label), '[ _,$]'),
                            w -> len(w) > 0))) AS token
                   FROM e),
            tc AS (SELECT token FROM (SELECT token, count(*) AS c FROM ew GROUP BY token)
                   WHERE c <= 2000),
            ew2 AS (SELECT ew.* FROM ew JOIN tc USING (token)),
            m AS (SELECT p_partkey::VARCHAR AS doc_id, split_part(p_name, ' ', 1) AS mention
                  FROM part WHERE p_partkey < 50),
            mw AS (SELECT doc_id, mention,
                          unnest(list_distinct(list_filter(
                            regexp_split_to_array(lower(mention), '[ _,$]'),
                            w -> len(w) > 0))) AS token
                   FROM m),
            blocked AS (SELECT DISTINCT mw.doc_id, mw.mention, ew2.entity_id, ew2.entity_label
                        FROM mw JOIN ew2 USING (token))
            SELECT * FROM (
              SELECT doc_id, mention, entity_id, entity_label,
                round(2.0 * len(list_intersect(
                        list_distinct(list_filter(regexp_split_to_array(lower(mention), '[ _,$]'), w -> len(w) > 0)),
                        list_distinct(list_filter(regexp_split_to_array(lower(entity_label), '[ _,$]'), w -> len(w) > 0))))
                      / greatest(
                          len(list_distinct(list_filter(regexp_split_to_array(lower(mention), '[ _,$]'), w -> len(w) > 0)))
                        + len(list_distinct(list_filter(regexp_split_to_array(lower(entity_label), '[ _,$]'), w -> len(w) > 0))),
                          1)::DOUBLE, 6) AS name_sim
              FROM blocked)
            WHERE name_sim >= 0.6
        """,
        "j6_grow_patterns": """
            SELECT DISTINCT
                   a.o_orderpriority || '+' || b.o_orderpriority AS pattern_key,
                   a.o_orderkey::VARCHAR || ',' || b.o_orderkey::VARCHAR AS binding_str,
                   0 AS batch_id,
                   a.o_custkey::BIGINT AS endpoint
            FROM orders a JOIN orders b
              ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
            WHERE a.o_orderkey % 4 = 0 AND b.o_orderkey % 4 = 0
        """,
        "f8_dice_sim": """
            SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
                   round(2.0 * len(list_intersect(
                       list_distinct(list_filter(regexp_split_to_array(lower(a.p_name), '[ _,$]'), w -> len(w) > 0)),
                       list_distinct(list_filter(regexp_split_to_array(lower(b.p_name), '[ _,$]'), w -> len(w) > 0))))
                     / greatest(
                         len(list_distinct(list_filter(regexp_split_to_array(lower(a.p_name), '[ _,$]'), w -> len(w) > 0)))
                       + len(list_distinct(list_filter(regexp_split_to_array(lower(b.p_name), '[ _,$]'), w -> len(w) > 0))),
                         1)::DOUBLE, 6) AS dice
            FROM part a JOIN part b ON a.p_partkey + 1 = b.p_partkey
        """,
        "a7_popularity": """
            WITH nc AS (SELECT s_nationkey::BIGINT AS entity_id, count(*) AS n_nbrs
                        FROM supplier GROUP BY 1),
            c AS (SELECT 'd0' AS doc_id, r_name AS mention, n_nationkey::BIGINT AS entity_id
                  FROM nation JOIN region ON n_regionkey = r_regionkey),
            j AS (SELECT c.*, nc.n_nbrs FROM c JOIN nc USING (entity_id))
            SELECT doc_id, mention, entity_id,
                   round(n_nbrs / greatest(sum(n_nbrs) OVER (PARTITION BY doc_id, mention), 1)::DOUBLE, 6)
                   AS pop_score
            FROM j
        """,
        "a8_context_score": """
            WITH m AS (SELECT n_regionkey::VARCHAR AS doc_id, n_name AS mention FROM nation),
            cand AS (SELECT n_regionkey::VARCHAR AS doc_id, n_name AS mention,
                            n_nationkey::BIGINT AS entity_id FROM nation),
            nb AS (SELECT n1.n_nationkey::BIGINT AS entity_id, n2.n_name AS nbr_label
                   FROM nation n1 JOIN nation n2 ON (n1.n_nationkey + 5) % 25 = n2.n_nationkey
                   UNION ALL
                   SELECT s_nationkey::BIGINT, s_name FROM supplier),
            ctx AS (SELECT a.doc_id, a.mention, lower(b.mention) AS ctx_mention
                    FROM m a JOIN m b USING (doc_id) WHERE a.mention != b.mention),
            nctx AS (SELECT doc_id, mention, count(DISTINCT ctx_mention) AS n_ctx
                     FROM ctx GROUP BY 1, 2),
            nbl AS (SELECT DISTINCT entity_id, lower(nbr_label) AS nl FROM nb),
            nn AS (SELECT entity_id, count(*) AS n_nbrs FROM nbl GROUP BY 1),
            mt AS (SELECT c.doc_id, c.mention, c.entity_id,
                          count(DISTINCT x.ctx_mention) AS common
                   FROM cand c
                   JOIN ctx x ON c.doc_id = x.doc_id AND c.mention = x.mention
                   JOIN nbl ON nbl.entity_id = c.entity_id AND nbl.nl = x.ctx_mention
                   GROUP BY 1, 2, 3)
            SELECT c.doc_id, c.mention, c.entity_id,
                   round(2.0 * coalesce(mt.common, 0)
                         / greatest(coalesce(nctx.n_ctx, 0) * coalesce(nn.n_nbrs, 0), 1)::DOUBLE,
                         6) AS ctx_score
            FROM cand c
            LEFT JOIN mt ON c.doc_id = mt.doc_id AND c.mention = mt.mention
                        AND c.entity_id = mt.entity_id
            LEFT JOIN nctx ON c.doc_id = nctx.doc_id AND c.mention = nctx.mention
            LEFT JOIN nn ON c.entity_id = nn.entity_id
        """,
        "a9_semantic_relatedness": """
            WITH nb0 AS (SELECT DISTINCT l_suppkey::BIGINT AS entity_id,
                                         l_partkey::VARCHAR AS nbr_label FROM lineitem),
            keep AS (SELECT nbr_label FROM nb0 GROUP BY 1 HAVING count(*) <= 30),
            nb AS (SELECT entity_id, nbr_label FROM nb0 JOIN keep USING (nbr_label)),
            sz AS (SELECT entity_id, count(*) AS sz FROM nb GROUP BY 1),
            cm AS (SELECT x.entity_id AS e1, y.entity_id AS e2, count(*) AS common
                   FROM nb x JOIN nb y
                     ON x.nbr_label = y.nbr_label AND x.entity_id < y.entity_id
                   GROUP BY 1, 2),
            j AS (SELECT cm.*, s1.sz AS sz1, s2.sz AS sz2
                  FROM cm JOIN sz s1 ON cm.e1 = s1.entity_id
                          JOIN sz s2 ON cm.e2 = s2.entity_id)
            SELECT e1, e2, relatedness FROM (
              SELECT e1, e2,
                round(1.0 - (ln(greatest(sz1, sz2)::DOUBLE) - ln(common::DOUBLE))
                      / (ln(greatest((SELECT count(*) FROM part), 2)::DOUBLE)
                         - ln(greatest(least(sz1, sz2), 1)::DOUBLE)), 6) AS relatedness,
                (ln(greatest((SELECT count(*) FROM part), 2)::DOUBLE)
                 - ln(greatest(least(sz1, sz2), 1)::DOUBLE)) AS denom
              FROM j)
            WHERE denom > 0 AND relatedness > 0
        """,
        "w3_argmax_entity": """
            WITH nc AS (SELECT s_nationkey::BIGINT AS entity_id, count(*) AS n_nbrs
                        FROM supplier GROUP BY 1),
            c AS (SELECT 'd0' AS doc_id, r_name AS mention, n_nationkey::BIGINT AS entity_id
                  FROM nation JOIN region ON n_regionkey = r_regionkey),
            j AS (SELECT c.*, nc.n_nbrs FROM c JOIN nc USING (entity_id)),
            p AS (SELECT doc_id, mention, entity_id,
                         round(n_nbrs / greatest(sum(n_nbrs) OVER (PARTITION BY doc_id, mention), 1)::DOUBLE, 6)
                         AS pop_score
                  FROM j)
            SELECT doc_id, mention, entity_id, pop_score FROM p
            QUALIFY row_number() OVER (PARTITION BY doc_id, mention
                                       ORDER BY pop_score DESC, entity_id) = 1
        """,
        "j3_neighborhoods": """
            SELECT DISTINCT n_nationkey::BIGINT AS entity_id, s_name AS nbr_label
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
        """,
        "j11_prefix_match": """
            SELECT q.query, min(c.c_name) AS best_match
            FROM (SELECT DISTINCT substr(c_name, 1, 17) AS query FROM customer) q
            JOIN customer c ON starts_with(c.c_name, q.query)
            GROUP BY q.query
        """,
        "s8_triples_reader": """
            WITH raw AS (SELECT unnest(string_split(content, chr(10))) AS line
                         FROM read_text('/root/repo/fixtures/readers/triples.tsv')),
            valid AS (SELECT line FROM raw
                      WHERE length(line) > 0 AND NOT starts_with(line, '#')
                        AND NOT starts_with(line, '@')),
            p AS (SELECT string_split(line, chr(9)) AS parts FROM valid)
            SELECT * FROM (
              SELECT trim(lower(regexp_replace(parts[1], '[<>]', '', 'g'))) AS subj,
                     trim(lower(regexp_replace(parts[2], '[<>]', '', 'g'))) AS pred,
                     trim(regexp_replace(lower(regexp_replace(parts[3], '[<>]', '', 'g')),
                          '\\s*\\.\\s*$', '')) AS obj
              FROM p)
            WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL
              AND length(subj) > 0 AND length(obj) > 0
        """,
        "s9_quad_reader": """
            WITH raw AS (SELECT unnest(string_split(content, chr(10))) AS line
                         FROM read_text('/root/repo/fixtures/readers/quads.tsv')),
            p AS (SELECT string_split(line, chr(9)) AS parts FROM raw WHERE length(line) > 0),
            c AS (SELECT try_cast(parts[1] AS BIGINT) AS src,
                         try_cast(parts[2] AS BIGINT) AS pred,
                         try_cast(parts[3] AS BIGINT) AS dst,
                         try_cast(regexp_replace(parts[4],
                             '(\\d{4})/(\\d{2})/\\s', '\\1/\\2/01 ') AS TIMESTAMP) AS ts
                  FROM p)
            SELECT src, pred, dst, ts,
                   floor(epoch_ms(ts) / 3600000)::BIGINT AS batch_id
            FROM c
            WHERE src IS NOT NULL AND pred IS NOT NULL AND dst IS NOT NULL
              AND ts IS NOT NULL
        """,
        "s10_lg_reader": """
            WITH raw AS (SELECT unnest(string_split(content, chr(10))) AS line
                         FROM read_text('/root/repo/fixtures/readers/graph.lg'))
            SELECT 'v' AS kind,
                   string_split(line, ' ')[2]::BIGINT AS x,
                   (-1)::BIGINT AS y,
                   string_split(line, ' ')[3] AS label
            FROM raw WHERE starts_with(line, 'v ')
            UNION ALL
            SELECT 'e',
                   string_split(line, ' ')[2]::BIGINT,
                   string_split(line, ' ')[3]::BIGINT,
                   string_split(line, ' ')[4]
            FROM raw WHERE starts_with(line, 'e ')
        """,
        "s12_topic_reader": """
            WITH raw AS (SELECT unnest(string_split(content, chr(10))) AS line
                         FROM read_text('/root/repo/fixtures/readers/topics.tsv')),
            t AS (SELECT string_split(line, chr(9)) AS parts FROM raw WHERE length(line) > 0),
            x AS (SELECT try_cast(parts[1] AS BIGINT) AS vid,
                         list_transform(string_split(parts[2], ','), s -> s::DOUBLE) AS topic
                  FROM t)
            SELECT vid, unnest(range(len(topic))) AS pos, round(unnest(topic), 6) AS val
            FROM x WHERE vid IS NOT NULL
        """,
        "g3_path_search": """
            WITH e AS (
              SELECT n_nationkey::BIGINT AS f, (n_regionkey + 100)::BIGINT AS t,
                     'in_region' AS pred FROM nation
              UNION ALL
              SELECT (n_regionkey + 100)::BIGINT, n_nationkey::BIGINT, '~in_region'
              FROM nation),
            pairs(pair_id, src_id, dst_id) AS (
              VALUES (1, 0::BIGINT, 5::BIGINT), (2, 2::BIGINT, 7::BIGINT)),
            h1 AS (SELECT p.pair_id, p.dst_id, e.t AS last,
                          [p.src_id, e.t] AS path, [e.pred] AS preds
                   FROM pairs p JOIN e ON e.f = p.src_id),
            d1 AS (SELECT pair_id, 1 AS hops, preds, path FROM h1 WHERE last = dst_id),
            f1 AS (SELECT * FROM h1 WHERE last != dst_id),
            h2 AS (SELECT f1.pair_id, f1.dst_id, e.t AS last,
                          list_append(f1.path, e.t) AS path,
                          list_append(f1.preds, e.pred) AS preds
                   FROM f1 JOIN e ON e.f = f1.last
                   WHERE NOT list_contains(f1.path, e.t)),
            d2 AS (SELECT pair_id, 2 AS hops, preds, path FROM h2 WHERE last = dst_id),
            f2 AS (SELECT * FROM h2 WHERE last != dst_id),
            h3 AS (SELECT f2.pair_id, f2.dst_id, e.t AS last,
                          list_append(f2.path, e.t) AS path,
                          list_append(f2.preds, e.pred) AS preds
                   FROM f2 JOIN e ON e.f = f2.last
                   WHERE NOT list_contains(f2.path, e.t)),
            d3 AS (SELECT pair_id, 3 AS hops, preds, path FROM h3 WHERE last = dst_id)
            SELECT pair_id, hops,
                   array_to_string(preds, '->') AS pred_chain,
                   array_to_string(list_transform(path, x -> x::VARCHAR), '->') AS path_str
            FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
        """,
        "kg_construct": """
            WITH sp AS (SELECT DISTINCT 'S' || l_suppkey AS s,
                                        'P' || l_partkey AS p
                        FROM lineitem),
            br AS (SELECT 'P' || p_partkey AS p FROM part
                   WHERE p_brand = 'Brand#13'),
            ty AS (SELECT 'P' || p_partkey AS p, p_type AS t FROM part
                   WHERE p_size < 25),
            b AS (SELECT sp.s AS s, sp.p AS p, ty.t AS ty
                  FROM sp JOIN br ON sp.p = br.p
                  LEFT JOIN ty ON sp.p = ty.p)
            SELECT DISTINCT subj, pred, obj FROM (
              SELECT s AS subj, 'sells_brand' AS pred,
                     'Brand#13' AS obj FROM b
              UNION ALL
              SELECT p, 'typed', ty FROM b WHERE ty IS NOT NULL)
        """,
        "kg_bgp_optional": """
            WITH sp AS (SELECT DISTINCT 'S' || l_suppkey AS s,
                                        'P' || l_partkey AS p
                        FROM lineitem),
            b AS (SELECT 'P' || p_partkey AS p FROM part
                  WHERE p_brand = 'Brand#13'),
            ty AS (SELECT 'P' || p_partkey AS p, p_type AS t FROM part
                   WHERE p_size < 25)
            SELECT sp.s AS s, sp.p AS p,
                   coalesce(ty.t, 'NONE') AS t
            FROM sp JOIN b ON sp.p = b.p
            LEFT JOIN ty ON sp.p = ty.p
        """,
        "kg_path_reach": """
            -- exact-length BFS unrolled 3 rounds, then shortest
            -- in-bound length per pair (matches match_path's p{1,3})
            WITH n AS (SELECT n_nationkey::BIGINT AS k FROM nation),
            e AS (SELECT 'N' || k AS a, 'N' || (k + 1) AS b FROM n
                  WHERE k + 1 <= 24
                  UNION ALL
                  SELECT 'N' || k, 'N' || (k + 5) FROM n
                  WHERE k + 5 <= 24),
            r1 AS (SELECT DISTINCT a, b, 1 AS hops FROM e),
            r2 AS (SELECT DISTINCT r1.a, e.b, 2 AS hops
                   FROM r1 JOIN e ON e.a = r1.b),
            r3 AS (SELECT DISTINCT r2.a, e.b, 3 AS hops
                   FROM r2 JOIN e ON e.a = r2.b),
            allr AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
                     UNION ALL SELECT * FROM r3)
            SELECT a AS src, b AS dst, min(hops) AS hops
            FROM allr GROUP BY a, b
        """,
        "kg_canonical_update": """
            -- full recompute of the canonical mapping over base UNION
            -- delta alias edges: string-keyed min-propagation CC (the
            -- component root is bookkeeping only), then the rep rule
            -- (longest label, ties lexicographic) as a window argmax.
            -- Max distance from a component's min label (always some
            -- Customer#... name) is 4 (cust -> nation -> region ->
            -- nation' -> cust'/supp'); c5 adds a round of margin.
            WITH e AS (
              SELECT c.c_name AS a, n.n_name AS b
              FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
              UNION ALL
              SELECT s.s_name, n.n_name
              FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
              UNION ALL
              SELECT n.n_name, r.r_name
              FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey),
            sym AS (SELECT DISTINCT a, b FROM (
                   SELECT a, b FROM e
                   UNION ALL
                   SELECT b AS a, a AS b FROM e)
                 WHERE a != b),
            v AS (SELECT DISTINCT a AS id FROM sym),
            c0 AS (SELECT id, id AS component FROM v),
            c1 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c0
                   UNION ALL
                   SELECT sym.a AS id, c0.component FROM sym JOIN c0 ON c0.id = sym.b)
                 GROUP BY id),
            c2 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c1
                   UNION ALL
                   SELECT sym.a AS id, c1.component FROM sym JOIN c1 ON c1.id = sym.b)
                 GROUP BY id),
            c3 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c2
                   UNION ALL
                   SELECT sym.a AS id, c2.component FROM sym JOIN c2 ON c2.id = sym.b)
                 GROUP BY id),
            c4 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c3
                   UNION ALL
                   SELECT sym.a AS id, c3.component FROM sym JOIN c3 ON c3.id = sym.b)
                 GROUP BY id),
            c5 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c4
                   UNION ALL
                   SELECT sym.a AS id, c4.component FROM sym JOIN c4 ON c4.id = sym.b)
                 GROUP BY id),
            rep AS (SELECT component, id AS canonical_label,
                     row_number() OVER (PARTITION BY component
                       ORDER BY length(id) DESC, id ASC) AS rn
                   FROM c5)
            SELECT l.id AS label, r.canonical_label
            FROM c5 l JOIN rep r ON l.component = r.component AND r.rn = 1
        """,
        "str_mis_ingest": """
            -- full recompute of every maintained pattern's min-image
            -- support over the union graph (base + both increments)
            WITH sup AS (SELECT DISTINCT 'S' || l_suppkey::VARCHAR AS s,
                                'P' || l_partkey::VARCHAR AS o
                         FROM lineitem),
            hb AS (SELECT 'P' || p_partkey::VARCHAR AS s, p_brand AS o
                   FROM part),
            inn AS (SELECT 'S' || s_suppkey::VARCHAR AS s,
                           'N' || s_nationkey::VARCHAR AS o
                    FROM supplier),
            pair AS (SELECT sup.s AS x, sup.o AS y, hb.o AS z
                     FROM sup JOIN hb ON sup.o = hb.s)
            SELECT 'e:supplies' AS pattern_key,
                   least(count(DISTINCT s), count(DISTINCT o))::BIGINT
                     AS support FROM sup
            UNION ALL
            SELECT 'e:has_brand',
                   least(count(DISTINCT s), count(DISTINCT o))::BIGINT
            FROM hb
            UNION ALL
            SELECT 'e:in_nation',
                   least(count(DISTINCT s), count(DISTINCT o))::BIGINT
            FROM inn
            UNION ALL
            SELECT 'p:supplies|has_brand',
                   least(count(DISTINCT x), count(DISTINCT y),
                         count(DISTINCT z))::BIGINT
            FROM pair
            UNION ALL
            SELECT 'v:supplies|supplies',
                   least(count(DISTINCT a.s), count(DISTINCT a.o),
                         count(DISTINCT b.s))::BIGINT
            FROM sup a JOIN sup b ON a.o = b.o
        """,
        "str_pattern_watch": """
            -- exact bag-semantics IVM: per batch, new matches = the
            -- full multiset join through that batch EXCEPT ALL the
            -- join through the previous state
            WITH sup AS (SELECT DISTINCT l_suppkey AS k,
                                'S' || l_suppkey::VARCHAR AS s,
                                'P' || l_partkey::VARCHAR AS o
                         FROM lineitem),
            hb AS (SELECT 'P' || p_partkey::VARCHAR AS s, p_brand AS o
                   FROM part),
            e0 AS (SELECT s, o FROM sup WHERE k % 2 = 0),
            d1 AS (SELECT s, o FROM sup WHERE k % 2 = 1),
            d2 AS (SELECT s, o FROM sup
                   WHERE k % 2 = 0 AND k % 10 = 0),
            m0 AS (SELECT e.s AS x, e.o AS y, hb.o AS z
                   FROM e0 e JOIN hb ON e.o = hb.s),
            u1 AS (SELECT * FROM e0 UNION ALL SELECT * FROM d1),
            m1 AS (SELECT e.s AS x, e.o AS y, hb.o AS z
                   FROM u1 e JOIN hb ON e.o = hb.s),
            u2 AS (SELECT * FROM u1 UNION ALL SELECT * FROM d2),
            m2 AS (SELECT e.s AS x, e.o AS y, hb.o AS z
                   FROM u2 e JOIN hb ON e.o = hb.s)
            SELECT x, y, z, 0::INT AS batch_id FROM
              (SELECT * FROM m1 EXCEPT ALL SELECT * FROM m0)
            UNION ALL
            SELECT x, y, z, 1::INT FROM
              (SELECT * FROM m2 EXCEPT ALL SELECT * FROM m1)
        """,
        "kg_mis_update": """
            -- full recompute of every maintained pattern's min-image
            -- support over the union graph (base + both increments)
            WITH sup AS (SELECT DISTINCT 'S' || l_suppkey::VARCHAR AS s,
                                'P' || l_partkey::VARCHAR AS o
                         FROM lineitem),
            hb AS (SELECT 'P' || p_partkey::VARCHAR AS s, p_brand AS o
                   FROM part),
            inn AS (SELECT 'S' || s_suppkey::VARCHAR AS s,
                           'N' || s_nationkey::VARCHAR AS o
                    FROM supplier),
            pb AS (SELECT 'O' || o_orderkey::VARCHAR AS s,
                          'C' || o_custkey::VARCHAR AS o FROM orders),
            cn AS (SELECT 'C' || c_custkey::VARCHAR AS s,
                          'N' || c_nationkey::VARCHAR AS o
                   FROM customer),
            nr AS (SELECT 'N' || n_nationkey::VARCHAR AS s,
                          'R' || n_regionkey::VARCHAR AS o FROM nation),
            c3 AS (SELECT pb.s AS x, pb.o AS y, cn.o AS z, nr.o AS w
                   FROM pb JOIN cn ON pb.o = cn.s
                   JOIN nr ON cn.o = nr.s),
            pair AS (SELECT sup.s AS x, sup.o AS y, hb.o AS z
                     FROM sup JOIN hb ON sup.o = hb.s)
            SELECT 'e:supplies' AS pattern_key,
                   least(count(DISTINCT s), count(DISTINCT o))::BIGINT
                     AS support FROM sup
            UNION ALL
            SELECT 'e:has_brand',
                   least(count(DISTINCT s), count(DISTINCT o))::BIGINT
            FROM hb
            UNION ALL
            SELECT 'e:in_nation',
                   least(count(DISTINCT s), count(DISTINCT o))::BIGINT
            FROM inn
            UNION ALL
            SELECT 'p:supplies|has_brand',
                   least(count(DISTINCT x), count(DISTINCT y),
                         count(DISTINCT z))::BIGINT
            FROM pair
            UNION ALL
            SELECT 'v:supplies|supplies',
                   least(count(DISTINCT a.s), count(DISTINCT a.o),
                         count(DISTINCT b.s))::BIGINT
            FROM sup a JOIN sup b ON a.o = b.o
            UNION ALL
            SELECT 'e:placed_by',
                   least(count(DISTINCT s), count(DISTINCT o))::BIGINT
            FROM pb
            UNION ALL
            SELECT 'e:cust_nation',
                   least(count(DISTINCT s), count(DISTINCT o))::BIGINT
            FROM cn
            UNION ALL
            SELECT 'e:nation_region',
                   least(count(DISTINCT s), count(DISTINCT o))::BIGINT
            FROM nr
            UNION ALL
            SELECT 'c3:placed_by|cust_nation|nation_region',
                   least(count(DISTINCT x), count(DISTINCT y),
                         count(DISTINCT z), count(DISTINCT w))::BIGINT
            FROM c3
        """,
        "kg_store_query": """
            -- same full-recompute canonicalization as kg_triple_store,
            -- then the BGP: ?hub placed ?o (FILTER o > 'O3') JOIN
            -- ?hub located_in ?n, grouped per hub. UNION ALL keeps the
            -- multiset the pattern matcher preserves.
            WITH e AS (
              SELECT c.c_name AS a, n.n_name AS b
              FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
              UNION ALL
              SELECT s.s_name, n.n_name
              FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
              UNION ALL
              SELECT n.n_name, r.r_name
              FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey),
            sym AS (SELECT DISTINCT a, b FROM (
                   SELECT a, b FROM e
                   UNION ALL
                   SELECT b AS a, a AS b FROM e)
                 WHERE a != b),
            v AS (SELECT DISTINCT a AS id FROM sym),
            c0 AS (SELECT id, id AS component FROM v),
            c1 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c0
                   UNION ALL
                   SELECT sym.a AS id, c0.component FROM sym JOIN c0 ON c0.id = sym.b)
                 GROUP BY id),
            c2 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c1
                   UNION ALL
                   SELECT sym.a AS id, c1.component FROM sym JOIN c1 ON c1.id = sym.b)
                 GROUP BY id),
            c3 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c2
                   UNION ALL
                   SELECT sym.a AS id, c2.component FROM sym JOIN c2 ON c2.id = sym.b)
                 GROUP BY id),
            c4 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c3
                   UNION ALL
                   SELECT sym.a AS id, c3.component FROM sym JOIN c3 ON c3.id = sym.b)
                 GROUP BY id),
            c5 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c4
                   UNION ALL
                   SELECT sym.a AS id, c4.component FROM sym JOIN c4 ON c4.id = sym.b)
                 GROUP BY id),
            rep AS (SELECT component, id AS canonical_label,
                     row_number() OVER (PARTITION BY component
                       ORDER BY length(id) DESC, id ASC) AS rn
                   FROM c5),
            mp AS (SELECT l.id AS label, r.canonical_label
                  FROM c5 l JOIN rep r
                    ON l.component = r.component AND r.rn = 1),
            t AS (
              SELECT c.c_name AS subj, 'placed' AS pred,
                     'O' || o.o_orderkey AS obj
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              UNION ALL
              SELECT s.s_name, 'located_in', n.n_name
              FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey),
            rt AS (
              SELECT coalesce(ms.canonical_label, t.subj) AS subj,
                     t.pred,
                     coalesce(mo.canonical_label, t.obj) AS obj
              FROM t
              LEFT JOIN mp ms ON t.subj = ms.label
              LEFT JOIN mp mo ON t.obj = mo.label)
            SELECT p.subj AS hub,
                   count(*)::BIGINT AS n_bindings,
                   count(DISTINCT p.obj)::BIGINT AS n_orders,
                   count(DISTINCT l.obj)::BIGINT AS n_sites
            FROM rt p
            JOIN rt l ON l.pred = 'located_in' AND l.subj = p.subj
            WHERE p.pred = 'placed' AND p.obj > 'O3'
            GROUP BY p.subj
        """,
        "str_triple_ingest": """
            -- full recompute: canonical mapping over base UNION delta
            -- alias edges (same string CC + rep argmax as
            -- kg_canonical_update), applied to the union triple set
            -- with left-join rewrites — the incrementally maintained
            -- store (segments + rep-patch log) must read back
            -- identically.
            WITH e AS (
              SELECT c.c_name AS a, n.n_name AS b
              FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
              UNION ALL
              SELECT s.s_name, n.n_name
              FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
              UNION ALL
              SELECT n.n_name, r.r_name
              FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey),
            sym AS (SELECT DISTINCT a, b FROM (
                   SELECT a, b FROM e
                   UNION ALL
                   SELECT b AS a, a AS b FROM e)
                 WHERE a != b),
            v AS (SELECT DISTINCT a AS id FROM sym),
            c0 AS (SELECT id, id AS component FROM v),
            c1 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c0
                   UNION ALL
                   SELECT sym.a AS id, c0.component FROM sym JOIN c0 ON c0.id = sym.b)
                 GROUP BY id),
            c2 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c1
                   UNION ALL
                   SELECT sym.a AS id, c1.component FROM sym JOIN c1 ON c1.id = sym.b)
                 GROUP BY id),
            c3 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c2
                   UNION ALL
                   SELECT sym.a AS id, c2.component FROM sym JOIN c2 ON c2.id = sym.b)
                 GROUP BY id),
            c4 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c3
                   UNION ALL
                   SELECT sym.a AS id, c3.component FROM sym JOIN c3 ON c3.id = sym.b)
                 GROUP BY id),
            c5 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c4
                   UNION ALL
                   SELECT sym.a AS id, c4.component FROM sym JOIN c4 ON c4.id = sym.b)
                 GROUP BY id),
            rep AS (SELECT component, id AS canonical_label,
                     row_number() OVER (PARTITION BY component
                       ORDER BY length(id) DESC, id ASC) AS rn
                   FROM c5),
            mp AS (SELECT l.id AS label, r.canonical_label
                  FROM c5 l JOIN rep r
                    ON l.component = r.component AND r.rn = 1),
            t AS (
              SELECT c.c_name AS subj, 'placed' AS pred,
                     'O' || o.o_orderkey AS obj
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              UNION ALL
              SELECT s.s_name, 'located_in', n.n_name
              FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey)
            SELECT coalesce(ms.canonical_label, t.subj) AS subj,
                   t.pred,
                   coalesce(mo.canonical_label, t.obj) AS obj
            FROM t
            LEFT JOIN mp ms ON t.subj = ms.label
            LEFT JOIN mp mo ON t.obj = mo.label
        """,
        "kg_triple_store": """
            -- full recompute: canonical mapping over base UNION delta
            -- alias edges (same string CC + rep argmax as
            -- kg_canonical_update), applied to the union triple set
            -- with left-join rewrites — the incrementally maintained
            -- store (segments + rep-patch log) must read back
            -- identically.
            WITH e AS (
              SELECT c.c_name AS a, n.n_name AS b
              FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
              UNION ALL
              SELECT s.s_name, n.n_name
              FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
              UNION ALL
              SELECT n.n_name, r.r_name
              FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey),
            sym AS (SELECT DISTINCT a, b FROM (
                   SELECT a, b FROM e
                   UNION ALL
                   SELECT b AS a, a AS b FROM e)
                 WHERE a != b),
            v AS (SELECT DISTINCT a AS id FROM sym),
            c0 AS (SELECT id, id AS component FROM v),
            c1 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c0
                   UNION ALL
                   SELECT sym.a AS id, c0.component FROM sym JOIN c0 ON c0.id = sym.b)
                 GROUP BY id),
            c2 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c1
                   UNION ALL
                   SELECT sym.a AS id, c1.component FROM sym JOIN c1 ON c1.id = sym.b)
                 GROUP BY id),
            c3 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c2
                   UNION ALL
                   SELECT sym.a AS id, c2.component FROM sym JOIN c2 ON c2.id = sym.b)
                 GROUP BY id),
            c4 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c3
                   UNION ALL
                   SELECT sym.a AS id, c3.component FROM sym JOIN c3 ON c3.id = sym.b)
                 GROUP BY id),
            c5 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c4
                   UNION ALL
                   SELECT sym.a AS id, c4.component FROM sym JOIN c4 ON c4.id = sym.b)
                 GROUP BY id),
            rep AS (SELECT component, id AS canonical_label,
                     row_number() OVER (PARTITION BY component
                       ORDER BY length(id) DESC, id ASC) AS rn
                   FROM c5),
            mp AS (SELECT l.id AS label, r.canonical_label
                  FROM c5 l JOIN rep r
                    ON l.component = r.component AND r.rn = 1),
            t AS (
              SELECT c.c_name AS subj, 'placed' AS pred,
                     'O' || o.o_orderkey AS obj
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              UNION ALL
              SELECT s.s_name, 'located_in', n.n_name
              FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey)
            SELECT coalesce(ms.canonical_label, t.subj) AS subj,
                   t.pred,
                   coalesce(mo.canonical_label, t.obj) AS obj
            FROM t
            LEFT JOIN mp ms ON t.subj = ms.label
            LEFT JOIN mp mo ON t.obj = mo.label
        """,
        "g_cc_update": """
            -- from-scratch CC over base UNION delta: the incremental
            -- fold must match a full recompute. Min-propagation rounds:
            -- the graph is order-stars + nation hubs, max distance from
            -- a component's min custkey is 3 (min cust -> hub -> other
            -- cust -> its order); c4 adds one round of margin.
            WITH e AS (
              SELECT o_custkey::BIGINT AS a,
                     (o_orderkey + 1000000)::BIGINT AS b FROM orders
              UNION ALL
              SELECT c_custkey::BIGINT,
                     (c_nationkey + 5000000)::BIGINT FROM customer),
            sym AS (SELECT DISTINCT a, b FROM (
                   SELECT a, b FROM e
                   UNION ALL
                   SELECT b AS a, a AS b FROM e)
                 WHERE a != b),
            v AS (SELECT DISTINCT a AS id FROM sym),
            c0 AS (SELECT id, id AS component FROM v),
            c1 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c0
                   UNION ALL
                   SELECT sym.a AS id, c0.component FROM sym JOIN c0 ON c0.id = sym.b)
                 GROUP BY id),
            c2 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c1
                   UNION ALL
                   SELECT sym.a AS id, c1.component FROM sym JOIN c1 ON c1.id = sym.b)
                 GROUP BY id),
            c3 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c2
                   UNION ALL
                   SELECT sym.a AS id, c2.component FROM sym JOIN c2 ON c2.id = sym.b)
                 GROUP BY id),
            c4 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c3
                   UNION ALL
                   SELECT sym.a AS id, c3.component FROM sym JOIN c3 ON c3.id = sym.b)
                 GROUP BY id)
            SELECT id, component FROM c4
        """,
        "str_cc_ingest": """
            -- same full recompute as g_cc_update plus the supplier
            -- batch; the streamed store (3 microbatches, compaction at
            -- batch 2) must resolve identically. Supplier nodes sit at
            -- distance 2 from their component's min custkey, so the
            -- 4-round propagation still has a round of margin.
            WITH e AS (
              SELECT o_custkey::BIGINT AS a,
                     (o_orderkey + 1000000)::BIGINT AS b FROM orders
              UNION ALL
              SELECT c_custkey::BIGINT,
                     (c_nationkey + 5000000)::BIGINT FROM customer
              UNION ALL
              SELECT (s_suppkey + 2000000)::BIGINT,
                     (s_nationkey + 5000000)::BIGINT FROM supplier),
            sym AS (SELECT DISTINCT a, b FROM (
                   SELECT a, b FROM e
                   UNION ALL
                   SELECT b AS a, a AS b FROM e)
                 WHERE a != b),
            v AS (SELECT DISTINCT a AS id FROM sym),
            c0 AS (SELECT id, id AS component FROM v),
            c1 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c0
                   UNION ALL
                   SELECT sym.a AS id, c0.component FROM sym JOIN c0 ON c0.id = sym.b)
                 GROUP BY id),
            c2 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c1
                   UNION ALL
                   SELECT sym.a AS id, c1.component FROM sym JOIN c1 ON c1.id = sym.b)
                 GROUP BY id),
            c3 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c2
                   UNION ALL
                   SELECT sym.a AS id, c2.component FROM sym JOIN c2 ON c2.id = sym.b)
                 GROUP BY id),
            c4 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c3
                   UNION ALL
                   SELECT sym.a AS id, c3.component FROM sym JOIN c3 ON c3.id = sym.b)
                 GROUP BY id)
            SELECT id, component FROM c4
        """,
        "g8_connected_components": """
            WITH sym AS (SELECT DISTINCT a, b FROM (
                   SELECT o_custkey::BIGINT AS a, (o_orderkey + 1000000)::BIGINT AS b
                   FROM orders
                   UNION ALL
                   SELECT (o_orderkey + 1000000)::BIGINT, o_custkey::BIGINT FROM orders)
                 WHERE a != b),
            v AS (SELECT DISTINCT a AS id FROM sym),
            c0 AS (SELECT id, id AS component FROM v),
            c1 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c0
                   UNION ALL
                   SELECT sym.a AS id, c0.component FROM sym JOIN c0 ON c0.id = sym.b)
                 GROUP BY id),
            c2 AS (SELECT id, min(component) AS component FROM (
                   SELECT id, component FROM c1
                   UNION ALL
                   SELECT sym.a AS id, c1.component FROM sym JOIN c1 ON c1.id = sym.b)
                 GROUP BY id)
            SELECT id, component FROM c2
        """,
        "g6_pagerank": """
            WITH e AS (SELECT n_nationkey::BIGINT AS f, (n_regionkey + 100)::BIGINT AS t
                       FROM nation),
            od AS (SELECT f, count(*) AS d FROM e GROUP BY f),
            v AS (SELECT f AS id FROM e UNION SELECT t FROM e),
            r0 AS (SELECT id, 1.0 AS rank FROM v),
            r1 AS (SELECT v.id, 0.15 + 0.85 * coalesce(s.m, 0) AS rank FROM v LEFT JOIN (
                   SELECT e.t AS id, sum(r0.rank / od.d) AS m
                   FROM e JOIN r0 ON r0.id = e.f JOIN od ON od.f = e.f GROUP BY e.t) s
                 ON v.id = s.id),
            r2 AS (SELECT v.id, 0.15 + 0.85 * coalesce(s.m, 0) AS rank FROM v LEFT JOIN (
                   SELECT e.t AS id, sum(r1.rank / od.d) AS m
                   FROM e JOIN r1 ON r1.id = e.f JOIN od ON od.f = e.f GROUP BY e.t) s
                 ON v.id = s.id),
            r3 AS (SELECT v.id, 0.15 + 0.85 * coalesce(s.m, 0) AS rank FROM v LEFT JOIN (
                   SELECT e.t AS id, sum(r2.rank / od.d) AS m
                   FROM e JOIN r2 ON r2.id = e.f JOIN od ON od.f = e.f GROUP BY e.t) s
                 ON v.id = s.id),
            r4 AS (SELECT v.id, 0.15 + 0.85 * coalesce(s.m, 0) AS rank FROM v LEFT JOIN (
                   SELECT e.t AS id, sum(r3.rank / od.d) AS m
                   FROM e JOIN r3 ON r3.id = e.f JOIN od ON od.f = e.f GROUP BY e.t) s
                 ON v.id = s.id),
            r5 AS (SELECT v.id, 0.15 + 0.85 * coalesce(s.m, 0) AS rank FROM v LEFT JOIN (
                   SELECT e.t AS id, sum(r4.rank / od.d) AS m
                   FROM e JOIN r4 ON r4.id = e.f JOIN od ON od.f = e.f GROUP BY e.t) s
                 ON v.id = s.id)
            SELECT id, round(rank, 6) AS rank FROM r5
        """,
        "s5_autodetect": """
            WITH raw AS (SELECT unnest(string_split(content, chr(10))) AS line
                         FROM read_text('/root/repo/fixtures/readers/corpus.jsonl')),
            j AS (SELECT line AS doc FROM raw WHERE length(line) > 0),
            f AS (SELECT doc,
                    CASE WHEN json_extract(doc, '$.open_graph') IS NOT NULL THEN 2
                         WHEN json_extract(doc, '$.structured_data') IS NOT NULL THEN 1
                         WHEN json_extract_string(doc, '$.mime_type') = 'text/html' THEN 0
                         ELSE -1 END AS format
                  FROM j)
            SELECT
              CASE WHEN format = 1 THEN coalesce(json_extract_string(doc,
                     '$.structured_data.items[0].properties."http://ogp.me/ns#url"[0]'), '')
                   WHEN format = 2 THEN coalesce(json_extract_string(doc,
                     '$.open_graph."og:url"[0]'), '')
                   ELSE coalesce(json_extract_string(doc, '$.url'), '') END AS url,
              format,
              CASE WHEN format = 1 THEN coalesce(json_extract_string(doc,
                     '$.structured_data.items[0].properties."http://ogp.me/ns#title"[0]'), '')
                   WHEN format = 2 THEN coalesce(json_extract_string(doc,
                     '$.open_graph."og:title"[0]'), '')
                   ELSE '' END AS title,
              CASE WHEN format = 1 THEN coalesce(json_extract_string(doc,
                     '$.structured_data.items[0].properties."http://ogp.me/ns#description"[0]'), '')
                   WHEN format = 2 THEN coalesce(json_extract_string(doc,
                     '$.open_graph."og:description"[0]'), '')
                   WHEN format = 0 THEN coalesce(json_extract_string(doc, '$.text'), '')
                   ELSE '' END AS content,
              CASE WHEN format = 1 THEN coalesce(json_extract_string(doc,
                     '$.structured_data.items[0].properties."article:published_time"[0]'), '')
                   WHEN format = 2 THEN coalesce(json_extract_string(doc, '$.crawled_dt'), '')
                   WHEN format = 0 THEN coalesce(json_extract_string(doc, '$.Date'),
                        json_extract_string(doc, '$.http_headers.Date'), '')
                   ELSE '' END AS ts
            FROM f
        """,
        "f12_las_reader": """
            WITH raw AS (SELECT unnest(string_split(content, chr(10))) AS line
                         FROM read_text('/root/repo/fixtures/readers/las.tsv')),
            v AS (SELECT DISTINCT line FROM raw
                  WHERE length(line) > 0
                    AND NOT starts_with(line, '#')
                    AND NOT starts_with(line, '@')
                    AND NOT starts_with(line, '3210#')),
            m AS (SELECT regexp_replace(
                           replace(replace(replace(lower(line), '<', ''),
                                           '>', ''), ' .', ''),
                           '\\t+$', '') AS ml FROM v),
            p AS (SELECT string_split(ml, chr(9)) AS parts,
                         len(string_split(ml, chr(9))) AS n FROM m),
            f AS (SELECT n,
                         replace(regexp_replace(regexp_replace(parts[1], '^ ', ''), ' $', ''), ',', ';') AS s0,
                         replace(regexp_replace(regexp_replace(parts[2], '^ ', ''), ' $', ''), ',', ';') AS p0,
                         replace(regexp_replace(regexp_replace(parts[3], '^ ', ''), ' $', ''), ',', ';') AS o0
                  FROM p)
            SELECT CASE WHEN n NOT IN (3, 4) THEN 'None'
                        WHEN s0 = 'drones' THEN 'drone' ELSE s0 END AS subj,
                   CASE WHEN n NOT IN (3, 4) THEN 'None' ELSE p0 END AS pred,
                   CASE WHEN n NOT IN (3, 4) THEN 'None'
                        WHEN o0 = 'drones' THEN 'drone' ELSE o0 END AS obj
            FROM f
        """,
        "str_stateful_window": """
            WITH pb AS (SELECT event_type AS pattern_key,
                               date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS batch_id,
                               count(*)::BIGINT AS support
                        FROM events GROUP BY 1, 2),
            hi AS (SELECT pattern_key, max(batch_id) AS upto_batch FROM pb GROUP BY 1)
            SELECT p.pattern_key, h.upto_batch,
                   sum(p.support)::BIGINT AS window_support
            FROM pb p JOIN hi h ON p.pattern_key = h.pattern_key
            WHERE p.batch_id > h.upto_batch - 3
            GROUP BY 1, 2
        """,
        "a1_mis_exact": """
            WITH quads AS (
              SELECT o_custkey::BIGINT AS src, (o_orderkey % 3 + 1)::BIGINT AS pred,
                     (o_orderkey + 1000000)::BIGINT AS dst FROM orders
              UNION ALL
              SELECT o_custkey::BIGINT, 0, (o_custkey % 5)::BIGINT FROM orders
              UNION ALL
              SELECT (o_orderkey + 1000000)::BIGINT, 0, 99 FROM orders),
            vt AS (SELECT src AS id, min(dst) AS vtype FROM quads
                   WHERE pred = 0 GROUP BY src),
            typed AS (SELECT q.src, q.pred, q.dst, ts.vtype AS src_t, td.vtype AS dst_t
                      FROM quads q JOIN vt ts ON q.src = ts.id
                                   JOIN vt td ON q.dst = td.id
                      WHERE q.pred != 0),
            pats AS (SELECT '(' || src_t::VARCHAR || ',' || pred::VARCHAR || ','
                            || dst_t::VARCHAR || ')' AS pat_str,
                            src_t, dst_t, src, dst
                     FROM typed),
            melted AS (SELECT DISTINCT pat_str, t, n FROM (
                   SELECT pat_str, src_t AS t, src AS n FROM pats
                   UNION ALL SELECT pat_str, dst_t, dst FROM pats)),
            per_type AS (SELECT pat_str, t, count(*) AS cnt FROM melted GROUP BY 1, 2)
            SELECT pat_str, min(cnt)::BIGINT AS support FROM per_type GROUP BY pat_str
        """,
        "g9_sample_v1": """
            WITH e AS (SELECT l_suppkey::BIGINT AS src,
                              (l_partkey + 10000)::BIGINT AS dst,
                              'link' AS pred
                       FROM lineitem),
            deg AS (SELECT id, count(*)::DOUBLE AS score FROM (
                      SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
                    GROUP BY id),
            st AS (SELECT min(score) AS mn, max(score) AS mx FROM deg),
            tails AS (SELECT id FROM deg, st
                      WHERE score < mn + (mx - mn) / 100 * 10
                         OR score > mx - (mx - mn) / 100 * 10)
            SELECT src, dst, pred FROM e
            WHERE src IN (SELECT id FROM tails) OR dst IN (SELECT id FROM tails)
        """,
        "txt_repetition_scores": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(str_split(text, chr(10)),
                                 x -> len(trim(x)) > 0) AS lines,
                     list_filter(regexp_split_to_array(text, '\\n\\s*\\n'),
                                 x -> len(trim(x)) > 0) AS paras,
                     list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> len(x) > 0) AS toks
              FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 2
                          THEN list_transform(range(len(toks) - 1),
                               i -> toks[i+1] || ' ' || toks[i+2])
                          ELSE []::VARCHAR[] END AS grams
              FROM t),
            m AS (
              SELECT doc_id, max(c) AS mode_cnt FROM (
                SELECT doc_id, gram, count(*) AS c
                FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
                GROUP BY doc_id, gram)
              GROUP BY doc_id)
            SELECT t.doc_id,
              CASE WHEN len(lines) > 0
                   THEN round((len(lines) - len(list_distinct(lines)))
                              / len(lines)::DOUBLE, 6) ELSE 0.0 END
                AS dup_line_frac,
              CASE WHEN len(paras) > 0
                   THEN round((len(paras) - len(list_distinct(paras)))
                              / len(paras)::DOUBLE, 6) ELSE 0.0 END
                AS dup_para_frac,
              CASE WHEN len(g.grams) > 0
                   THEN round(m.mode_cnt / len(g.grams)::DOUBLE, 6)
                   ELSE 0.0 END AS top_bigram_frac
            FROM t JOIN g USING (doc_id) LEFT JOIN m USING (doc_id)
        """,
        "txt_token_entropy": """
            WITH t AS (SELECT doc_id,
                              list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                          x -> len(x) > 0) AS toks
                       FROM documents),
            c AS (SELECT doc_id, count(*)::DOUBLE AS c
                  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                  GROUP BY doc_id, tok),
            s AS (SELECT doc_id, sum(c * ln(c)) AS s FROM c GROUP BY doc_id)
            SELECT t.doc_id,
              CASE WHEN len(t.toks) > 0
                   THEN round(ln(len(t.toks)::DOUBLE) - s.s / len(t.toks), 6)
                   ELSE 0.0 END AS token_entropy
            FROM t LEFT JOIN s USING (doc_id)
        """,
        "dd_contamination": """
            WITH tok AS (SELECT doc_id,
                                regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
                         FROM documents),
            g AS (SELECT doc_id,
                         list_distinct(list_transform(
                           range(greatest(len(toks) - 13, 0) + 1),
                           i -> array_to_string(toks[i+1:i+13], ' '))) AS grams
                  FROM tok),
            d AS (SELECT doc_id, unnest(grams) AS gram FROM g),
            e AS (SELECT doc_id AS eval_id, gram FROM d WHERE doc_id % 37 = 0)
            SELECT d.doc_id, e.eval_id,
                   count(DISTINCT d.gram)::BIGINT AS n_collisions
            FROM d JOIN e ON d.gram = e.gram
            GROUP BY d.doc_id, e.eval_id
            HAVING count(DISTINCT d.gram) >= 1
        """,
        "dd_near_dup_clusters": """
            WITH t AS (SELECT doc_id,
                              list_distinct(regexp_split_to_array(
                                trim(lower(text)), '\\s+')) AS toks
                       FROM documents),
            p AS (SELECT a.doc_id AS a
                  FROM t a JOIN t b ON a.doc_id + 1 = b.doc_id
                  WHERE round(len(list_intersect(a.toks, b.toks))::DOUBLE
                              / len(list_distinct(a.toks || b.toks)), 6)
                        >= 0.8),
            i AS (SELECT a, a - row_number() OVER (ORDER BY a) AS grp FROM p),
            isl AS (SELECT min(a) AS lo, max(a) AS hi FROM i GROUP BY grp)
            SELECT unnest(range(lo, hi + 2))::BIGINT AS id,
                   lo::BIGINT AS keeper_id
            FROM isl
        """,
        "str_exact_dedup": """
            SELECT DISTINCT md5(text) AS text_hash, text
            FROM documents WHERE doc_id < 300
        """,
        "corpus_clean": """
            WITH lt AS (SELECT doc_id,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks
              FROM documents),
            ls AS (SELECT doc_id,
              len(list_filter(ltoks, x -> list_contains(
                ['the','and','of','to','is','was','with'], x))) AS s_en,
              len(list_filter(ltoks, x -> list_contains(
                ['der','die','und','das','ist','mit','von'], x))) AS s_de,
              len(list_filter(ltoks, x -> list_contains(
                ['le','la','et','les','des','est','avec'], x))) AS s_fr,
              len(list_filter(ltoks, x -> list_contains(
                ['el','la','los','las','es','con','por'], x))) AS s_es
              FROM lt),
            lang AS (SELECT doc_id,
              CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
                   WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                   WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                   WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                   ELSE 'es' END AS lang_pred
              FROM ls),
            rt AS (SELECT doc_id,
                list_filter(str_split(text, chr(10)),
                            x -> len(trim(x)) > 0) AS lines,
                list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> len(x) > 0) AS toks
              FROM documents),
            g AS (SELECT doc_id,
                CASE WHEN len(toks) >= 2
                     THEN list_transform(range(len(toks) - 1),
                          i -> toks[i+1] || ' ' || toks[i+2])
                     ELSE []::VARCHAR[] END AS grams
              FROM rt),
            m AS (SELECT doc_id, max(c) AS mode_cnt FROM (
                SELECT doc_id, gram, count(*) AS c
                FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
                GROUP BY doc_id, gram)
              GROUP BY doc_id),
            feat AS (SELECT d.doc_id, d.text, d.n_chars, lang.lang_pred,
                CASE WHEN length(trim(d.text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(d.text), '\\s+'))
                END AS n_tokens,
                CASE WHEN len(rt.lines) > 0
                     THEN round((len(rt.lines) - len(list_distinct(rt.lines)))
                                / len(rt.lines)::DOUBLE, 6) ELSE 0.0 END
                  AS dup_line_frac,
                CASE WHEN len(g.grams) > 0
                     THEN round(m.mode_cnt / len(g.grams)::DOUBLE, 6)
                     ELSE 0.0 END AS top_bigram_frac
              FROM documents d
              JOIN lang USING (doc_id) JOIN rt USING (doc_id)
              JOIN g USING (doc_id) LEFT JOIN m USING (doc_id)),
            f AS (SELECT * FROM feat
                  WHERE lang_pred = 'en' AND n_tokens >= 15
                    AND dup_line_frac <= 0.3 AND top_bigram_frac <= 0.12),
            keep AS (SELECT * FROM (
                SELECT f.*, min(doc_id) OVER (PARTITION BY md5(text)) AS k
                FROM f) WHERE doc_id = k),
            jt AS (SELECT doc_id,
                list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))
                AS toks FROM documents),
            p AS (SELECT a.doc_id AS a
                  FROM jt a JOIN jt b ON a.doc_id + 1 = b.doc_id
                  WHERE round(len(list_intersect(a.toks, b.toks))::DOUBLE
                              / len(list_distinct(a.toks || b.toks)), 6)
                        >= 0.8),
            i AS (SELECT a, a - row_number() OVER (ORDER BY a) AS grp FROM p),
            isl AS (SELECT min(a) AS lo, max(a) AS hi FROM i GROUP BY grp),
            members AS (SELECT unnest(range(lo, hi + 2)) AS id, lo AS comp
                        FROM isl),
            -- keeper recomputed among filter survivors: min surviving id
            -- per component (matches clean_corpus's survivor-keeper fix)
            sm AS (SELECT m.id, m.comp FROM members m
                   JOIN keep k ON k.doc_id = m.id),
            nk AS (SELECT comp, min(id) AS nd_keep FROM sm GROUP BY comp),
            drops AS (SELECT sm.id FROM sm JOIN nk USING (comp)
                      WHERE sm.id != nk.nd_keep)
            SELECT doc_id, n_chars,
                   'lang+quality+repetition+exact_keeper+near_dup_keeper'
                   AS keep_reason
            FROM keep
            WHERE doc_id NOT IN (SELECT id FROM drops)
        """,
        "str_contamination": """
            WITH tok AS (SELECT doc_id,
                                regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
                         FROM documents),
            g AS (SELECT doc_id,
                         list_distinct(list_transform(
                           range(greatest(len(toks) - 13, 0) + 1),
                           i -> array_to_string(toks[i+1:i+13], ' '))) AS grams
                  FROM tok),
            d AS (SELECT doc_id, unnest(grams) AS gram FROM g),
            e AS (SELECT doc_id AS eval_id, gram FROM d WHERE doc_id % 37 = 0)
            SELECT d.doc_id, e.eval_id,
                   count(DISTINCT d.gram)::BIGINT AS n_collisions
            FROM d JOIN e ON d.gram = e.gram
            GROUP BY d.doc_id, e.eval_id
            HAVING count(DISTINCT d.gram) >= 1
        """,
        "a12_neighbor_labels": """
            WITH e AS (SELECT s_suppkey::BIGINT AS src,
                              (s_nationkey + 100000)::BIGINT AS dst
                       FROM supplier),
            v AS (SELECT s_suppkey::BIGINT AS id, s_name AS label
                  FROM supplier
                  UNION ALL
                  SELECT (n_nationkey + 100000)::BIGINT, n_name FROM nation),
            fwd AS (SELECT e.src AS id, v.label AS nbr_label
                    FROM e JOIN v ON e.dst = v.id),
            rev AS (SELECT e.dst AS id, v.label AS nbr_label
                    FROM e JOIN v ON e.src = v.id),
            allm AS (SELECT * FROM fwd UNION ALL SELECT * FROM rev)
            SELECT id,
                   array_to_string(list_sort(list(DISTINCT nbr_label)), '|')
                     AS nbr_labels,
                   count(*)::BIGINT AS n_nbrs
            FROM allm GROUP BY id
        """,
        "g2_subgraph": """
            SELECT l_suppkey::BIGINT AS src,
                   (l_partkey + 10000)::BIGINT AS dst
            FROM lineitem
            WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal > 0)
              AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 25)
        """,
        "w6_weight_bins": """
            WITH st AS (SELECT min(l_extendedprice::DOUBLE) AS mn,
                               max(l_extendedprice::DOUBLE) AS mx
                        FROM lineitem)
            SELECT l_orderkey, l_linenumber,
                   least(floor((l_extendedprice::DOUBLE - st.mn)
                               / (CASE WHEN st.mx - st.mn = 0 THEN 1.0
                                       ELSE st.mx - st.mn END) * 10),
                         9)::INTEGER AS bin
            FROM lineitem, st
        """,
        "f9_js_divergence": """
            WITH n AS (SELECT vec_id,
                              list_transform(embedding::DOUBLE[],
                                             x -> abs(x)) AS a
                       FROM embeddings),
            d AS (SELECT vec_id,
                         list_transform(a, x -> x / list_sum(a)) AS p
                  FROM n),
            x AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                         unnest(a.p) AS pv, unnest(b.p) AS qv
                  FROM d a JOIN d b ON a.vec_id + 1 = b.vec_id)
            SELECT id_a, id_b,
              round(0.5 * sum(CASE WHEN pv > 0 AND (pv+qv)/2 > 0
                                   THEN pv * ln(pv / ((pv+qv)/2))
                                   ELSE 0 END)
                  + 0.5 * sum(CASE WHEN qv > 0 AND (pv+qv)/2 > 0
                                   THEN qv * ln(qv / ((pv+qv)/2))
                                   ELSE 0 END), 6) AS js
            FROM x GROUP BY id_a, id_b
        """,
        "url_normalize": """
            WITH u0 AS (SELECT doc_id,
                CASE WHEN doc_id % 12 = 2
                     THEN 'https://Wrong.Port:80/keep/' || doc_id
                     WHEN doc_id % 3 = 0
                     THEN 'HTTPS://ExAmple.COM:443/Path' || doc_id ||
                          '?utm_source=x&id=' || doc_id ||
                          '&utm_campaign=y#frag'
                     WHEN doc_id % 3 = 1
                     THEN 'http://Site.org:80/a/' || doc_id
                     ELSE 'ftp://Files.Net/data?x=1&fbclid=abc' || doc_id
                END AS url
              FROM documents),
            s1 AS (SELECT doc_id, url,
                          regexp_replace(url, '#.*$', '') AS u
                   FROM u0),
            s2 AS (SELECT doc_id, url, u,
                regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*')
                  AS head
              FROM s1),
            s3 AS (SELECT doc_id, url,
                CASE WHEN lower(head) LIKE 'http://%'
                     THEN regexp_replace(lower(head), ':80$', '')
                     WHEN lower(head) LIKE 'https://%'
                     THEN regexp_replace(lower(head), ':443$', '')
                     ELSE lower(head) END
                  || substr(u, length(head) + 1) AS u2
              FROM s2),
            s4 AS (SELECT doc_id, url, u2,
                split_part(u2, '?', 1) AS base,
                CASE WHEN strpos(u2, '?') > 0
                     THEN list_filter(
                       string_split(substr(u2, strpos(u2, '?') + 1), '&'),
                       p -> len(p) > 0 AND NOT regexp_matches(
                         p, '^(utm_[a-z]+|fbclid|gclid)='))
                     ELSE []::VARCHAR[] END AS params
              FROM s3)
            SELECT doc_id, url,
                   CASE WHEN len(params) > 0
                        THEN base || '?' || array_to_string(params, '&')
                        ELSE base END AS url_norm
            FROM s4
        """,
        "txt_chunks": """
            WITH t AS (SELECT doc_id,
                              list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                          x -> len(x) > 0) AS toks
                       FROM documents),
            s AS (SELECT doc_id, toks,
                         unnest(range(0, len(toks), 12)) AS start
                  FROM t WHERE len(toks) > 0)
            SELECT doc_id, (start / 12)::BIGINT AS chunk_id,
                   array_to_string(toks[start+1:start+16], ' ') AS chunk,
                   len(toks[start+1:start+16])::BIGINT AS n_chunk_tokens
            FROM s
        """,
        "corpus_report": f"""
            {_CORPUS_FEAT_CTE}
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(length(text))::BIGINT AS n_chars_total,
                   round(avg(n_tokens), 6) AS mean_tokens,
                   round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
                   round(quantile_cont(n_tokens, 0.95), 6) AS p95_tokens,
                   round(avg(top_bigram_frac), 6) AS mean_top_bigram_frac,
                   round(avg(CASE WHEN lang_pred = 'en' THEN 1.0
                                  ELSE 0.0 END), 6) AS pct_en,
                   round(1.0 - count(DISTINCT md5(text))
                             / count(*)::DOUBLE, 6) AS dup_rate
            FROM feat GROUP BY source
        """,
        # streaming complete-mode twin: the SAME per-doc feature CTE,
        # only the algebraic aggregates (no dup_rate / percentiles --
        # those are batch-only, their streaming state is unbounded)
        "str_corpus_report": f"""
            {_CORPUS_FEAT_CTE}
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(length(text))::BIGINT AS n_chars_total,
                   round(avg(n_tokens), 6) AS mean_tokens,
                   round(avg(top_bigram_frac), 6) AS mean_top_bigram_frac,
                   round(avg(CASE WHEN lang_pred = 'en' THEN 1.0
                                  ELSE 0.0 END), 6) AS pct_en
            FROM feat GROUP BY source
        """,
        "txt_mask_pii": """
            WITH p AS (SELECT doc_id,
                CASE WHEN doc_id % 5 = 0
                     THEN text || ' contact: user' || doc_id ||
                          '@example.com ip 10.0.' || (doc_id % 250) ||
                          '.7 card 4111-1111-1111-1111 ssn 123-45-6789' ||
                          ' tel +1 (555) 123-4567'
                     ELSE text END AS text
              FROM documents),
            m AS (SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(text,
                          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                          '<PII:email>', 'g'),
                        '\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b',
                        '<PII:cc>', 'g'),
                      '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<PII:ssn>', 'g'),
                    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                    '<PII:ipv4>', 'g'),
                  '\\+?\\b\\d{1,2}[- ]\\(?\\d{3}\\)?[- ]\\d{3}[- ]\\d{4}\\b',
                  '<PII:phone>', 'g') AS masked
              FROM p)
            SELECT doc_id, masked,
                   len(regexp_extract_all(masked, '<PII:[a-z0-9]+>'))::BIGINT
                     AS n_pii
            FROM m
        """,
        "s3_web_crawl_reader": """
            WITH raw AS (SELECT unnest(string_split(content, chr(10))) AS line
                         FROM read_text('/root/repo/fixtures/readers/corpus.jsonl')),
            j AS (SELECT line FROM raw WHERE length(line) > 0),
            p AS (SELECT
                coalesce(json_extract_string(line, '$.url'),
                         json_extract_string(line, '$.meta.canonical'),
                         'unknown') AS url,
                string_split(coalesce(json_extract_string(line, '$.text'),
                                      json_extract_string(line, '$.content'),
                                      ''), chr(10)) AS ls
              FROM j)
            SELECT url, line FROM (SELECT url, unnest(ls) AS line FROM p)
            WHERE length(trim(line)) > 0
        """,
        "str_corpus_clean": """
            WITH d AS (SELECT * FROM documents WHERE doc_id < 300),
            lt AS (SELECT doc_id,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks
              FROM d),
            ls AS (SELECT doc_id,
              len(list_filter(ltoks, x -> list_contains(
                ['the','and','of','to','is','was','with'], x))) AS s_en,
              len(list_filter(ltoks, x -> list_contains(
                ['der','die','und','das','ist','mit','von'], x))) AS s_de,
              len(list_filter(ltoks, x -> list_contains(
                ['le','la','et','les','des','est','avec'], x))) AS s_fr,
              len(list_filter(ltoks, x -> list_contains(
                ['el','la','los','las','es','con','por'], x))) AS s_es
              FROM lt),
            lang AS (SELECT doc_id,
              CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
                   WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                   WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                   WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                   ELSE 'es' END AS lang_pred
              FROM ls),
            rt AS (SELECT doc_id,
                list_filter(str_split(text, chr(10)),
                            x -> len(trim(x)) > 0) AS lines,
                list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> len(x) > 0) AS toks
              FROM d),
            g AS (SELECT doc_id,
                CASE WHEN len(toks) >= 2
                     THEN list_transform(range(len(toks) - 1),
                          i -> toks[i+1] || ' ' || toks[i+2])
                     ELSE []::VARCHAR[] END AS grams
              FROM rt),
            m AS (SELECT doc_id, max(c) AS mode_cnt FROM (
                SELECT doc_id, gram, count(*) AS c
                FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
                GROUP BY doc_id, gram)
              GROUP BY doc_id),
            feat AS (SELECT d.doc_id, d.text, lang.lang_pred,
                CASE WHEN length(trim(d.text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(d.text), '\\s+'))
                END AS n_tokens,
                CASE WHEN len(rt.lines) > 0
                     THEN round((len(rt.lines) - len(list_distinct(rt.lines)))
                                / len(rt.lines)::DOUBLE, 6) ELSE 0.0 END
                  AS dup_line_frac,
                CASE WHEN len(g.grams) > 0
                     THEN round(m.mode_cnt / len(g.grams)::DOUBLE, 6)
                     ELSE 0.0 END AS top_bigram_frac
              FROM d
              JOIN lang USING (doc_id) JOIN rt USING (doc_id)
              JOIN g USING (doc_id) LEFT JOIN m USING (doc_id))
            SELECT DISTINCT md5(text) AS text_hash, text
            FROM feat
            WHERE lang_pred = 'en' AND n_tokens >= 15
              AND dup_line_frac <= 0.3 AND top_bigram_frac <= 0.12
        """,
        "str_watermark_counts": """
            WITH hi AS (SELECT max(ts) AS h FROM events),
            w AS (SELECT date_trunc('hour', ts) AS window_start, event_type,
                         count(*) AS cnt, round(sum(value), 2) AS sum_value
                  FROM events GROUP BY 1, 2)
            SELECT window_start, event_type, cnt, sum_value
            FROM w, hi
            WHERE window_start + INTERVAL 1 HOUR <= hi.h - INTERVAL 2 HOUR
        """,
        "txt_unigram_logprob": """
            WITH t AS (SELECT doc_id,
                              list_filter(regexp_split_to_array(
                                trim(lower(text)), '\\s+'),
                                x -> len(x) > 0) AS toks
                       FROM documents),
            e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
            c AS (SELECT tok, count(*)::DOUBLE AS c FROM e GROUP BY tok),
            tot AS (SELECT sum(c) AS total FROM c),
            s AS (SELECT e.doc_id, avg(ln(c.c / tot.total)) AS lp
                  FROM e JOIN c USING (tok), tot GROUP BY e.doc_id)
            SELECT t.doc_id,
                   round(coalesce(s.lp, 0.0), 6) AS avg_logprob
            FROM t LEFT JOIN s USING (doc_id)
        """,
        "dd_substring_spans": f"""
            WITH p AS (SELECT doc_id,
                CASE WHEN doc_id % 4 = 0
                     THEN '{_SPAN_HEADER} ' || text
                     WHEN doc_id % 4 = 1
                     THEN text || ' {_SPAN_FOOTER}'
                     ELSE text END AS text
              FROM documents),
            t AS (SELECT doc_id,
                list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> len(x) > 0) AS toks
              FROM p),
            s AS (SELECT doc_id, toks,
                         unnest(range(0, len(toks) - 12)) AS pos
                  FROM t WHERE len(toks) >= 13),
            h AS (SELECT doc_id, pos,
                         md5(array_to_string(toks[pos+1:pos+13], ' ')) AS hh
                  FROM s),
            dup AS (SELECT hh FROM h
                    GROUP BY hh HAVING count(DISTINCT doc_id) >= 2),
            hits AS (SELECT doc_id, pos FROM h JOIN dup USING (hh)),
            isl AS (SELECT doc_id, pos,
                pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                  AS grp
              FROM hits),
            sp AS (SELECT doc_id, min(pos)::BIGINT AS span_start,
                          (max(pos) + 12)::BIGINT AS span_end
                   FROM isl GROUP BY doc_id, grp)
            SELECT sp.doc_id, span_start, span_end,
                   (span_end - span_start + 1)::BIGINT AS n_span_tokens,
                   array_to_string(t.toks[span_start+1:span_end+1], ' ')
                     AS span_text
            FROM sp JOIN t ON t.doc_id = sp.doc_id
        """,
        "txt_chunks_subword": """
            WITH t AS (SELECT doc_id,
                list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> len(x) > 0) AS ws
              FROM documents),
            e AS (SELECT doc_id, unnest(range(0, len(ws))) AS pos, ws
                  FROM t WHERE len(ws) > 0),
            c AS (SELECT doc_id, pos, ws[pos+1] AS w,
                len(regexp_extract_all(ws[pos+1],
                    '[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]+'))::BIGINT AS cost
              FROM e),
            p AS (SELECT doc_id, pos, w, cost,
                coalesce(sum(cost) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS pre
              FROM c)
            SELECT doc_id, (pre // 24)::BIGINT AS chunk_id,
                   string_agg(w, ' ' ORDER BY pos) AS chunk,
                   count(*)::BIGINT AS n_chunk_words,
                   sum(cost)::BIGINT AS n_chunk_subwords
            FROM p GROUP BY doc_id, (pre // 24)::BIGINT
        """,
        "txt_model_quality": """
            WITH rt AS (SELECT doc_id, text,
                list_filter(str_split(text, chr(10)),
                            x -> len(trim(x)) > 0) AS lines,
                list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> len(x) > 0) AS toks
              FROM documents),
            g AS (SELECT doc_id,
                CASE WHEN len(toks) >= 2
                     THEN list_transform(range(len(toks) - 1),
                          i -> toks[i+1] || ' ' || toks[i+2])
                     ELSE []::VARCHAR[] END AS grams
              FROM rt),
            m AS (SELECT doc_id, max(c) AS mode_cnt FROM (
                SELECT doc_id, gram, count(*) AS c
                FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
                GROUP BY doc_id, gram)
              GROUP BY doc_id),
            f AS (SELECT d.doc_id,
                ln(1 + (CASE WHEN length(trim(d.text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(d.text), '\\s+'))
                        END)::DOUBLE) AS lt,
                round(len(list_filter(
                        regexp_split_to_array(trim(d.text), '\\s+'),
                        t -> list_contains(['the','a','an','of','in','on',
                          'and','or','to','is','was','for','with','that',
                          'it'], t)))
                      / greatest(len(regexp_split_to_array(trim(d.text),
                          '\\s+')), 1)::DOUBLE, 6) AS sw,
                round(length(regexp_replace(trim(d.text), '\\s+', '', 'g'))
                        ::DOUBLE
                      / greatest(len(regexp_split_to_array(trim(d.text),
                          '\\s+')), 1), 6) AS mtl,
                CASE WHEN len(rt.lines) > 0
                     THEN round((len(rt.lines) - len(list_distinct(rt.lines)))
                                / len(rt.lines)::DOUBLE, 6) ELSE 0.0 END
                  AS dlf,
                CASE WHEN len(g.grams) > 0
                     THEN round(m.mode_cnt / len(g.grams)::DOUBLE, 6)
                     ELSE 0.0 END AS tbf
              FROM documents d
              JOIN rt USING (doc_id) JOIN g USING (doc_id)
              LEFT JOIN m USING (doc_id))
            SELECT doc_id,
                   round(1.0 / (1.0 + exp(-(-1.0 + 0.35*lt + 2.0*sw
                         + (-0.15)*mtl + (-3.0)*dlf + (-4.0)*tbf))), 6)
                     AS quality_prob
            FROM f
        """,
        "ds_split": """
            WITH d AS (SELECT doc_id,
                ('0x' || substr(md5('split-v1' || '|'
                    || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
                  % 1000000 AS draw
              FROM documents)
            SELECT doc_id,
                   CASE WHEN draw < 900000 THEN 'train'
                        WHEN draw < 950000 THEN 'val'
                        ELSE 'test' END AS split
            FROM d
        """,
        "ds_pack_shards": """
            WITH d AS (SELECT doc_id, source,
                (CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                 END)::BIGINT AS n_tokens
              FROM documents),
            c AS (SELECT doc_id, source, n_tokens,
                (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens)::BIGINT AS token_offset
              FROM d)
            SELECT doc_id, source, n_tokens, token_offset,
                   (token_offset // 400)::BIGINT AS shard_id
            FROM c
        """,
        "dd_cross_source": """
            WITH d AS (SELECT doc_id, source, text FROM documents
                       UNION ALL
                       SELECT doc_id + 1000000, 'mirror', text
                       FROM documents WHERE doc_id % 10 = 0),
            hsrc AS (SELECT DISTINCT md5(text) AS h, source FROM d)
            SELECT a.source AS source_a, b.source AS source_b,
                   count(*)::BIGINT AS n_shared_contents
            FROM hsrc a JOIN hsrc b
              ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2
        """,
        "dd_boilerplate_ngrams": """
            WITH t AS (SELECT doc_id,
                list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> len(x) > 0) AS toks
              FROM documents),
            g AS (SELECT doc_id,
                         md5(array_to_string(toks[i+1:i+13], ' ')) AS h,
                         array_to_string(toks[i+1:i+13], ' ') AS gt
                  FROM t, unnest(range(0, greatest(len(toks) - 12, 0)))
                       AS u(i)
                  WHERE len(toks) >= 13),
            v AS (SELECT h, count(DISTINCT doc_id)::BIGINT AS n_docs,
                         min(gt) AS gram_text
                  FROM g GROUP BY h
                  HAVING count(DISTINCT doc_id) >= 2),
            top AS (SELECT h, n_docs, gram_text FROM v
                    ORDER BY n_docs DESC, h LIMIT 20)
            SELECT row_number() OVER (ORDER BY n_docs DESC, h)::BIGINT
                     AS rank,
                   n_docs, gram_text
            FROM top
        """,
        "ds_token_budget": """
            WITH d AS (SELECT doc_id, source,
                (CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                 END)::BIGINT AS n_tokens
              FROM documents),
            shares(source, share) AS (VALUES
                ('src0', 500000), ('src1', 300000), ('src2', 200000)),
            inv AS (SELECT d.source,
                           sum(n_tokens)::BIGINT AS available_tokens,
                           s.share::BIGINT AS target_share_ppm,
                           (sum(n_tokens)::BIGINT * 1000000
                              // s.share)::BIGINT AS b_cap
                    FROM d JOIN shares s ON d.source = s.source
                    GROUP BY d.source, s.share),
            b AS (SELECT least(min(b_cap), 4000)::BIGINT AS b FROM inv)
            SELECT source, available_tokens, target_share_ppm,
                   (b.b * target_share_ppm // 1000000)::BIGINT
                     AS target_tokens,
                   least((b.b * target_share_ppm // 1000000) * 1000000
                           // available_tokens, 1000000)::BIGINT
                     AS accept_ppm,
                   (CASE WHEN b_cap = b.b THEN 1 ELSE 0 END)::BIGINT
                     AS binding
            FROM inv, b
        """,
        "ds_sample_token_budget": """
            WITH d AS (SELECT doc_id, source,
                (CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                 END)::BIGINT AS n_tokens
              FROM documents),
            shares(source, share) AS (VALUES
                ('src0', 500000), ('src1', 300000), ('src2', 200000)),
            inv AS (SELECT d.source,
                           sum(n_tokens)::BIGINT AS available_tokens,
                           s.share::BIGINT AS target_share_ppm,
                           (sum(n_tokens)::BIGINT * 1000000
                              // s.share)::BIGINT AS b_cap
                    FROM d JOIN shares s ON d.source = s.source
                    GROUP BY d.source, s.share),
            b AS (SELECT least(min(b_cap), 4000)::BIGINT AS b FROM inv),
            rates AS (SELECT source,
                   least((b.b * target_share_ppm // 1000000) * 1000000
                           // available_tokens, 1000000)::BIGINT
                     AS accept_ppm
                      FROM inv, b)
            SELECT d.doc_id, d.source, d.n_tokens
            FROM d JOIN rates r ON d.source = r.source
            WHERE ('0x' || substr(md5('tokmix-v1' || '|'
                      || CAST(d.doc_id AS VARCHAR)), 1, 15))::UBIGINT
                    % 1000000 < r.accept_ppm
        """,
        "ds_mixture_sample": """
            WITH shares(source, share) AS (VALUES
                ('src0', 500000), ('src1', 300000), ('src2', 200000)),
            counts AS (SELECT source, count(*)::BIGINT AS n
                       FROM documents
                       WHERE source IN ('src0', 'src1', 'src2')
                       GROUP BY source),
            caps AS (SELECT c.source, c.n, s.share,
                            floor(c.n * 1000000 / s.share) AS cap
                     FROM counts c JOIN shares s ON c.source = s.source),
            t AS (SELECT min(cap) AS t FROM caps),
            rates AS (SELECT source,
                             floor(share * t.t / n)::BIGINT AS thr
                      FROM caps CROSS JOIN t)
            SELECT d.doc_id, d.source
            FROM documents d JOIN rates r ON d.source = r.source
            WHERE ('0x' || substr(md5('mix-v1' || '|'
                      || CAST(d.doc_id AS VARCHAR)), 1, 15))::UBIGINT
                    % 1000000 < r.thr
        """,
        "txt_tfidf_keywords": """
            WITH toks AS (SELECT doc_id, unnest(list_filter(
                    regexp_split_to_array(trim(lower(text)), '\\s+'),
                    x -> len(x) > 0)) AS term
                FROM documents),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                   FROM toks GROUP BY doc_id, term),
            dfq AS (SELECT term, count(*)::DOUBLE AS df
                    FROM tf GROUP BY term),
            n AS (SELECT count(*)::DOUBLE AS n FROM documents),
            scored AS (SELECT tf.doc_id, tf.term, tf.tf,
                              round(tf.tf * ln(n.n / dfq.df), 6) AS score
                       FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN n),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, term ASC) AS rank
                       FROM scored)
            SELECT doc_id, rank::BIGINT AS rank, term, tf, score
            FROM ranked WHERE rank <= 3
        """,
        "g_triangle_counts": """
            WITH li AS (SELECT l_orderkey, l_partkey::BIGINT AS p
                        FROM lineitem WHERE l_orderkey % 4 = 0),
            e AS (SELECT DISTINCT a.p AS a, b.p AS b
                  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                  WHERE a.p < b.p),
            tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
                    FROM e e1
                    JOIN e e2 ON e2.a = e1.b
                    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
            verts AS (SELECT a AS id FROM e UNION SELECT b FROM e),
            pv AS (SELECT id, count(*)::BIGINT AS c
                   FROM (SELECT unnest([u, v, w]) AS id FROM tri)
                   GROUP BY id)
            SELECT v.id, coalesce(pv.c, 0)::BIGINT AS n_triangles
            FROM verts v LEFT JOIN pv ON v.id = pv.id
        """,
        "g_adamic_adar": """
            WITH li AS (SELECT l_orderkey, l_partkey::BIGINT AS p
                        FROM lineitem WHERE l_orderkey % 20 = 0),
            e AS (SELECT DISTINCT a.p AS a, b.p AS b
                  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                  WHERE a.p < b.p),
            sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
            deg AS (SELECT a AS w, count(*)::BIGINT AS wd
                    FROM sym GROUP BY a),
            wedge AS (SELECT s1.b AS x, s2.b AS y, s1.a AS w
                      FROM sym s1 JOIN sym s2
                        ON s1.a = s2.a AND s1.b < s2.b),
            ag AS (SELECT x, y, count(*)::BIGINT AS n_common,
                          round(sum(1.0 / ln(d.wd)), 6) AS score
                   FROM wedge p JOIN deg d ON p.w = d.w
                   WHERE d.wd <= 12
                   GROUP BY x, y)
            SELECT x, y, n_common, score FROM (
              SELECT ag.x, ag.y, ag.n_common, ag.score,
                     row_number() OVER (PARTITION BY ag.x
                                        ORDER BY ag.score DESC, ag.y ASC)
                       AS rn
              FROM ag LEFT JOIN e ON ag.x = e.a AND ag.y = e.b
              WHERE e.a IS NULL)
            WHERE rn <= 5
        """,
        "ds_prepare_training_set": """
            WITH src AS (SELECT doc_id, source,
                CASE WHEN doc_id % 5 = 0
                     THEN text || ' contact: user' || doc_id ||
                          '@example.com ip 10.0.' || (doc_id % 250) ||
                          '.7 card 4111-1111-1111-1111 ssn 123-45-6789' ||
                          ' tel +1 (555) 123-4567'
                     ELSE text END AS text
              FROM documents),
            lt AS (SELECT doc_id,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS ltoks
              FROM src),
            ls AS (SELECT doc_id,
              len(list_filter(ltoks, x -> list_contains(
                ['the','and','of','to','is','was','with'], x))) AS s_en,
              len(list_filter(ltoks, x -> list_contains(
                ['der','die','und','das','ist','mit','von'], x))) AS s_de,
              len(list_filter(ltoks, x -> list_contains(
                ['le','la','et','les','des','est','avec'], x))) AS s_fr,
              len(list_filter(ltoks, x -> list_contains(
                ['el','la','los','las','es','con','por'], x))) AS s_es
              FROM lt),
            lang AS (SELECT doc_id,
              CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
                   WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                   WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                   WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                   ELSE 'es' END AS lang_pred
              FROM ls),
            rt AS (SELECT doc_id,
                list_filter(str_split(text, chr(10)),
                            x -> len(trim(x)) > 0) AS lines,
                list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            x -> len(x) > 0) AS toks
              FROM src),
            g AS (SELECT doc_id,
                CASE WHEN len(toks) >= 2
                     THEN list_transform(range(len(toks) - 1),
                          i -> toks[i+1] || ' ' || toks[i+2])
                     ELSE []::VARCHAR[] END AS grams
              FROM rt),
            m AS (SELECT doc_id, max(c) AS mode_cnt FROM (
                SELECT doc_id, gram, count(*) AS c
                FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
                GROUP BY doc_id, gram)
              GROUP BY doc_id),
            feat AS (SELECT d.doc_id, d.text, lang.lang_pred,
                CASE WHEN length(trim(d.text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(d.text), '\\s+'))
                END AS n_tokens,
                CASE WHEN len(rt.lines) > 0
                     THEN round((len(rt.lines) - len(list_distinct(rt.lines)))
                                / len(rt.lines)::DOUBLE, 6) ELSE 0.0 END
                  AS dup_line_frac,
                CASE WHEN len(g.grams) > 0
                     THEN round(m.mode_cnt / len(g.grams)::DOUBLE, 6)
                     ELSE 0.0 END AS top_bigram_frac
              FROM src d
              JOIN lang USING (doc_id) JOIN rt USING (doc_id)
              JOIN g USING (doc_id) LEFT JOIN m USING (doc_id)),
            f AS (SELECT * FROM feat
                  WHERE lang_pred = 'en' AND n_tokens >= 15
                    AND dup_line_frac <= 0.3 AND top_bigram_frac <= 0.12),
            keep AS (SELECT * FROM (
                SELECT f.*, min(doc_id) OVER (PARTITION BY md5(text)) AS k
                FROM f) WHERE doc_id = k),
            jt AS (SELECT doc_id,
                list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))
                AS toks FROM src),
            p AS (SELECT a.doc_id AS a
                  FROM jt a JOIN jt b ON a.doc_id + 1 = b.doc_id
                  WHERE round(len(list_intersect(a.toks, b.toks))::DOUBLE
                              / len(list_distinct(a.toks || b.toks)), 6)
                        >= 0.8),
            i AS (SELECT a, a - row_number() OVER (ORDER BY a) AS grp FROM p),
            isl AS (SELECT min(a) AS lo, max(a) AS hi FROM i GROUP BY grp),
            members AS (SELECT unnest(range(lo, hi + 2)) AS id, lo AS comp
                        FROM isl),
            sm AS (SELECT m.id, m.comp FROM members m
                   JOIN keep k ON k.doc_id = m.id),
            nk AS (SELECT comp, min(id) AS nd_keep FROM sm GROUP BY comp),
            drops AS (SELECT sm.id FROM sm JOIN nk USING (comp)
                      WHERE sm.id != nk.nd_keep),
            final AS (SELECT k.doc_id, s.source, k.text
                      FROM keep k JOIN src s USING (doc_id)
                      WHERE k.doc_id NOT IN (SELECT id FROM drops)),
            msk AS (SELECT doc_id, source,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(text,
                          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                          '<PII:email>', 'g'),
                        '\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b',
                        '<PII:cc>', 'g'),
                      '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<PII:ssn>', 'g'),
                    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                    '<PII:ipv4>', 'g'),
                  '\\+?\\b\\d{1,2}[- ]\\(?\\d{3}\\)?[- ]\\d{3}[- ]\\d{4}\\b',
                  '<PII:phone>', 'g') AS masked
              FROM final),
            mk AS (SELECT doc_id, source,
                len(regexp_extract_all(masked, '<PII:[a-z0-9]+>'))::BIGINT
                  AS n_pii,
                len(list_filter(regexp_split_to_array(trim(masked), '\\s+'),
                                x -> len(x) > 0))::BIGINT AS n_tokens
              FROM msk),
            sp AS (SELECT *,
                CASE WHEN ('0x' || substr(md5('split-v1' || '|'
                        || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
                        % 1000000 < 900000 THEN 'train'
                     WHEN ('0x' || substr(md5('split-v1' || '|'
                        || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
                        % 1000000 < 950000 THEN 'val'
                     ELSE 'test' END AS split
              FROM mk),
            pk AS (SELECT *,
                (sum(n_tokens) OVER (PARTITION BY source, split
                     ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens)::BIGINT AS token_offset
              FROM sp)
            SELECT doc_id, source, split, n_pii, n_tokens, token_offset,
                   (token_offset // 400)::BIGINT AS shard_id
            FROM pk
        """,
        "txt_collocations": """
            WITH t AS (SELECT list_filter(
                    regexp_split_to_array(trim(lower(text)), '\\s+'),
                    x -> len(x) > 0) AS toks
                FROM documents),
            grams AS (SELECT unnest(list_transform(range(len(toks) - 1),
                          i -> struct_pack(w1 := toks[i+1],
                                           w2 := toks[i+2]))) AS g
                      FROM t WHERE len(toks) >= 2),
            bi AS (SELECT g.w1 AS w1, g.w2 AS w2, count(*)::BIGINT
                     AS n_pair
                   FROM grams GROUP BY g.w1, g.w2),
            uni AS (SELECT unnest(toks) AS w FROM t),
            uc AS (SELECT w, count(*)::DOUBLE AS c FROM uni GROUP BY w),
            n1 AS (SELECT sum(c) AS n1 FROM uc),
            n2 AS (SELECT count(*)::DOUBLE AS n2 FROM grams),
            scored AS (SELECT bi.w1, bi.w2, bi.n_pair,
                round(ln((bi.n_pair / n2.n2)
                      / ((u1.c / n1.n1) * (u2.c / n1.n1))), 6) AS pmi
              FROM bi
              JOIN uc u1 ON bi.w1 = u1.w
              JOIN uc u2 ON bi.w2 = u2.w
              CROSS JOIN n1 CROSS JOIN n2
              WHERE bi.n_pair >= 5),
            ranked AS (SELECT *, row_number() OVER (
                    ORDER BY pmi DESC, w1, w2) AS rank
                FROM scored)
            SELECT rank::BIGINT AS rank, w1, w2, n_pair, pmi
            FROM ranked WHERE rank <= 40
        """,
        "ev_retention_cohorts": """
            WITH activity AS (SELECT DISTINCT user_id AS u,
                    date_trunc('week', ts)::DATE AS w
                FROM events),
            first AS (SELECT u, min(w) AS cw FROM activity GROUP BY u)
            SELECT strftime(f.cw, '%Y-%m-%d') AS cohort_week,
                   (datediff('day', f.cw, a.w) / 7)::BIGINT AS week_offset,
                   count(*)::BIGINT AS n_active_users
            FROM activity a JOIN first f ON a.u = f.u
            GROUP BY f.cw, (datediff('day', f.cw, a.w) / 7)::BIGINT
        """,
        # streaming per-user funnel transitions: the same first-touch CTE
        # chain, emitting each user's per-step earliest-qualifying time
        # (the stream is fed in event-time order, so transitions match
        # the batch semantics exactly)
        "str_funnel_counts": """
            WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t
                        FROM events WHERE event_type = 'view'
                        GROUP BY user_id),
            s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
                   FROM events e JOIN s1 ON e.user_id = s1.user_id
                   WHERE e.event_type = 'click'
                     AND epoch_us(e.ts) > s1.t
                     AND epoch_us(e.ts) - s1.t <= 7200000000
                   GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
                   FROM events e JOIN s2 ON e.user_id = s2.user_id
                   WHERE e.event_type = 'purchase'
                     AND epoch_us(e.ts) > s2.t
                     AND epoch_us(e.ts) - s2.t <= 7200000000
                   GROUP BY e.user_id)
            SELECT user_id, 1::BIGINT AS step, 'view' AS step_name,
                   t AS step_ts_us FROM s1
            UNION ALL
            SELECT user_id, 2::BIGINT, 'click', t FROM s2
            UNION ALL
            SELECT user_id, 3::BIGINT, 'purchase', t FROM s3
        """,
        "ev_funnel_counts": """
            WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t
                        FROM events WHERE event_type = 'view'
                        GROUP BY user_id),
            s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
                   FROM events e JOIN s1 ON e.user_id = s1.user_id
                   WHERE e.event_type = 'click'
                     AND epoch_us(e.ts) > s1.t
                     AND epoch_us(e.ts) - s1.t <= 7200000000
                   GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
                   FROM events e JOIN s2 ON e.user_id = s2.user_id
                   WHERE e.event_type = 'purchase'
                     AND epoch_us(e.ts) > s2.t
                     AND epoch_us(e.ts) - s2.t <= 7200000000
                   GROUP BY e.user_id)
            SELECT 1::BIGINT AS step, 'view' AS step_name,
                   count(*)::BIGINT AS n_users FROM s1
            UNION ALL
            SELECT 2::BIGINT, 'click', count(*)::BIGINT FROM s2
            UNION ALL
            SELECT 3::BIGINT, 'purchase', count(*)::BIGINT FROM s3
        """,
        "ds_corpus_diff": """
            WITH old AS (SELECT doc_id AS id, md5(text) AS old_hash
                         FROM documents),
            newer AS (
                SELECT doc_id AS id,
                       md5(CASE WHEN doc_id % 5 = 0
                                THEN text || ' v2-extra-token'
                                ELSE text END) AS new_hash
                FROM documents WHERE doc_id % 7 != 0
                UNION ALL
                SELECT 900000 + i AS id,
                       md5('fresh doc ' || CAST(i AS VARCHAR)) AS new_hash
                FROM (SELECT unnest(range(0, 20)) AS i))
            SELECT coalesce(o.id, n.id) AS id,
                   CASE WHEN o.id IS NULL THEN 'added'
                        WHEN n.id IS NULL THEN 'removed'
                        WHEN o.old_hash != n.new_hash THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   o.old_hash, n.new_hash
            FROM old o FULL OUTER JOIN newer n ON o.id = n.id
        """,
        "ev_sessionize": """
            WITH s AS (SELECT event_id, user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                        > 1800000000
                     THEN 1 ELSE 0 END AS nw
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            x AS (SELECT *, (sum(nw) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - 1)::BIGINT AS session_idx
                  FROM s)
            SELECT event_id, user_id, session_idx,
                   user_id::VARCHAR || '#' || session_idx::VARCHAR
                     AS session_id
            FROM x
        """,
        "ev_session_stats": """
            WITH s AS (SELECT event_id, user_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                        > 1800000000
                     THEN 1 ELSE 0 END AS nw
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            x AS (SELECT *, (sum(nw) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - 1)::BIGINT AS session_idx
                  FROM s)
            SELECT user_id, session_idx,
                   user_id::VARCHAR || '#' || session_idx::VARCHAR
                     AS session_id,
                   min(ts) AS session_start, max(ts) AS session_end,
                   count(*)::BIGINT AS n_events,
                   (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT
                     AS duration_us,
                   round(sum(value), 6) AS sum_value
            FROM x GROUP BY user_id, session_idx
        """,
        "ev_asof_join": """
            WITH p AS (SELECT event_id AS pid, user_id, ts
                       FROM events WHERE event_type = 'purchase'),
            c AS (SELECT user_id, ts, event_id AS click_eid,
                         value AS click_value
                  FROM events WHERE event_type = 'click'
                  QUALIFY row_number() OVER (
                      PARTITION BY user_id, ts
                      ORDER BY event_id DESC, value DESC) = 1)
            SELECT p.pid, p.user_id,
                   coalesce(c.click_eid, -1)::BIGINT AS click_eid,
                   coalesce(round(c.click_value, 2), -1.0) AS click_value,
                   coalesce(epoch_us(p.ts) - epoch_us(c.ts), -1)::BIGINT
                     AS gap_us
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        # the streaming twin must equal the batch as-of exactly when
        # batches arrive in event-time order (they do: two time-split
        # files with forced mtimes) — same oracle text
        "str_asof_enrich": """
            WITH p AS (SELECT event_id AS pid, user_id, ts
                       FROM events WHERE event_type = 'purchase'),
            c AS (SELECT user_id, ts, event_id AS click_eid,
                         value AS click_value
                  FROM events WHERE event_type = 'click'
                  QUALIFY row_number() OVER (
                      PARTITION BY user_id, ts
                      ORDER BY event_id DESC, value DESC) = 1)
            SELECT p.pid, p.user_id,
                   coalesce(c.click_eid, -1)::BIGINT AS click_eid,
                   coalesce(round(c.click_value, 2), -1.0) AS click_value,
                   coalesce(epoch_us(p.ts) - epoch_us(c.ts), -1)::BIGINT
                     AS gap_us
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "ev_range_join": """
            WITH i AS (SELECT event_id AS iid, ts AS s,
                              ts + INTERVAL 600 SECOND AS e
                       FROM events WHERE event_type = 'error')
            SELECT iid, count(*)::BIGINT AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM i JOIN events ev ON ev.ts >= i.s AND ev.ts <= i.e
            GROUP BY iid
        """,
        "kg_bgp_match": """
            WITH triples AS (
              SELECT DISTINCT 'S' || l_suppkey::VARCHAR AS subj,
                     'supplies' AS pred,
                     'P' || l_partkey::VARCHAR AS obj FROM lineitem
              UNION ALL
              SELECT 'P' || p_partkey::VARCHAR, 'has_brand', p_brand
              FROM part
              UNION ALL
              SELECT 'S' || s_suppkey::VARCHAR, 'in_nation',
                     'N' || s_nationkey::VARCHAR FROM supplier
            )
            SELECT t1.subj AS s, t1.obj AS p, t3.obj AS n
            FROM triples t1
            JOIN triples t2 ON t2.pred = 'has_brand'
                           AND t2.subj = t1.obj AND t2.obj = 'Brand#13'
            JOIN triples t3 ON t3.pred = 'in_nation'
                           AND t3.subj = t1.subj
            WHERE t1.pred = 'supplies'
        """,
        "str_session_stats": """
            WITH s AS (SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                        > 1800000000
                     THEN 1 ELSE 0 END AS nw
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            x AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sess
                  FROM s),
            agg AS (SELECT user_id,
                       min(ts) AS session_start, max(ts) AS session_end,
                       count(*)::BIGINT AS n_events,
                       (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT
                         AS duration_us,
                       round(sum(value), 6) AS sum_value
                    FROM x GROUP BY user_id, sess),
            wm AS (SELECT max(ts) AS hi FROM events)
            -- append mode emits a session once the watermark passes its
            -- close (last event + 30 min gap); final watermark is
            -- max(ts) - 2 h
            SELECT a.user_id, a.session_start, a.session_end, a.n_events,
                   a.duration_us, a.sum_value
            FROM agg a CROSS JOIN wm
            WHERE a.session_end + INTERVAL 30 MINUTE
                  <= wm.hi - INTERVAL 2 HOUR
        """,
        # Every remaining gate is VALUES-oracled below (merged from
        # fixtures/values_oracles.json): the hash-family gates
        # (dd_minhash/dd_simhash/dd_embedding_pairs, ann_lsh_topk), the
        # seeded-RNG gates (mm_*, g7_pic, lp_bpr_metrics), and since
        # round 4 the non-SQL ops (kg_extract_triples, the two StringSim
        # forms). All generated + independently verified by
        # scripts/gen_values_oracles (brute-force Jaccard, NumPy
        # re-derivations, sha256 lineage, blocking/bounds invariants);
        # zero rows-only entries remain.
        **_values_oracles(),
    }


def _values_oracles() -> dict[str, str]:
    """Precomputed VALUES-table oracles for the seeded-RNG gates
    (mm_image/audio/video_stats, g7_pic, lp_bpr_metrics): their inputs are
    deterministic given their seeds, so the expected rows are generated
    once by scripts/gen_values_oracles.py and checked in as a fixture."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "fixtures",
        "values_oracles.json",
    )
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)
