"""Dedup + similarity-search operator tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nous_spark.operators.ann import brute_force_topk, ivf_topk, lsh_topk
from nous_spark.operators.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base),                                      # exact dup of 1
        (3, base.replace("lazy", "sleepy")),            # near dup of 1
        (4, "completely different text about spark dataframes and shuffles here"),
        (5, "another unrelated document discussing query optimizers and joins"),
        (6, base + " extra trailing words appended"),   # near dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(docs):
    out = {r.keeper_id: r.n_dups for r in exact_duplicates(docs).collect()}
    assert out[1] == 2  # docs 1 and 2 collapse
    assert sum(out.values()) == 6


def test_minhash_near_duplicates(docs):
    pairs = {(r.a, r.b): r.jaccard
             for r in minhash_near_duplicates(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs or (1, 6) in pairs
    assert not any({a, b} == {4, 5} for a, b in pairs)


def test_ngram_jaccard_pairs(docs):
    pairs = {(r.a, r.b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert not any({a, b} == {4, 5} for a, b in pairs)


def test_simhash_near_duplicates(docs):
    # short docs flip more bits per edit → 8 bands (8-bit chunks) guarantee
    # recall for hamming ≤ 7 and catch these hamming-8 pairs empirically
    pairs = {(r.a, r.b): r.hamming
             for r in simhash_near_duplicates(docs, max_hamming=10,
                                              bands=8).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 10
    assert not any({a, b} == {4, 5} for a, b in pairs)


def test_brute_force_topk_self(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(emb, q, k=5).orderBy("rank").collect()
    assert top[0].vec_id == 0 and abs(top[0].cosine - 1.0) < 1e-6
    assert len(top) == 5
    cos = [r.cosine for r in top]
    assert cos == sorted(cos, reverse=True)


def test_lsh_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # testdata embeddings are near-random (top-10 cosine reaches ~0.25 —
    # the hardest case for SRP-LSH); short codes + many tables keep recall
    exact = brute_force_topk(emb, q, k=10)
    approx = lsh_topk(emb, q, dim=64, k=10, n_bits=4, n_tables=16)
    ex = {(r.query_id, r.vec_id) for r in exact.collect()}
    ap = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.7, f"LSH recall too low: {recall}"
    # self-match always found (same bucket trivially)
    assert all((i, i) in ap for i in range(3))


def test_ivf_topk_runs(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, q, dim=64, k=5, n_cells=8, n_probe=4).collect()
    assert len(out) == 5
    assert out[0].vec_id == 7 or any(r.vec_id == 7 for r in out)


def test_ivf_kmeans_refine_recall(spark, sf_dir):
    """On clustered data, k-means-refined IVF must reach high recall vs
    brute force (random centroids can split true clusters); the training
    must be deterministic."""
    import numpy as np

    rng = np.random.default_rng(0)
    centers = rng.normal(0, 1, (4, 16))
    rows = []
    for i in range(400):
        c = centers[i % 4]
        v = c + rng.normal(0, 0.1, 16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, q, k=10).collect()
    }
    got = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, q, dim=16, k=10, n_cells=4, n_probe=1,
                          kmeans_iter=5).collect()
    }
    assert len(got & truth) / len(truth) >= 0.9
    # determinism of the trainer
    from nous_spark.operators.ann import ivf_train_centroids

    c1 = ivf_train_centroids(emb, 16, n_cells=4, kmeans_iter=3)
    c2 = ivf_train_centroids(emb, 16, n_cells=4, kmeans_iter=3)
    assert c1 == c2


def test_ivf_index_roundtrip_matches_direct(spark, sf_dir, tmp_path):
    """Build-once/save/load/query must return exactly what the one-shot
    ivf_topk returns for the same parameters, and the saved layout is
    partitioned by cell (file-level pruning for probes)."""
    import os

    from nous_spark.operators.ann import (
        ivf_build_index,
        ivf_load_index,
        ivf_query,
        ivf_save_index,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    q = emb.filter("vec_id < 3").selectExpr(
        "vec_id as query_id", "embedding"
    )
    direct = {
        (r.query_id, r.vec_id): (r.cosine, r.rank)
        for r in ivf_topk(emb, q, dim=dim, k=5, n_cells=8, n_probe=3,
                          seed=7, kmeans_iter=3).collect()
    }
    cents, assigned = ivf_build_index(emb, dim, n_cells=8, kmeans_iter=3,
                                      seed=7)
    path = str(tmp_path / "ivf")
    ivf_save_index(cents, assigned, path)
    cents2, assigned2 = ivf_load_index(spark, path)
    assert cents2 == cents
    got = {
        (r.query_id, r.vec_id): (r.cosine, r.rank)
        for r in ivf_query(cents2, assigned2, q, k=5, n_probe=3).collect()
    }
    assert got == direct
    cells = [d for d in os.listdir(f"{path}/vectors") if d.startswith("cell=")]
    assert len(cells) > 1


def test_near_duplicate_clusters_transitive_keep(spark):
    """a~b, b~c collapse into one cluster kept by min id; disjoint pair
    keeps its own keeper; left_anti drop flow leaves one doc per
    cluster."""
    from nous_spark.operators.dedup import near_duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["a", "b"]
    )
    m = {r.id: r.keeper_id for r in near_duplicate_clusters(pairs).collect()}
    assert m == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [1, 2, 3, 10, 11, 99]], ["doc_id", "text"]
    )
    drops = near_duplicate_clusters(pairs).filter("id != keeper_id")
    clean = docs.join(drops, docs.doc_id == drops.id, "left_anti")
    assert sorted(r.doc_id for r in clean.collect()) == [1, 10, 99]


def test_contamination_check(spark):
    """A training doc embedding an eval item verbatim is flagged; docs
    sharing only short/common phrasing are not (13-gram granularity)."""
    from nous_spark.operators.dedup import contamination_check

    eval_q = ("what is the capital of france and which river runs "
              "through it on the way to the sea tonight")
    docs = spark.createDataFrame(
        [
            (1, "intro text " + eval_q + " outro text"),        # verbatim
            (2, "what is the capital of germany, a question " +
                "with entirely different words and structure here " +
                "that goes on for quite a while longer than that"),
            (3, "totally unrelated document about spark shuffles " +
                "partitions and adaptive query execution at scale"),
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(100, eval_q)], ["eval_id", "text"])
    hits = contamination_check(docs, ev, n=13).collect()
    assert {(r.doc_id, r.eval_id) for r in hits} == {(1, 100)}
    assert all(r.n_collisions >= 1 for r in hits)
    # quarantine flow
    bad = contamination_check(docs, ev).select("doc_id").distinct()
    clean = docs.join(bad, "doc_id", "left_anti")
    assert sorted(r.doc_id for r in clean.collect()) == [2, 3]


def test_duplicate_spans_planted_recall_and_strip(spark):
    """Every planted boilerplate occurrence is recovered as a span with
    exact token coordinates."""
    from nous_spark.operators.dedup import duplicate_spans

    boiler = " ".join(f"b{i}" for i in range(15))      # 15-token block
    filler = lambda did: " ".join(f"u{did}_{i}" for i in range(10))
    rows = [
        (0, boiler + " " + filler(0)),                 # span at [0, 14]
        (1, filler(1) + " " + boiler),                 # span at [10, 24]
        (2, filler(2)),                                # no span
        (3, filler(3) + " " + boiler + " " + filler(30)),  # span mid-doc
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sp = duplicate_spans(docs, k=13)
    got = {(r.doc_id, r.span_start, r.span_end) for r in sp.collect()}
    assert got == {(0, 0, 14), (1, 10, 24), (3, 10, 24)}, got
    assert all(r.span_text == boiler for r in sp.collect())


def test_duplicate_spans_short_docs_and_min_docs(spark):
    """Docs shorter than k emit no shingles (and no crash); min_docs=3
    requires the span in three distinct docs."""
    from nous_spark.operators.dedup import duplicate_spans

    boiler = " ".join(f"b{i}" for i in range(13))
    rows = [(0, "tiny"), (1, boiler), (2, boiler), (3, "x " + boiler)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    assert duplicate_spans(docs, k=13, min_docs=4).count() == 0
    got3 = duplicate_spans(docs, k=13, min_docs=3)
    assert {r.doc_id for r in got3.collect()} == {1, 2, 3}


def test_near_dup_clusters_driver_path_parity(spark, distributed):
    """The capped driver path must agree exactly with the distributed
    star/star components on the same pairs — including an empty pair
    set, which gives the same typed empty result on both paths."""
    import random

    from nous_spark.operators.dedup import near_duplicate_clusters

    rng = random.Random(3)
    pairs = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, ["a", "b"])
    empty = spark.createDataFrame([], "a bigint, b bigint")
    fast = {(r.id, r.keeper_id)
            for r in near_duplicate_clusters(df).collect()}
    fast_empty = near_duplicate_clusters(empty)
    with distributed():
        dist = {(r.id, r.keeper_id)
                for r in near_duplicate_clusters(df).collect()}
        dist_empty = near_duplicate_clusters(empty)
    assert fast == dist
    assert fast_empty.collect() == dist_empty.collect() == []
    assert fast_empty.dtypes == dist_empty.dtypes == [
        ("id", "bigint"), ("keeper_id", "bigint")]
    # keeper is the component minimum
    comp = {}
    for i, k in fast:
        comp.setdefault(k, set()).add(i)
    for k, members in comp.items():
        assert k == min(members)


def test_lsh_signatures_null_embeddings(spark):
    """A null embedding must not fail the batch (np.stack over a series
    containing None raises) — null rows are filtered, both impls agree."""
    import random

    from nous_spark.operators.ann import lsh_signatures

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(6)]
    rows.append((6, None))
    rows.append((7, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got_p = lsh_signatures(df, dim=8, n_bits=4, n_tables=2,
                           impl="pandas").collect()
    got_e = lsh_signatures(df, dim=8, n_bits=4, n_tables=2,
                           impl="expr").collect()
    ids = {r.vec_id for r in got_p}
    assert ids == set(range(6))  # null rows dropped, not bucketed
    key = lambda r: (r.vec_id, r.table)
    assert sorted(((r.vec_id, r.table, r.bucket) for r in got_p)) == \
        sorted(((r.vec_id, r.table, r.bucket) for r in got_e))


def test_lsh_signatures_all_null_partition(spark):
    """A partition whose every row is filtered hands the UDF an empty
    Arrow batch — must return empty, not raise."""
    from nous_spark.operators.ann import lsh_signatures

    df = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<double>"
    ).repartition(4)
    assert lsh_signatures(df, dim=8, n_bits=4, n_tables=2,
                          impl="pandas").count() == 0


def test_cross_source_duplication(spark):
    """Pair counts are DISTINCT shared contents: copies within a source
    don't inflate, three-way sharing yields all three pairs."""
    from nous_spark.operators.dedup import cross_source_duplication

    rows = [
        (1, "web", "shared one"), (2, "feed", "shared one"),
        (3, "feed", "shared one"),            # dup copy, same source
        (4, "web", "shared two"), (5, "feed", "shared two"),
        (6, "ref", "shared two"),             # three-way
        (7, "web", "only web"), (8, "ref", "only ref"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {(r.source_a, r.source_b): r.n_shared_contents
           for r in cross_source_duplication(df).collect()}
    assert got == {
        ("feed", "web"): 2,
        ("feed", "ref"): 1,
        ("ref", "web"): 1,
    }


def test_boilerplate_ngrams_census(spark):
    """The planted footer is the top repeated span; rank order is
    (n_docs desc, hash) and gram_text is the exemplar 13-gram."""
    from nous_spark.operators.dedup import boilerplate_ngrams

    footer = "c o p y r i g h t f o o t e r"          # 13 tokens
    navbar = "h o m e a b o u t n a v x"              # 13 tokens
    rows = [(i, f"doc {i} body text then {footer}") for i in range(6)]
    rows += [(10 + i, f"other {i} stuff {navbar}") for i in range(3)]
    rows.append((99, "unique text with no repeats at all here today"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = boilerplate_ngrams(df, k=13, min_docs=2, top=10).collect()
    assert out[0].rank == 1
    assert out[0].n_docs == 6
    # shared suffix is "body text then <footer>" (3 + 15 = 18 tokens)
    # -> exactly 6 overlapping 13-grams at count 6; navbar's shared
    # suffix is "stuff <navbar>" (14 tokens) -> 2 grams at count 3
    n_docs_seq = [r.n_docs for r in out]
    assert n_docs_seq == [6, 6, 6, 6, 6, 6, 3, 3]
    assert all("r i g h t" in r.gram_text
               for r in out if r.n_docs == 6)
    assert all("a b o u t" in r.gram_text for r in out if r.n_docs == 3)


def test_minhash_index_incremental_equals_batch(spark, tmp_path):
    """dedup_against_index must return EXACTLY the cross pairs the batch
    pipeline finds on the union corpus (same banding, same verification),
    and update_minhash_index must fold a batch into the corpus side."""
    from nous_spark.operators.dedup import (
        build_minhash_index,
        dedup_against_index,
        minhash_near_duplicates,
        update_minhash_index,
    )

    base = ("the quick brown fox jumps over the lazy dog near the river "
            "bank today while the sun sets slowly behind distant hills")
    old = [(1, base), (2, "totally different content about query engines"),
           (3, base.replace("lazy", "sleepy"))]
    new = [(101, base),                           # near-dups 1 and 3
           (102, "fresh unrelated text about arrow batches and pandas"),
           (103, base + " with a small tail appended")]
    old_df = spark.createDataFrame(old, ["doc_id", "text"])
    new_df = spark.createDataFrame(new, ["doc_id", "text"])

    path = str(tmp_path / "mhidx")
    build_minhash_index(old_df, path)
    got = {(r.new_id, r.index_id, r.jaccard)
           for r in dedup_against_index(new_df, path, threshold=0.5)
           .collect()}

    union = old_df.unionByName(new_df)
    batch = {(max(r.a, r.b), min(r.a, r.b), r.jaccard)
             for r in minhash_near_duplicates(union, threshold=0.5).collect()
             if (r.a > 100) != (r.b > 100)}
    assert got == batch and (101, 1, 1.0) in got

    # fold the new batch in; a third batch now matches members of BOTH
    update_minhash_index(new_df, path)
    third = spark.createDataFrame([(201, base)], ["doc_id", "text"])
    got2 = {(r.new_id, r.index_id) for r in
            dedup_against_index(third, path, threshold=0.5).collect()}
    assert (201, 1) in got2 and (201, 101) in got2


def test_declared_minhash_meta_schema_matches_written_meta(
        spark, tmp_path):
    from pyspark.sql.types import StructType

    from nous_spark.operators.dedup import _META_SCHEMA, build_minhash_index

    path = str(tmp_path / "idx")
    build_minhash_index(
        spark.createDataFrame([(1, "alpha beta gamma delta")],
                              ["doc_id", "text"]),
        path, n=2, num_hashes=16, bands=4)
    inferred = spark.read.parquet(f"{path}/meta").schema
    assert StructType.fromDDL(_META_SCHEMA) == inferred


def test_minhash_index_meta_pins_params(spark, tmp_path):
    """The querying batch hashes with the INDEX's parameters, not its
    own defaults — meta is read back, so a drifted caller cannot
    silently band differently."""
    from nous_spark.operators.dedup import (
        build_minhash_index,
        dedup_against_index,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"])
    path = str(tmp_path / "idx")
    build_minhash_index(df, path, n=2, num_hashes=16, bands=4)
    m = spark.read.parquet(f"{path}/meta").collect()[0]
    assert (m.n, m.num_hashes, m.bands) == (2, 16, 4)
    out = dedup_against_index(
        spark.createDataFrame(
            [(2, "alpha beta gamma delta epsilon zeta eta theta")],
            ["doc_id", "text"]),
        path, threshold=0.9)
    assert [(r.new_id, r.index_id, r.jaccard) for r in out.collect()] \
        == [(2, 1, 1.0)]


def test_index_partial_probe_prunes_band_partitions(spark, tmp_path):
    """bands_to_probe: a partial probe must (a) emit a subset of the
    full probe's pairs while keeping high-Jaccard recall, and (b) reach
    the banded table's partition column — the band < B predicate shows
    up as a PartitionFilter on the parquet scan, not a post-scan
    filter."""
    from nous_spark.operators.dedup import (
        build_minhash_index,
        dedup_against_index,
    )

    base = ("one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen sixteen seventeen")
    old = [(i, f"{base} tail{i}") for i in range(1, 5)]
    new = [(101, base + " tail1"), (102, "nothing in common here at all")]
    path = str(tmp_path / "idx")
    build_minhash_index(spark.createDataFrame(old, ["doc_id", "text"]),
                        path)
    ndf = spark.createDataFrame(new, ["doc_id", "text"])
    full = {(r.new_id, r.index_id)
            for r in dedup_against_index(ndf, path, threshold=0.5).collect()}
    part_df = dedup_against_index(ndf, path, threshold=0.5,
                                  bands_to_probe=4)
    part = {(r.new_id, r.index_id) for r in part_df.collect()}
    assert part <= full
    assert (101, 1) in part  # identical doc: every band collides
    plan = part_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "band" in plan
    # the pruning predicate must be IN the partition filters, i.e. the
    # scan lists band < 4 alongside the partition column
    import re
    pf = re.search(r"PartitionFilters: \[[^\]]*band[^\]]*4[^\]]*\]", plan)
    assert pf, plan[:2000]


def test_ivf_add_vectors_equals_union_assignment(spark, tmp_path):
    """ivf_add_vectors must land every delta vector in EXACTLY the cell
    a same-centroid assignment of the union would choose (no retrain,
    no drift), and queries over the merged store must recover added
    vectors."""
    from pyspark.sql import functions as F

    from nous_spark.operators.ann import (
        _assign_cells,
        ivf_add_vectors,
        ivf_build_index,
        ivf_load_index,
        ivf_query,
        ivf_save_index,
    )

    base = [(i, [float((i * 7 + j * 3) % 10 + 1) for j in range(6)])
            for i in range(20)]
    delta = [(100 + i, [float((i * 5 + j) % 10 + 1) for j in range(6)])
             for i in range(8)]
    base_df = spark.createDataFrame(
        base, "vec_id long, embedding array<double>")
    delta_df = spark.createDataFrame(
        delta, "vec_id long, embedding array<double>")
    cents, assigned = ivf_build_index(base_df, dim=6, n_cells=4)
    path = str(tmp_path / "ivf")
    ivf_save_index(cents, assigned, path)
    ivf_add_vectors(delta_df, path)
    cents2, assigned2 = ivf_load_index(spark, path)
    assert len(cents2) == len(cents)
    for a, b in zip(cents2, cents):
        assert max(abs(x - y) for x, y in zip(a, b)) < 1e-9
    expect = {(r.vec_id, r.cell) for r in _assign_cells(
        base_df.unionByName(delta_df), cents).collect()}
    got = {(r.vec_id, r.cell)
           for r in assigned2.select("vec_id", "cell").collect()}
    assert got == expect
    q = delta_df.orderBy("vec_id").limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding")
    res = ivf_query(cents2, assigned2, q, k=3, n_probe=2).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.cosine))
    assert set(by_q) == {100, 101}
    for qid, lst in by_q.items():
        lst.sort()
        assert lst[0][1] == qid and abs(lst[0][2] - 1.0) < 1e-6


def test_compact_minhash_index(spark, tmp_path):
    """After several incremental appends, compaction must collapse the
    banded store to one file per band and leave query results
    byte-identical."""
    from nous_spark.operators.dedup import (
        build_minhash_index,
        compact_minhash_index,
        dedup_against_index,
        update_minhash_index,
    )

    base = ("red orange yellow green blue indigo violet crimson teal "
            "amber olive maroon navy coral silver golden bronze pearl")
    path = str(tmp_path / "idx")
    build_minhash_index(
        spark.createDataFrame([(1, base), (2, "unrelated corpus text")],
                              ["doc_id", "text"]), path)
    for k in range(3):  # three deltas -> file accumulation
        update_minhash_index(
            spark.createDataFrame(
                [(10 + k, f"{base} tail{k}")], ["doc_id", "text"]), path)
    probe = spark.createDataFrame([(100, base + " tail0")],
                                  ["doc_id", "text"])
    before = {(r.new_id, r.index_id, r.jaccard) for r in
              dedup_against_index(probe, path, threshold=0.5).collect()}
    stats = compact_minhash_index(spark, path)
    assert stats["banded_files_after"] <= 8 < stats["banded_files_before"]
    assert stats["shingle_files_after"] <= stats["shingle_files_before"]
    after = {(r.new_id, r.index_id, r.jaccard) for r in
             dedup_against_index(probe, path, threshold=0.5).collect()}
    assert after == before and (100, 1) in {(a, b) for a, b, _ in after}


def test_ivf_add_vectors_reports_drift_skew(spark, tmp_path):
    """The returned occupancy stats are the rebuild-on-drift signal:
    a delta that concentrates in ONE cell must move max_cell/cell_skew
    while a balanced add leaves skew near 1."""
    from nous_spark.operators.ann import (
        _assign_cells,
        ivf_add_vectors,
        ivf_save_index,
    )

    # handcrafted centroids (kmeans init is data-dependent; the drift
    # metric, not the trainer, is under test): one axis per cell
    cents = [[100.0 * (c == d) for d in range(4)] + [1.0, 1.0]
             for c in range(4)]
    base = [(c * 10 + i,
             [100.0 * (c == d) + 0.1 * i for d in range(4)] + [1.0, 1.0])
            for c in range(4) for i in range(5)]
    base_df = spark.createDataFrame(
        base, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    ivf_save_index(cents, _assign_cells(base_df, cents), path)
    # drifted delta: 20 vectors all near cluster 0 -> all one cell
    drift = spark.createDataFrame(
        [(1000 + i, [100.0, 0.0, 0.0, 0.0, 1.0, 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>")
    stats = ivf_add_vectors(drift, path)
    assert stats["n_vectors"] == 40 and stats["n_cells"] == 4
    assert stats["max_cell"] == 25          # 5 base + 20 drifted
    assert stats["cell_skew"] == 2.5        # 25 / (40/4)
    assert stats["empty_cells"] == 0
