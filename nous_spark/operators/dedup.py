"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup. Everything shuffles on compact hash keys, never
on document text; candidate generation is always blocked (never all-pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _spread(df: DataFrame, min_parallelism: int | str = "auto") -> DataFrame:
    """Spread a below-parallelism input before expression-heavy per-doc
    work (shingling is ~ms per document): a small parquet input arrives
    as 1-2 scan partitions and would hash single-core (measured: the
    whole minhash chain ran in ONE task at sf0.1 — 4.4 s of a 5 s
    pipeline). A web-scale input already has >= cluster-parallelism scan
    partitions, so this is a no-op there. The checkpoint barrier pins
    the spread — Catalyst pushes projections below a bare round-robin
    exchange (same measured rationale as curation.clean_corpus); the
    trigger condition bounds what is materialized (fewer partitions
    than cores => a few scan splits at most).

    Streaming frames pass through untouched: partitioning there is the
    source's trigger batching.

    The trigger reads ``df.inputFiles()`` (a driver-side file-listing
    off the analyzed plan), NOT an RDD getNumPartitions() probe — that
    forces a full Python-RDD conversion plan per call, the same
    Python-runner machinery whose ~5 s spin-up was measured and excised
    from the index meta write (the "coalesce tax"). File count is the
    right proxy for the case this guard exists for: a small input is
    scanned as ≥ its file count only when files exceed
    maxPartitionBytes, and a file-less frame (createDataFrame /
    in-memory) is by construction driver-resident and small, so both
    sides of the heuristic err toward spreading cheap inputs."""
    if df.isStreaming:
        return df
    if min_parallelism == "auto":
        min_parallelism = df.sparkSession.sparkContext.defaultParallelism
    if min_parallelism and len(df.inputFiles()) < min_parallelism:
        return df.repartition(min_parallelism).localCheckpoint(eager=True)
    return df


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via md5 groupBy: (text_hash, keeper_id, n_dups).
    Keeper = min id. One shuffle on the 128-bit hash, never on text."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
    )


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             n: int = 3) -> DataFrame:
    """Word n-gram shingle set per doc → (id, shingle_hash ARRAY<BIGINT>).

    Grams are built by zipping the token array with its n-1 shifted
    slices (one concat per gram, no per-gram slice allocation) — measured
    3.4× faster than the previous slice+concat_ws-per-index transform at
    sf1 and bit-identical (zip_with pads the tail with nulls, concat_ws
    skips them, so tail grams shorten exactly like the old
    ``slice(toks, i+1, n)``; the final slice keeps the same
    ``max(size-n+1, 1)`` gram count). A measured dead end kept for the
    record: hashing a precomputed token-hash array is 3.5× SLOWER — the
    outer transform() lambda inlines the token-hash expression per gram
    index (Catalyst doesn't CSE across lambda scopes), turning
    O(tokens·n) into O(tokens²)."""
    df = _spread(df)
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col).alias("id"), toks.alias("__toks"))
    t = F.col("__toks")
    sz = F.size(t)
    if n == 1:
        hashed = F.transform(t, lambda a: F.xxhash64(a))
    else:
        acc = t
        for k in range(2, n):
            acc = F.zip_with(acc, F.slice(t, k, sz),
                             lambda a, b: F.concat_ws(" ", a, b))
        hashed = F.zip_with(acc, F.slice(t, n, sz),
                            lambda a, b: F.xxhash64(F.concat_ws(" ", a, b)))
    grams = F.slice(hashed, 1, F.greatest(sz - (n - 1), F.lit(1)))
    return base.select(
        "id",
        F.array_distinct(grams).alias("shingle_hashes"),
    )


def minhash_signatures(
    shingled: DataFrame, num_hashes: int = 32, seed: int = 42
) -> DataFrame:
    """MinHash signature per doc: for k seeded mixes of the shingle hashes,
    take the min — all inside ONE JVM-side aggregate pass, no UDF.

    The permutation family is h_i(x) = xxhash64(x, i, seed) — independent,
    overflow-free under ANSI mode (multiplicative mixing overflows LONG).
    A single ``aggregate`` scan carries all ``num_hashes`` running minima
    in an array accumulator, instead of ``num_hashes`` separate
    transform+array_min scans of the shingle array (32× fewer array
    traversals per row — this was the slowest query at sf0.1)."""
    idx = F.array(*[F.lit(i) for i in range(num_hashes)])
    init = F.array(*[F.lit((1 << 63) - 1).cast("long")] * num_hashes)
    sig = F.aggregate(
        F.col("shingle_hashes"),
        init,
        lambda acc, h: F.zip_with(
            acc, idx, lambda m, i: F.least(m, F.xxhash64(h, i, F.lit(seed)))
        ),
    )
    return shingled.select("id", sig.alias("signature"))


def _banded(signatures: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, band_hash): hash each signature band — the LSH bucket
    key shared by the self-join pipeline and the persisted index."""
    return signatures.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice("signature",
                                        b * rows_per_band + 1,
                                        rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("bh"),
    ).select("id", "bh.band", "bh.band_hash")


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Band the signatures, bucket-join within bands → candidate pairs.
    The join key is (band, band_hash) — skew-safe because identical
    signatures collapse; output deduplicated (a, b) with a < b.

    The banded frame is materialized (localCheckpoint) before the
    self-join: each join side otherwise re-executes the signature
    aggregate (the num_hashes running-minima pass — the expensive half
    of the pipeline) so the one-time cut halves signature work; unlike
    persist(), the checkpoint blocks are released automatically once
    the consumer plan is garbage-collected, so repeated calls in a
    long-lived session don't accumulate storage blocks."""
    banded = _banded(signatures, bands, rows_per_band) \
        .localCheckpoint(eager=True)
    l = banded.alias("l")
    r = banded.alias("r")
    return (
        l.join(r, ["band", "band_hash"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """MinHash+LSH near-dup pipeline: shingle → signature → banded bucket
    join → exact Jaccard verification on candidates only. Returns
    (a, b, jaccard) pairs above threshold.

    ``sh`` feeds three consumers (signatures + both verify sides) —
    materialized once (localCheckpoint) so the shingling scan isn't
    recomputed per consumer. A measured dead end: recomputing shingles
    for candidate docs only (semi-join verify arms, no materialization)
    was SLOWER at both sf0.1 (2.7 vs 2.2 s) and sf1 (7.3 vs 5.9 s) in
    the same tenancy window — once the input is spread, the one-time
    parallel block write is cheaper than the extra semi-join jobs."""
    sh = shingles(df, text_col, id_col, n).localCheckpoint(eager=True)
    sig = minhash_signatures(sh, num_hashes)
    cand = lsh_candidate_pairs(sig, bands, num_hashes // bands)
    sh_a = sh.select(F.col("id").alias("a"), F.col("shingle_hashes").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("b"), F.col("shingle_hashes").alias("sh_b"))
    verified = (
        cand.join(sh_a, "a")
        .join(sh_b, "b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1)).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return verified


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, threshold: float = 0.5, block_grams: int = 2,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup with shingle-prefix blocking: docs
    sharing any of their ``block_grams`` smallest shingle hashes become
    candidates (prefix filtering), then exact Jaccard on survivors.

    The shingle frame feeds the blocking explode and both verify arms —
    materialized once (localCheckpoint; see minhash_near_duplicates for
    the measured dead end of candidate-only recompute)."""
    sh = shingles(df, text_col, id_col, n).localCheckpoint(eager=True)
    blocked = sh.select(
        "id",
        F.explode(F.slice(F.array_sort("shingle_hashes"), 1, block_grams)).alias("blk"),
    )
    l = blocked.alias("l")
    r = blocked.alias("r")
    cand = (
        l.join(r, "blk")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    sh_a = sh.select(F.col("id").alias("a"), F.col("shingle_hashes").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("b"), F.col("shingle_hashes").alias("sh_b"))
    return (
        cand.join(sh_a, "a").join(sh_b, "b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1)).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def srp_candidate_pairs(
    df: DataFrame,
    dim: int,
    n_bits: int | None = None,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    approx_count: int | None = None,
) -> DataFrame:
    """SRP-LSH candidate (a, b) pairs with a < b. ``n_bits=None`` →
    ceil(log2(n)) + 1 (min 8), keeping expected random-pair collisions
    per vector constant as the corpus grows (see
    ``embedding_near_duplicates``).

    Sizing only needs n to within a factor of 2, so when the caller
    already knows the corpus size (catalog row count, previous stage's
    count) pass it as ``approx_count`` and the extra count job is
    skipped; ``df.count()`` runs only when neither ``n_bits`` nor
    ``approx_count`` is given."""
    from nous_spark.operators.ann import lsh_signatures

    if n_bits is None:
        import math

        n = approx_count if approx_count is not None else df.count()
        n_bits = max(8, math.ceil(math.log2(max(n, 2))) + 1)
    # persist: each self-join side would otherwise re-run the
    # n_bits*n_tables hyperplane dot products over every vector
    sig = lsh_signatures(df, dim, n_bits, n_tables, id_col=id_col,
                         vec_col=vec_col).localCheckpoint(eager=True)
    l = sig.alias("l")
    r = sig.alias("r")
    return (
        l.join(r, ["table", "bucket"])
        .filter(F.col("l.vec_id") < F.col("r.vec_id"))
        .select(F.col("l.vec_id").alias("a"), F.col("r.vec_id").alias("b"))
        .dropDuplicates(["a", "b"])
    )


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    threshold: float = 0.95,
    n_bits: int | None = None,
    n_tables: int = 8,
    approx_count: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: SRP-LSH bucketing for candidates
    (high-cosine pairs collide with high probability), exact cosine
    verify. Returns (a, b, cosine) with a < b.

    ``n_bits`` defaults to ceil(log2(n)) + 1 (min 8): at a FIXED bit
    width, random-pair bucket collisions are O(n²/2^bits) — quadratic in
    corpus size, the all-pairs blowup this operator exists to avoid
    (caught by tests/test_scale_probe.py). Scaling bits with log2(n)
    keeps expected candidates per vector constant, i.e. total candidate
    work linear in n; recall for genuinely high-cosine pairs stays high
    because their per-bit agreement probability is close to 1 (raise
    ``n_tables`` if the duplicate threshold is lowered far below 0.95)."""
    from nous_spark.functions.similarity import cosine_col

    cand = srp_candidate_pairs(df, dim, n_bits, n_tables, id_col, vec_col,
                               approx_count=approx_count)
    v = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    va = v.select(F.col(id_col).alias("a"), F.col("v").alias("va"))
    vb = v.select(F.col(id_col).alias("b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "a").join(vb, "b")
        .withColumn("cosine", F.round(cosine_col(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64) -> DataFrame:
    """SimHash per doc: sign-sum of per-token hash bits, JVM-side.
    Emits (id, simhash BIGINT). Near-dups = small hamming distance —
    use ``simhash_near_duplicates`` for banded matching.

    ONE aggregate pass carries all ``bits`` running sign-sums in an array
    accumulator (the per-bit-aggregate form scanned the token array 64
    times per row — same anti-pattern the minhash signatures had)."""
    df = _spread(df)
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # 2^b as signed-long literals (bit 63 wraps to the sign bit) — shift
    # builtins take only literal shift amounts, masks work per-element
    pow2 = [(1 << b) if b < 63 else (1 << b) - (1 << 64) for b in range(bits)]
    masks = F.array(*[F.lit(p).cast("long") for p in pow2])
    init = F.array(*[F.lit(0)] * bits)
    # hash in the aggregate INPUT (one xxhash64 per token) — hashing inside
    # the inner zip_with lambda would recompute it per bit (64×/token)
    sums = F.aggregate(
        F.transform(toks, lambda t: F.xxhash64(t)),
        init,
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, p: a + F.when(
                h.bitwiseAND(p) != 0, F.lit(1)
            ).otherwise(F.lit(-1)),
        ),
    )
    packed = F.aggregate(
        F.zip_with(
            sums, masks,
            lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc.bitwiseXOR(t),
    )
    return df.select(F.col(id_col).alias("id"), packed.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3, bands: int = 4,
) -> DataFrame:
    """Banded SimHash matching: split the 64-bit hash into ``bands`` chunks;
    pairs agreeing on any chunk are candidates (pigeonhole guarantees recall
    for hamming ≤ bands-1), verified by exact popcount."""
    sh = simhash(df, text_col, id_col).localCheckpoint(eager=True)
    width = 64 // bands
    banded = sh.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * width)
                .bitwiseAND(F.lit((1 << width) - 1)).alias("chunk"),
            )
            for b in range(bands)
        ])).alias("bc"),
    ).select("id", "simhash", "bc.band", "bc.chunk")
    l = banded.alias("l")
    r = banded.alias("r")
    pairs = (
        l.join(r, ["band", "chunk"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("a"), F.col("r.id").alias("b"),
            F.col("l.simhash").alias("ha"), F.col("r.simhash").alias("hb"),
        )
        .dropDuplicates(["a", "b"])
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )
    return pairs


def near_duplicate_clusters(pairs: DataFrame, a_col: str = "a",
                            b_col: str = "b") -> DataFrame:
    """Turn near-duplicate PAIRS into a keep/drop decision: transitive
    closure over the pair graph (near-dup is not transitive in general,
    but dedup policy must be — if a~b and b~c, keeping both a and c
    leaves two near-copies of b in the corpus). Connected components;
    keeper = min id per cluster.

    The pair graph is SMALL relative to the corpus by construction
    (every candidate generator is blocked), so ``connected_components``
    usually takes its driver fast path; a pair set above its
    ``DRIVER_EDGE_CAP`` — thresholds far too loose — takes the
    distributed large-star/small-star loop unchanged.

    Returns (id, keeper_id) for every id that appears in a pair; rows
    with id != keeper_id form the drop list. Compose:

        pairs = minhash_near_duplicates(docs, ...)
        drops = near_duplicate_clusters(pairs).filter("id != keeper_id")
        clean = docs.join(drops, docs.doc_id == drops.id, "left_anti")
    """
    from nous_spark.operators.graph import connected_components

    # localCheckpoint, not persist: the pair generator runs once for
    # CC's cap count and collect, and the blocks are released when the
    # returned plan is GC'd
    e = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).localCheckpoint(eager=True)
    comp = connected_components(e)
    return comp.select("id", F.col("component").alias("keeper_id"))


def contamination_check(
    docs: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    eval_id_col: str = "eval_id",
    n: int = 13,
    min_collisions: int = 1,
) -> DataFrame:
    """Train/eval decontamination: find training docs sharing word
    n-grams with any benchmark item (the standard 13-gram collision test
    — a training doc that contains an eval question verbatim shares long
    n-grams with it).

    Plan shape: both sides shingle to 64-bit hashes, the join key IS the
    shingle hash — candidates are generated by collision, never by
    pairing documents, so cost is proportional to actual overlap, not
    |docs|·|eval|. The eval side (benchmarks are small next to a 100 TB
    corpus) is broadcast. Returns (doc_id, eval_id, n_collisions) with
    n_collisions = number of DISTINCT shared n-grams; filter/join the
    result to quarantine contaminated docs:

        bad = contamination_check(docs, eval_df).select("doc_id").distinct()
        clean = docs.join(bad, "doc_id", "left_anti")
    """
    d = shingles(docs, text_col, id_col, n).select(
        F.col("id").alias("doc_id"),
        F.explode("shingle_hashes").alias("gram"),
    )
    e = shingles(eval_set, eval_text_col, eval_id_col, n).select(
        F.col("id").alias("eval_id"),
        F.explode("shingle_hashes").alias("gram"),
    )
    return (
        d.join(F.broadcast(e), "gram")
        .groupBy("doc_id", "eval_id")
        .agg(F.count_distinct("gram").alias("n_collisions"))
        .filter(F.col("n_collisions") >= min_collisions)
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    min_docs: int = 2,
    broadcast_vocab: bool = False,
) -> DataFrame:
    """Exact cross-document repeated-SPAN detection — the
    boilerplate-stripping pass (nav bars, footers, license blocks) that
    document-level dedup cannot see, after Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    ExactSubstr §4), re-expressed as a shingle-run plan instead of a
    suffix array: a maximal run of k-token shingles each of which occurs
    in >= ``min_docs`` distinct documents IS a repeated span of length
    >= k (suffix-array duplicate substrings of length >= k contain the
    same duplicated k-shingles, so runs recover them without any global
    sorted structure).

    Plan shape (no all-pairs, no per-doc-pair work anywhere):
      1. positional k-gram hashes via transform+posexplode: (id, pos, h)
      2. groupBy h, count_distinct(id) >= min_docs — the duplicated
         shingle VOCABULARY, tiny next to the corpus at real dup rates
      3. join the positions back on h. ``broadcast_vocab=True`` forces
         the vocab broadcast (measured 15% faster end-to-end at sf0.1:
         the probe side streams against the hash map with no h-shuffle
         of the full positional stream) — but the duplicated vocabulary
         scales with corpus DUPLICATION, unbounded at web scale, so the
         default leaves the join to AQE, which broadcasts when the
         runtime size statistics say it fits and degrades gracefully
         when they don't; opt in only with a known-bounded corpus
      4. per-doc gaps-and-islands over duplicated positions
         (pos - row_number, partitioned by doc — each task holds only
         one doc's OWN duplicated positions, never a cluster of docs)

    A run [a, b] of shingle starts covers tokens [a, b + k - 1]. Emits
    (doc_id, span_start, span_end, n_span_tokens, span_text) in 0-based
    whitespace-token coordinates. Hash is md5 so the DuckDB oracle runs
    the identical chain; at 100 TB swap ``F.md5`` for ``F.xxhash64``
    (8-byte keys, same plan)."""
    from pyspark.sql.window import Window

    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    base = _spread(df).select(F.col(id_col).alias("id"),
                              toks.alias("__toks"))
    n = F.size("__toks")
    idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )

    def gram_hash(i):
        return F.md5(F.concat_ws(" ", F.slice("__toks", i + 1, k)))

    sh = base.select("id", F.posexplode(F.transform(idx, gram_hash))
                     .alias("pos", "h"))
    dup = (
        sh.groupBy("h")
        .agg(F.count_distinct("id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("h")
    )
    if broadcast_vocab:
        dup = F.broadcast(dup)
    hits = sh.join(dup, "h").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    spans = (
        hits.withColumn("__grp", F.col("pos") - F.row_number().over(w))
        .groupBy("id", "__grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
        )
        .drop("__grp")
        .withColumn(
            "n_span_tokens",
            (F.col("span_end") - F.col("span_start") + 1).cast("long"),
        )
    )
    return spans.join(base, "id").select(
        F.col("id").alias(id_col),
        "span_start",
        "span_end",
        "n_span_tokens",
        F.concat_ws(
            " ",
            F.slice(
                "__toks",
                (F.col("span_start") + 1).cast("int"),
                F.col("n_span_tokens").cast("int"),
            ),
        ).alias("span_text"),
    )


def cross_source_duplication(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Cross-source exact-duplication matrix: for every pair of sources,
    how many distinct contents appear in BOTH — the provenance
    diagnostic behind "is this partner feed just a re-crawl of the web
    dump?". Run before mixture planning: a source pair with high overlap
    double-counts its weight in any token-budget recipe. Purely
    content-hash based — per-doc identity is irrelevant (no id column
    in the signature on purpose).

    Plan: one md5 groupBy to (hash, source-set), then per-hash source
    pairs from the collected DISTINCT source set — bounded by the number
    of sources (tiny), never by doc count; a hash shared by S sources
    contributes S·(S-1)/2 pairs once, regardless of how many copies each
    source holds. One shuffle on the hash, one count aggregate. Emits
    (source_a, source_b, n_shared_contents), source_a < source_b,
    only pairs with overlap.
    """
    hs = (
        df.select(F.md5(F.col(text_col)).alias("__h"),
                  F.col(source_col).alias("__s"))
        .groupBy("__h")
        .agg(F.array_sort(F.collect_set("__s")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    ss = F.col("ss")
    pair_arr = F.flatten(F.transform(
        ss, lambda x, i: F.transform(
            F.slice(ss, i + 2, F.size(ss)),
            lambda y: F.struct(x.alias("source_a"), y.alias("source_b")))))
    return (
        hs.select(F.explode(pair_arr).alias("p"))
        .groupBy("p.source_a", "p.source_b")
        .agg(F.count("*").cast("long").alias("n_shared_contents"))
    )


def boilerplate_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    min_docs: int = 2,
    top: int = 50,
) -> DataFrame:
    """Boilerplate profile: the most widely repeated k-token spans and
    how many documents carry them — the nav-bar/footer/license-block
    census a curation run reads before deciding what duplicate_spans
    should strip. Same positional-k-gram core as duplicate_spans, but
    aggregated to the VOCABULARY side (gram -> distinct-doc count) and
    joined back to one exemplar text via min(id, pos).

    Top-k is orderBy().limit() (TakeOrderedAndProject) + a k-row
    array_sort/posexplode rank — no global window anywhere (same shape
    as collocations). Emits (rank, n_docs, gram_text).
    """
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    base = _spread(df).select(F.col(id_col).alias("id"),
                              toks.alias("__toks"))
    n = F.size("__toks")
    idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )
    sh = base.select(
        "id", "__toks",
        F.posexplode(F.transform(
            idx,
            lambda i: F.md5(F.concat_ws(" ", F.slice("__toks", i + 1, k))),
        )).alias("pos", "h"),
    )
    vocab = (
        sh.groupBy("h")
        .agg(
            F.count_distinct("id").cast("long").alias("n_docs"),
            F.min(F.struct(F.col("id"), F.col("pos"))).alias("ex"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    # recover the exemplar text for the top grams only: semi-join the
    # corpus down to the <=top exemplar docs BEFORE tokenizing again —
    # the whole corpus is never re-tokenized for a 50-row report
    topv = vocab.orderBy(
        F.col("n_docs").desc(), F.col("h")
    ).limit(top).select("h", "n_docs", "ex.id", "ex.pos")
    ex_docs = (
        df.select(F.col(id_col).alias("id"), F.col(text_col))
        .join(F.broadcast(topv.select("id")), "id", "left_semi")
        .select("id", toks.alias("__extoks"))
    )
    withtext = (
        topv.join(ex_docs, "id")
        .select(
            "h", "n_docs",
            F.concat_ws(
                " ", F.slice("__extoks", F.col("pos") + 1, k)
            ).alias("gram_text"),
        )
    )
    packed = withtext.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("n_docs")).alias("o"),
                    F.col("h").alias("h"),
                    F.col("n_docs").alias("n_docs"),
                    F.col("gram_text").alias("gram_text"),
                )
            )
        ).alias("t")
    )
    return (
        packed.select(F.posexplode("t").alias("i", "r"))
        .select(
            (F.col("i") + 1).cast("long").alias("rank"),
            F.col("r.n_docs").alias("n_docs"),
            "r.gram_text",
        )
    )


def build_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    """Persist a MinHash dedup INDEX so future batches dedup against the
    corpus without re-shingling it — at 100 TB the incremental path is
    the only affordable one (a daily 1% delta must not cost a full
    corpus pass). Layout:

    - ``{path}/banded`` — (id, band_hash) partitioned BY BAND and by a
      second ``seg`` level (``seg=base`` for builds/compactions, one seg
      per appended delta). A full probe touches every band (the querying
      batch carries all bands, so nothing prunes); the layout pays off
      through ``dedup_against_index(bands_to_probe=B)``, whose ``band <
      B`` predicate prunes the unprobed bands at the file level (the
      same partition-pruning trade as the IVF index, plan-asserted in
      tests), and by allowing band-sliced compaction/processing. The
      ``seg`` level is what makes incremental folds IDEMPOTENT: a
      writer that knows its segment id (the streaming fold-in keys it
      by batch id) replaces its own segment with dynamic partition
      overwrite instead of blind-appending, so a replayed batch cannot
      duplicate index rows.
    - ``{path}/shingles`` — (id, shingle_hashes) partitioned by the same
      ``seg``, for exact-Jaccard verification of candidates; storage
      trades for recompute, which is the point of an index.
    - ``{path}/meta`` — one row pinning (n, num_hashes, bands) so a
      querying batch cannot silently hash with drifted parameters.

    Plan shape (measured at sf0.1, cold 1.6 s / warm 1.2 s vs 6.0/1.9
    for the no-materialization variant and ~12 s for the original):
    shingles are block-checkpointed ONCE and feed both writes — the
    shingle compute is the expensive pass and must not run twice.
    Write-then-read-back was a measured dead end (the read-back
    coalesces the fresh small files into one scan partition and has to
    be re-spread). The banded output is repartitioned onto its ``band``
    key before the partitionBy write — one file per band instead of
    tasks×bands fragments, which also halves the write. The meta row is
    a JVM literal select: a one-row ``createDataFrame`` frame is
    Python-RDD-backed and its parquet write costs ~5 s of Python worker
    spin-up regardless of size (measured — this was 80% of the build).
    """
    spark = df.sparkSession
    sh = shingles(df, text_col, id_col, n).localCheckpoint(eager=True)
    sh.withColumn("seg", F.lit("base")).write.mode(
        "overwrite").partitionBy("seg").parquet(f"{path}/shingles")
    sig = minhash_signatures(sh, num_hashes)
    _banded(sig, bands, num_hashes // bands).withColumn(
        "seg", F.lit("base")).repartition(bands, "band").write.mode(
        "overwrite").partitionBy("band", "seg").parquet(f"{path}/banded")
    spark.range(1).select(
        F.lit(int(n)).cast("int").alias("n"),
        F.lit(int(num_hashes)).cast("int").alias("num_hashes"),
        F.lit(int(bands)).cast("int").alias("bands"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


_META_SCHEMA = "n INT, num_hashes INT, bands INT"


def _read_meta(spark, path: str):
    return spark.read.schema(_META_SCHEMA).parquet(f"{path}/meta").collect()[0]


def update_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg: str | None = None,
) -> None:
    """Fold a new batch into an existing index (same parameter pinning —
    read from ``{path}/meta``). Caller guarantees ids are new.

    ``seg`` names the delta's segment partition. A caller that supplies
    a STABLE id for the delta (its batch/run id) gets an idempotent
    fold: the write replaces ``seg=<id>`` with dynamic partition
    overwrite, so a retried job updates in place instead of
    duplicating. Default (None) generates a fresh segment, i.e. plain
    append semantics for fire-and-forget callers."""
    import uuid

    spark = df.sparkSession
    m = _read_meta(spark, path)
    seg = seg if seg is not None else f"u{uuid.uuid4().hex[:12]}"
    # same checkpoint-once discipline as build
    sh = shingles(df, text_col, id_col, m.n).localCheckpoint(eager=True)
    sh.withColumn("seg", F.lit(seg)).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic").partitionBy("seg").parquet(
        f"{path}/shingles")
    sig = minhash_signatures(sh, m.num_hashes)
    _banded(sig, m.bands, m.num_hashes // m.bands).withColumn(
        "seg", F.lit(seg)).repartition(m.bands, "band").write.mode(
        "overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "band", "seg").parquet(f"{path}/banded")


def compact_minhash_index(spark, path: str,
                          exclude_segs: tuple[str, ...] = ()) -> dict:
    """Rewrite an incrementally-grown index into its canonical layout:
    every ``update_minhash_index`` / streaming fold-in adds one file per
    band (plus one shingle file) per delta segment, so a month of hourly
    deltas leaves ~720 files per band partition and the probe's scan
    degrades to file-listing overhead. Compaction folds every segment
    into ``seg=base`` — one file per band again — the standard LSM-style
    maintenance trade, run off the query path on whatever cadence the
    delta rate demands.

    Crash-safety: the compacted stores are written to SIBLING temp dirs
    first (the live index stays the lineage source and stays intact if
    the rewrite dies mid-write), then swapped in with a delete+rename.
    Only the swap itself is a non-atomic window; a crash inside it needs
    the temp dir manually renamed back — narrow and inspectable, unlike
    the previous overwrite-in-place (which held the only copy in the
    session's block store mid-rewrite).

    ``exclude_segs`` keeps the named segments OUT of the fold, preserved
    under their own seg partitions — the streaming auto-compaction uses
    it to avoid folding a possibly-torn in-flight batch into ``base``
    (where its replay could no longer replace it).

    Returns {"banded_files_before/after", "shingle_files_before/after"}
    for the caller's compaction log."""
    def files_of(df):
        return df.select(
            F.input_file_name().alias("f")).distinct().count()

    from nous_spark.operators.graph_inc import swap_dir

    banded = spark.read.parquet(f"{path}/banded")
    shingle = spark.read.parquet(f"{path}/shingles")
    nb, ns = files_of(banded), files_of(shingle)
    bands = _read_meta(spark, path).bands
    if exclude_segs:
        seg_out = F.when(F.col("seg").isin(*exclude_segs),
                         F.col("seg")).otherwise(F.lit("base"))
    else:
        seg_out = F.lit("base")
    banded.withColumn("seg", seg_out).repartition(
        bands, "band").write.mode("overwrite").partitionBy(
        "band", "seg").parquet(f"{path}/banded_compact_tmp")
    _spread(shingle.withColumn("seg", seg_out)).write.mode(
        "overwrite").partitionBy("seg").parquet(
        f"{path}/shingles_compact_tmp")
    swap_dir(spark, f"{path}/banded_compact_tmp", f"{path}/banded")
    swap_dir(spark, f"{path}/shingles_compact_tmp", f"{path}/shingles")
    return {
        "banded_files_before": nb,
        "banded_files_after": files_of(
            spark.read.parquet(f"{path}/banded")),
        "shingle_files_before": ns,
        "shingle_files_after": files_of(
            spark.read.parquet(f"{path}/shingles")),
    }


def dedup_against_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    bands_to_probe: int | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an indexed corpus: shingle
    and sign only the batch, band-join against the stored banded table,
    verify candidates with exact Jaccard against the stored shingle
    arrays. Cost scales with the BATCH plus the candidate set — the
    indexed corpus is only touched through the band join and the
    candidate semi-join, never rescanned.

    ``bands_to_probe`` (default: all) probes only the first B bands —
    the recall/cost knob the by-band index layout exists for. A full
    probe reads every band partition (the batch carries all bands, so
    nothing prunes); a partial probe becomes a literal ``band < B``
    filter on BOTH sides, which reaches the banded table's partition
    column and prunes the unprobed bands at the FILE level
    (plan-asserted in tests). Recall at a given true Jaccard j drops
    from 1-(1-j^r)^bands to 1-(1-j^r)^B (r = rows per band) — e.g. at
    the default 8×4 index, j=0.9: 8 bands 0.9996, 4 bands 0.980, at
    half the index scan and half the join.

    Returns (new_id, index_id, jaccard), jaccard >= threshold — a full
    probe emits exactly the cross pairs ``minhash_near_duplicates``
    would on the union corpus with the same parameters (equivalence
    pinned in tests and in the VALUES-oracle verifier).
    """
    spark = df.sparkSession
    m = _read_meta(spark, path)
    sh_new = shingles(df, text_col, id_col, m.n).localCheckpoint(eager=True)
    sig_new = minhash_signatures(sh_new, m.num_hashes)
    banded_new = _banded(sig_new, m.bands, m.num_hashes // m.bands)
    banded_old = spark.read.parquet(f"{path}/banded")
    if bands_to_probe is not None and bands_to_probe < m.bands:
        banded_new = banded_new.filter(F.col("band") < bands_to_probe)
        banded_old = banded_old.filter(F.col("band") < bands_to_probe)
    cand = (
        banded_new.alias("l")
        .join(banded_old.alias("r"), ["band", "band_hash"])
        .select(F.col("l.id").alias("new_id"), F.col("r.id").alias("index_id"))
        .dropDuplicates(["new_id", "index_id"])
    )
    sh_old = spark.read.parquet(f"{path}/shingles")
    return (
        cand
        .join(sh_new.select(F.col("id").alias("new_id"),
                            F.col("shingle_hashes").alias("sh_a")), "new_id")
        .join(sh_old.select(F.col("id").alias("index_id"),
                            F.col("shingle_hashes").alias("sh_b")), "index_id")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.greatest(F.size(F.array_union("sh_a", "sh_b")),
                             F.lit(1)).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "index_id", "jaccard")
    )
