"""Incremental min-image-support maintenance: frequent-pattern mining
over the GROWING graph at delta cost.

The reference's mining loop re-derives pattern supports per batch by
re-reading the accumulated window's instance graph
(Mining/src/main/scala/gov/pnnl/aim/datamodel/DatatoPatternGraph.scala:
1237-1298 computeMinImageSupport over the whole window at :513-588);
operators/mining.py re-expresses those batch semantics. This module is
the service form the 100 TB deployment needs: a persisted support store
where folding a crawl increment costs ∝ the delta (plus the touched
patterns' pred partitions), never a rescan of the corpus — the mining
sibling of the MinHash index (dedup.py:779), the component store
(graph_inc.py:184), and the triple store (triple_store.py).

Pattern universe (pinned in meta at build time):

- every 1-edge pattern ``e:<pred>`` — variables (subj, obj);
- caller-chosen 2-edge path patterns ``p:<p1>|<p2>`` matching
  ``?x -p1-> ?y -p2-> ?z`` — variables (x, y, z).

Min-image support of a pattern = min over variable positions of the
number of DISTINCT graph nodes bound at that position (the standard
overlap-safe support measure the reference uses). The store never
materializes matches; it maintains, per (pattern, position), the set of
distinct bound nodes — bounded by graph nodes, not match counts.

Layout under ``{path}``:

- ``postings`` — (pattern_key, var_pos, node) partitioned by
  ``(bucket, seg)`` with ``bucket = pmod(xxhash64(node), buckets)``.
  Each segment inserts ONLY nodes absent from prior segments for its
  (pattern, position) — so the table is duplicate-free by construction
  and the per-segment insert counts are additive.
- ``counts`` — (pattern_key, var_pos, n_new) per segment. Support
  reads touch ONLY this tiny table (O(#patterns) rows): sum per
  position, min over positions. The postings exist solely to make the
  next delta's novelty anti-join exact.
- ``edges`` — the store's own (subj, pred, obj) multiset partitioned
  by ``(pred, seg)``: the E side of cross-increment 2-edge matches,
  pred-partition-pruned on read.
- ``meta`` — buckets + the pinned pair-pattern list (updates cannot
  silently mine a different universe).

Delta-join maintenance for a 2-edge pattern (p1, p2) on update Δ
against prior edges E: new matches = Δ1⋈E2 ∪ E1⋈Δ2 ∪ Δ1⋈Δ2 on the
shared middle vertex — the three terms are disjoint because E excludes
the update's own segment. The E-side scans are pred-pruned AND
semi-filtered to the delta's middle-vertex set (broadcast), so no
corpus-sized shuffle exists in the update path; the postings novelty
anti-join prunes its store read to the delta nodes' hash buckets at
the file level.

Idempotency: every write is keyed by ``seg=u<update_id>`` with dynamic
partition overwrite and every read excludes the update's own segment —
a torn attempt is replaced byte-for-byte by its replay, the same
contract as the component/triple stores. ``compact_mis_store`` folds
segments into ``seg=base`` via sibling-dir + rename swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_POSTINGS_SCHEMA = ("pattern_key STRING, var_pos INT, node STRING, "
                    "bucket BIGINT, seg STRING")
_COUNTS_SCHEMA = "pattern_key STRING, var_pos INT, n_new BIGINT, seg STRING"
_EDGES_SCHEMA = "subj STRING, obj STRING, pred STRING, seg STRING"


_SHAPES = {"chain": "p", "shared_subj": "l", "shared_obj": "v"}


def _norm_pairs(pair_patterns) -> list[tuple[str, str, str]]:
    """Normalize pair-pattern specs to (p1, p2, shape). A 2-tuple is
    the chain shape; a 3-tuple names one of the three ways two edges
    can share a vertex (the reference's GIP growth joins instances on
    ANY shared data vertex, DatatoPatternGraph.scala:744-879):

    - ``chain``        x -p1-> y -p2-> z   (key ``p:p1|p2``)
    - ``shared_subj``  x <-p1- y -p2-> z   (key ``l:p1|p2``)
    - ``shared_obj``   x -p1-> y <-p2- z   (key ``v:p1|p2``)
    """
    pairs = []
    for spec in (pair_patterns or []):
        if len(spec) == 2:
            a, b = spec
            shape = "chain"
        else:
            a, b, shape = spec
        if shape not in _SHAPES:
            raise ValueError(f"unknown pair shape {shape!r}; "
                             f"one of {sorted(_SHAPES)}")
        a, b = str(a), str(b)
        if "," in a + b or "|" in a + b:
            raise ValueError(
                f"pair predicates may not contain ',' or '|': {(a, b)}")
        pairs.append((a, b, shape))
    return pairs


def _pair_key(p1: str, p2: str, shape: str) -> str:
    return f"{_SHAPES[shape]}:{p1}|{p2}"


def _valid_edges(triples: DataFrame) -> DataFrame:
    """An edge with any NULL component is not an edge (the F1
    line-validity stance): dropped at ingestion so no store table ever
    carries a NULL node or a NULL-bucket partition."""
    return triples.select("subj", "pred", "obj").filter(
        F.col("subj").isNotNull() & F.col("pred").isNotNull()
        & F.col("obj").isNotNull())


def _one_edge_postings(edges: DataFrame) -> DataFrame:
    """(pattern_key e:<pred>, var_pos, node) for every edge pattern."""
    melted = edges.select(
        F.concat(F.lit("e:"), F.col("pred")).alias("pattern_key"),
        F.explode(F.array(
            F.struct(F.lit(0).alias("var_pos"), F.col("subj").alias("node")),
            F.struct(F.lit(1).alias("var_pos"), F.col("obj").alias("node")),
        )).alias("pv"),
    )
    return melted.select(
        "pattern_key", F.col("pv.var_pos").alias("var_pos"),
        F.col("pv.node").alias("node"),
    ).dropDuplicates(["pattern_key", "var_pos", "node"])


def _pair_postings_sets(e1: DataFrame, e2: DataFrame, shape: str,
                        key, symmetric: bool = False) -> DataFrame:
    """Per-position DISTINCT node sets of a two-edge pattern, computed
    with semi-joins — never the match multiset. Equivalent to melting
    ``_pair_matches`` and deduplicating (a node is bound at ?x iff its
    e1 row has ≥1 e2 partner on the shared vertex, symmetrically for
    ?z, and ?y iff the vertex appears on both sides), but cost stays
    O(edges): the matches themselves are Σ deg₁(y)·deg₂(y) — quadratic
    in hub degree, 180M rows for one self-pair at sf1 — and the support
    measure only ever consumes the distinct sets (module docstring)."""
    (s1, o1), (s2, o2) = _SHAPE_COLS[shape]
    # DISTINCT key frames for the semis: the aggregate bounds the right
    # side at the shared-vertex population, so AQE sees a small relation
    # and picks broadcast — a raw edge projection forces a sort-merge
    # semi that shuffles the full million-row left side
    y2 = e2.select(F.col(s2).alias("__y")).distinct()
    y1 = e1.select(F.col(s1).alias("__y")).distinct()
    m1 = e1.join(y2, e1[s1] == F.col("__y"), "left_semi")
    if symmetric and s1 == s2:
        # self-pair on a shared vertex of the SAME role: m2 ≡ m1 and the
        # ?z position set ≡ the ?x set — one semi instead of two
        m2 = m1
    else:
        m2 = e2.join(y1, e2[s2] == F.col("__y"), "left_semi")
    out = (
        m1.select(F.lit(0).alias("var_pos"), F.col(o1).alias("node"))
        .unionByName(
            m1.select(F.lit(1).alias("var_pos"), F.col(s1).alias("node")))
        .unionByName(
            m2.select(F.lit(2).alias("var_pos"), F.col(o2).alias("node")))
    )
    # NOT deduplicated here: the caller unions the delta terms of one
    # pattern and deduplicates the union once
    return out.select(key.alias("pattern_key"), "var_pos", "node")


def _chain3_postings_sets(e1: DataFrame, e2: DataFrame, e3: DataFrame,
                          key) -> DataFrame:
    """Per-position DISTINCT node sets of ?x-p1->?y-p2->?z-p3->?w via
    semi-join chains (see ``_pair_postings_sets`` for why): a middle
    edge participates iff its subj ∈ e1.obj and its obj ∈ e3.subj;
    the end positions then semi-filter against the surviving middles."""
    b_c = e2.join(e3.select(F.col("subj").alias("__k")).distinct(),
                  e2["obj"] == F.col("__k"), "left_semi")
    b_mid = b_c.join(e1.select(F.col("obj").alias("__k")).distinct(),
                     b_c["subj"] == F.col("__k"), "left_semi")
    xs = e1.join(b_c.select(F.col("subj").alias("__k")).distinct(),
                 e1["obj"] == F.col("__k"), "left_semi") \
        .select(F.lit(0).alias("var_pos"), F.col("subj").alias("node"))
    ys = b_mid.select(F.lit(1).alias("var_pos"),
                      F.col("subj").alias("node"))
    zs = b_mid.select(F.lit(2).alias("var_pos"),
                      F.col("obj").alias("node"))
    ws = e3.join(b_mid.select(F.col("obj").alias("__k")).distinct(),
                 e3["subj"] == F.col("__k"), "left_semi") \
        .select(F.lit(3).alias("var_pos"), F.col("obj").alias("node"))
    out = xs.unionByName(ys).unionByName(zs).unionByName(ws)
    # NOT deduplicated here: the caller unions the delta terms of one
    # pattern and deduplicates the union once
    return out.select(key.alias("pattern_key"), "var_pos", "node")


# per shape: (side-1 shared/other cols, side-2 shared/other cols) —
# the shared vertex binds ?y, the free endpoints bind ?x and ?z
_SHAPE_COLS = {
    "chain":       (("obj", "subj"), ("subj", "obj")),
    "shared_subj": (("subj", "obj"), ("subj", "obj")),
    "shared_obj":  (("obj", "subj"), ("obj", "subj")),
}


def _pair_matches(e1: DataFrame, e2: DataFrame,
                  shape: str = "chain") -> DataFrame:
    """(x, y, z) bindings of a two-edge pattern: the edges join on the
    shape's shared vertex (= ?y); ?x / ?z are the free endpoints."""
    (s1, o1), (s2, o2) = _SHAPE_COLS[shape]
    return (
        e1.select(F.col(o1).alias("x"), F.col(s1).alias("y"))
        .join(e2.select(F.col(s2).alias("y"),
                        F.col(o2).alias("z")), "y")
        .select("x", "y", "z")
    )


def _write_partitioned(df: DataFrame, path: str, part_cols: list[str],
                       repart_col: str | None, dynamic: bool) -> None:
    if repart_col == "pred":
        # a plain repartition("pred") gives ONE write task per predicate
        # — a 3M-row single-pred delta serialized by one core. Salting
        # inside the pred keeps the (pred, seg) directory layout and
        # file-level pruning, just with 8 files per partition written in
        # parallel.
        df = df.repartition(F.col("pred"),
                            F.pmod(F.xxhash64("subj"), F.lit(8)))
    elif repart_col is not None:
        df = df.repartition(F.col(repart_col))
    w = df.write.mode("overwrite")
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy(*part_cols).parquet(path)


def _all_postings(spark: SparkSession, path: str,
                  exclude_segs: tuple[str, ...]) -> DataFrame:
    p = spark.read.schema(_POSTINGS_SCHEMA).parquet(f"{path}/postings")
    if exclude_segs:
        p = p.filter(~F.col("seg").isin(*exclude_segs))
    return p


def _stored_edges(spark: SparkSession, path: str, preds: list[str],
                  exclude_segs: tuple[str, ...]) -> DataFrame:
    e = spark.read.schema(_EDGES_SCHEMA).parquet(f"{path}/edges")
    if exclude_segs:
        e = e.filter(~F.col("seg").isin(*exclude_segs))
    if preds is not None:
        e = e.filter(F.col("pred").isin(*preds))
    return e.select("subj", "pred", "obj")


def _norm_chains(chain_patterns) -> list[tuple[str, str, str]]:
    chains = []
    for spec in (chain_patterns or []):
        if len(spec) != 3:
            raise ValueError("chain_patterns entries are (p1, p2, p3)")
        a, b, c = (str(x) for x in spec)
        if "," in a + b + c or "|" in a + b + c:
            raise ValueError(
                f"chain predicates may not contain ',' or '|': {spec}")
        chains.append((a, b, c))
    return chains


def _chain3_delta_postings(delta: DataFrame, prior: DataFrame | None,
                           p1: str, p2: str, p3: str,
                           broadcast_delta: bool, key,
                           delta_preds: set | None = None):
    """Per-position node sets of the 3-chain's telescoping delta terms
    ΔV = Δ1⋈N2⋈N3 ∪ E1⋈Δ2⋈N3 ∪ E1⋈E2⋈Δ3, with E the pre-batch state
    and N = E+Δ: term i puts the delta at hop i, OLD state before it,
    NEW state after it, so the terms are disjoint and their union is
    exactly the view growth. Each term's positions are computed by
    ``_chain3_postings_sets`` instead of a match materialization. Only
    key sets derived DIRECTLY from the delta are force-broadcast; the t3
    e2p-derived set is bounded by stored-side fan-in, not the delta, so
    it goes through a plain left_semi and AQE picks broadcast when it is
    actually small."""
    def _has(p):
        return delta_preds is None or p in delta_preds

    d1 = delta.filter(F.col("pred") == p1)
    d2 = delta.filter(F.col("pred") == p2)
    d3 = delta.filter(F.col("pred") == p3)
    if prior is None:
        if not (_has(p1) and _has(p2) and _has(p3)):
            return None
        return _chain3_postings_sets(d1, d2, d3, key)
    e1 = prior.filter(F.col("pred") == p1)
    e2 = prior.filter(F.col("pred") == p2)
    e3 = prior.filter(F.col("pred") == p3)
    n2 = e2.unionByName(d2)
    n3 = e3.unionByName(d3)

    def _semi(edges, col, keys, force_broadcast):
        if force_broadcast and broadcast_delta:
            keys = F.broadcast(keys)
        return edges.join(keys, edges[col] == F.col("__k"), "left_semi")

    # term i exists only when the delta HAS rows of hop i's predicate —
    # the pred presence set is collected once by the caller, so an
    # absent hop skips its whole semi/scan subtree instead of running
    # joins whose delta side is provably empty
    terms = []
    if _has(p1):
        terms.append(_chain3_postings_sets(
            d1, _semi(n2, "subj", d1.select(F.col("obj").alias("__k"))
                      .distinct(), True), n3, key))
    if _has(p2):
        terms.append(_chain3_postings_sets(
            _semi(e1, "obj", d2.select(F.col("subj").alias("__k"))
                  .distinct(), True), d2, n3, key))
    if _has(p3):
        e2p = _semi(e2, "obj", d3.select(F.col("subj").alias("__k"))
                    .distinct(), True)
        terms.append(_chain3_postings_sets(
            _semi(e1, "obj", e2p.select(F.col("subj").alias("__k"))
                  .distinct(), False), e2p, d3, key))
    if not terms:
        return None
    out = terms[0]
    for t in terms[1:]:
        out = out.unionByName(t)
    return out


def _delta_postings(delta: DataFrame, prior_edges: DataFrame | None,
                    pairs: list[tuple[str, str]],
                    chains: list[tuple[str, str, str]] = (),
                    broadcast_delta: bool = True,
                    delta_preds: set | None = None) -> DataFrame:
    """All postings the delta's edges can contribute: its own 1-edge
    postings plus, per pair pattern, the melt of the three disjoint
    delta-join terms. ``prior_edges`` is None at build time (no store
    yet), collapsing the three terms to Δ⋈Δ.

    ``broadcast_delta`` forces the delta middle-vertex semi-filter to
    broadcast (the common daily-increment case: delta ≪ store, no
    stored-side shuffle at all). The caller turns it OFF for bulk
    deltas above its threshold — a forced broadcast of an unbounded
    vertex set is the OOM-by-default trap, so the plain semi-join (AQE
    picks broadcast when the set turns out small anyway) degrades
    gracefully instead."""
    def _has(p):
        return delta_preds is None or p in delta_preds

    out = _one_edge_postings(delta)
    for p1, p2, shape in pairs:
        if not (_has(p1) or _has(p2)):
            continue  # no delta rows on either hop: no new matches
        (sh1, _o1), (sh2, _o2) = _SHAPE_COLS[shape]
        d1 = delta.filter(F.col("pred") == p1)
        d2 = delta.filter(F.col("pred") == p2)
        key = F.lit(_pair_key(p1, p2, shape))
        terms = []
        if _has(p1) and _has(p2):
            terms.append(_pair_postings_sets(d1, d2, shape, key,
                                             symmetric=(p1 == p2)))
        if prior_edges is not None:
            e1 = prior_edges.filter(F.col("pred") == p1)
            e2 = prior_edges.filter(F.col("pred") == p2)
            # semi-filter the stored side to the delta's shared-vertex
            # set before the position-set semis: the scan stays
            # pred-partition-pruned and no join input exceeds the
            # touched rows
            mid_from_d1 = d1.select(F.col(sh1).alias("y")).distinct()
            mid_from_d2 = d2.select(F.col(sh2).alias("y")).distinct()
            if broadcast_delta:
                mid_from_d1 = F.broadcast(mid_from_d1)
                mid_from_d2 = F.broadcast(mid_from_d2)
            if _has(p1):
                terms.append(_pair_postings_sets(
                    d1,
                    e2.join(mid_from_d1, e2[sh2] == F.col("y"),
                            "left_semi"),
                    shape, key,
                ))
            if _has(p2):
                terms.append(_pair_postings_sets(
                    e1.join(mid_from_d2, e1[sh1] == F.col("y"),
                            "left_semi"),
                    d2,
                    shape, key,
                ))
        if not terms:
            continue
        pat = terms[0]
        for t in terms[1:]:
            pat = pat.unionByName(t)
        out = out.unionByName(
            pat.dropDuplicates(["pattern_key", "var_pos", "node"]))
    for p1, p2, p3 in chains:
        key = F.lit(f"c3:{p1}|{p2}|{p3}")
        pat = _chain3_delta_postings(delta, prior_edges, p1, p2, p3,
                                     broadcast_delta, key,
                                     delta_preds=delta_preds)
        if pat is not None:
            out = out.unionByName(
                pat.dropDuplicates(["pattern_key", "var_pos", "node"]))
    return out


def build_mis_store(
    triples: DataFrame,
    path: str,
    pair_patterns: list[tuple[str, str]] | None = None,
    buckets: int = 64,
    chain_patterns: list[tuple[str, str, str]] | None = None,
) -> None:
    """Create the store from an initial triple set. ``pair_patterns``
    (2-edge shapes) and ``chain_patterns`` (3-edge sequence paths
    ?x-p1->?y-p2->?z-p3->?w, key ``c3:p1|p2|p3``) pin the pattern
    universe for the store's lifetime; 1-edge patterns are always
    maintained, one per predicate seen."""
    spark = triples.sparkSession
    pairs = _norm_pairs(pair_patterns)
    chains = _norm_chains(chain_patterns)
    # materialize once: the edge frame feeds the postings computation
    # (several semi arms) AND the edges-table write — an expensive
    # caller-side input (e.g. a distinct over a raw fact table) would
    # otherwise be recomputed per consumer
    edges = _valid_edges(triples).localCheckpoint(eager=True)

    postings = _delta_postings(edges, None, pairs,
                               chains=chains).localCheckpoint(eager=True)
    counts = postings.groupBy("pattern_key", "var_pos").agg(
        F.count(F.lit(1)).alias("n_new"))
    _write_partitioned(
        postings.withColumn(
            "bucket", F.pmod(F.xxhash64("node"), F.lit(buckets)))
        .withColumn("seg", F.lit("base")),
        f"{path}/postings", ["bucket", "seg"], "bucket", dynamic=False)
    _write_partitioned(
        counts.coalesce(1).withColumn("seg", F.lit("base")),
        f"{path}/counts", ["seg"], None, dynamic=False)
    _write_partitioned(
        edges.withColumn("seg", F.lit("base")),
        f"{path}/edges", ["pred", "seg"], "pred", dynamic=False)
    spark.range(1).select(
        F.lit(int(buckets)).cast("int").alias("buckets"),
        F.lit("|".join(f"{a},{b},{s}" for a, b, s in pairs))
        .alias("pairs"),
        F.lit(";".join(f"{a},{b},{c}" for a, b, c in chains))
        .alias("chains"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


_META_SCHEMA = "buckets INT, pairs STRING, chains STRING"


def _meta(spark: SparkSession, path: str):
    m = spark.read.schema(_META_SCHEMA).parquet(f"{path}/meta").collect()[0]
    pairs = []
    for p in m.pairs.split("|"):
        if not p:
            continue
        f = p.split(",")
        pairs.append((f[0], f[1], f[2] if len(f) > 2 else "chain"))
    chains = []
    for p in m.chains.split(";"):
        if p:
            a, b, c = p.split(",")
            chains.append((a, b, c))
    return int(m.buckets), pairs, chains


def update_mis_store(
    spark: SparkSession,
    delta_triples: DataFrame,
    path: str,
    update_id: int,
    broadcast_max_delta_rows: int = 2_000_000,
) -> dict:
    """Fold a triple delta into the support store under segment
    ``u<update_id>``. Cost ∝ delta: new matches come from the three
    disjoint delta-join terms (stored side pred-pruned + broadcast
    semi-filtered to delta vertices), novelty is one anti-join against
    the postings pruned to the delta nodes' buckets, and the writes
    are the new postings + O(#patterns) count rows + the delta's own
    edges. Replayable: all reads exclude ``seg=u<update_id>``, all
    writes overwrite it."""
    buckets, pairs, chains = _meta(spark, path)
    seg = f"u{update_id}"
    delta = _valid_edges(delta_triples).localCheckpoint(eager=True)

    multi_preds = ({p for pr in pairs for p in pr[:2]}
                   | {p for ch in chains for p in ch})
    delta_preds = {r.pred for r in delta.select("pred").distinct().collect()}
    touched_preds = sorted(multi_preds & delta_preds)
    prior = _stored_edges(
        spark, path, preds=sorted(multi_preds),
        exclude_segs=(seg,)) if touched_preds else None
    # broadcast the delta's vertex semi-filter only while the delta is
    # bounded; a bulk load falls back to the AQE-decided semi-join
    small_delta = delta.count() <= broadcast_max_delta_rows
    cand = _delta_postings(delta, prior, pairs, chains=chains,
                           broadcast_delta=small_delta,
                           delta_preds=delta_preds) \
        .localCheckpoint(eager=True)

    # novelty: prune the stored postings to the candidate nodes'
    # buckets (≤ `buckets` distinct values — bounded driver collect),
    # then anti-join on the full (pattern, pos, node) key
    bks = [r.b for r in cand.select(
        F.pmod(F.xxhash64("node"), F.lit(buckets)).alias("b")
    ).distinct().collect()]
    stored = _all_postings(spark, path, exclude_segs=(seg,)).filter(
        F.col("bucket").isin(bks))
    new_postings = cand.join(
        stored.select("pattern_key", "var_pos", "node"),
        ["pattern_key", "var_pos", "node"], "left_anti",
    ).localCheckpoint(eager=True)

    counts = new_postings.groupBy("pattern_key", "var_pos").agg(
        F.count(F.lit(1)).alias("n_new"))
    _write_partitioned(
        new_postings.withColumn(
            "bucket", F.pmod(F.xxhash64("node"), F.lit(buckets)))
        .withColumn("seg", F.lit(seg)),
        f"{path}/postings", ["bucket", "seg"], "bucket", dynamic=True)
    _write_partitioned(
        counts.coalesce(1).withColumn("seg", F.lit(seg)),
        f"{path}/counts", ["seg"], None, dynamic=True)
    _write_partitioned(
        delta.withColumn("seg", F.lit(seg)),
        f"{path}/edges", ["pred", "seg"], "pred", dynamic=True)
    return {
        "new_postings": new_postings.count(),
        "touched_buckets": len(bks),
    }


def read_mis_support(
    spark: SparkSession,
    path: str,
    exclude_segs: tuple[str, ...] = (),
) -> DataFrame:
    """Current (pattern_key, support) view. Reads ONLY the counts
    table — O(#patterns × #segments) rows; the corpus-sized postings
    are never touched on the query path."""
    c = spark.read.schema(_COUNTS_SCHEMA).parquet(f"{path}/counts")
    if exclude_segs:
        c = c.filter(~F.col("seg").isin(*exclude_segs))
    per_pos = c.groupBy("pattern_key", "var_pos").agg(
        F.sum("n_new").alias("n_distinct"))
    return per_pos.groupBy("pattern_key").agg(
        F.min("n_distinct").alias("support"))


def compact_mis_store(
    spark: SparkSession,
    path: str,
    exclude_segs: tuple[str, ...] = (),
) -> dict:
    """Fold segments into ``seg=base`` (postings re-bucketed to one
    file per bucket, counts re-aggregated, edges re-packed per pred)
    via sibling temp dirs + delete/rename swap — the live store
    survives a mid-rewrite crash; a partial swap leaves some tables
    compacted and the rest folded by the next run (reads are
    segment-agnostic unions, so either state resolves identically).

    ``exclude_segs`` carries the named (in-flight, possibly torn)
    segments through UNCHANGED in all three tables, so their replay
    can still replace them wholesale; replaying against the compacted
    base reads the identical pre-batch row set and reproduces the
    segment byte-for-byte."""
    buckets, _pairs, _chains = _meta(spark, path)
    files_before = len(
        spark.read.schema(_POSTINGS_SCHEMA).parquet(
            f"{path}/postings").inputFiles())

    def _split(df):
        if not exclude_segs:
            return df, None
        return (df.filter(~F.col("seg").isin(*exclude_segs)),
                df.filter(F.col("seg").isin(*exclude_segs)))

    post_fold, post_keep = _split(spark.read.schema(
        _POSTINGS_SCHEMA).parquet(f"{path}/postings"))
    postings = (
        post_fold.select("pattern_key", "var_pos", "node")
        .withColumn("bucket", F.pmod(F.xxhash64("node"), F.lit(buckets)))
        .withColumn("seg", F.lit("base"))
    )
    if post_keep is not None:
        postings = postings.unionByName(
            post_keep.select("pattern_key", "var_pos", "node",
                             "bucket", "seg"))
    postings = postings.localCheckpoint(eager=True)

    cnt_fold, cnt_keep = _split(spark.read.schema(
        _COUNTS_SCHEMA).parquet(f"{path}/counts"))
    counts = (
        cnt_fold.groupBy("pattern_key", "var_pos")
        .agg(F.sum("n_new").alias("n_new"))
        .withColumn("seg", F.lit("base"))
    )
    if cnt_keep is not None:
        counts = counts.unionByName(
            cnt_keep.select("pattern_key", "var_pos", "n_new", "seg"))
    counts = counts.localCheckpoint(eager=True)

    edge_fold, edge_keep = _split(spark.read.schema(
        _EDGES_SCHEMA).parquet(f"{path}/edges"))
    edges = edge_fold.select("subj", "obj", "pred").withColumn(
        "seg", F.lit("base"))
    if edge_keep is not None:
        edges = edges.unionByName(
            edge_keep.select("subj", "obj", "pred", "seg"))
    edges = edges.localCheckpoint(eager=True)

    _write_partitioned(
        postings, f"{path}/postings_tmp", ["bucket", "seg"], "bucket",
        dynamic=False)
    _write_partitioned(
        counts.coalesce(1), f"{path}/counts_tmp", ["seg"], None,
        dynamic=False)
    _write_partitioned(
        edges, f"{path}/edges_tmp", ["pred", "seg"], "pred",
        dynamic=False)

    from nous_spark.operators.graph_inc import swap_dir

    for name in ("postings", "counts", "edges"):
        swap_dir(spark, f"{path}/{name}_tmp", f"{path}/{name}")
    files_after = len(
        spark.read.schema(_POSTINGS_SCHEMA).parquet(
            f"{path}/postings").inputFiles())
    return {"files_before": files_before, "files_after": files_after}


def watch_pattern_delta(
    spark: SparkSession,
    delta: DataFrame,
    path: str,
    pair: tuple,
    broadcast_delta: bool = True,
    exclude_segs: tuple[str, ...] = (),
) -> DataFrame:
    """The NEW (x, y, z) matches a triple delta creates for one
    registered two-edge pattern, against the MIS store's edge set —
    incremental view maintenance under bag semantics: with the view
    V = e1 ⋈ e2 a multiset join, the delta rule ΔV = Δ1⋈E ∪ E⋈Δ2 ∪
    Δ1⋈Δ2 is EXACT (a re-arriving duplicate edge legitimately raises
    match multiplicities, so no dedup pass exists to get wrong).
    The stored side is pred-partition-pruned and semi-filtered to the
    delta's shared-vertex set; cost ∝ delta + touched rows."""
    _buckets, _pairs, _chains = _meta(spark, path)
    p1, p2, shape = _norm_pairs([pair])[0]
    d = _valid_edges(delta)
    # exclude_segs: pass the in-flight segment when the caller folds
    # the same delta afterwards — a torn prior attempt may already
    # have landed it, and the delta rule must see PRE-batch state
    prior = _stored_edges(spark, path, preds=[p1, p2],
                          exclude_segs=exclude_segs)
    (sh1, _o1), (sh2, _o2) = _SHAPE_COLS[shape]
    d1 = d.filter(F.col("pred") == p1)
    d2 = d.filter(F.col("pred") == p2)
    e1 = prior.filter(F.col("pred") == p1)
    e2 = prior.filter(F.col("pred") == p2)
    mid_from_d1 = d1.select(F.col(sh1).alias("y")).distinct()
    mid_from_d2 = d2.select(F.col(sh2).alias("y")).distinct()
    if broadcast_delta:
        mid_from_d1 = F.broadcast(mid_from_d1)
        mid_from_d2 = F.broadcast(mid_from_d2)
    out = _pair_matches(d1, d2, shape)
    out = out.unionByName(_pair_matches(
        d1, e2.join(mid_from_d1, e2[sh2] == F.col("y"), "left_semi"),
        shape))
    out = out.unionByName(_pair_matches(
        e1.join(mid_from_d2, e1[sh1] == F.col("y"), "left_semi"), d2,
        shape))
    return out
