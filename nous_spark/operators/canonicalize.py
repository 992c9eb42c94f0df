"""Canonicalization (G8): collapse alias/same-as clusters to canonical ids.

The reference never collapses aliases — it carries alias strings (J1) and
mints 'nous: X' vertices. The north rule requires connected-components-based
canonicalization over an alias-edge DataFrame; we build the edges from

  * explicit alias predicates (rdfs:label, skos:prefLabel,
    isPreferredMeaningOf, owl:sameAs)
  * entity-linking results (mention → linked entity)
  * code-graph short-name edges (callee name → fully-qualified def)

run hash-to-min CC, and rewrite subj/obj through the resulting mapping.
Head-entity skew (a name linked from everywhere) is handled by salting the
rewrite join key — see ``materialize.write_triples``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nous_spark.localrel import local_df
from nous_spark.operators.graph import connected_components

SAMEAS_PREDICATES = ["owl:sameas", "sameas", "rdfs:label", "skos:preflabel",
                     "ispreferredmeaningof"]


def alias_edges_from_triples(triples: DataFrame) -> DataFrame:
    """(a, b) label-pair edges from same-as/alias predicates."""
    return (
        triples.filter(F.lower(F.col("pred")).isin(SAMEAS_PREDICATES))
        .select(F.col("subj").alias("a"), F.col("obj").alias("b"))
    )


def alias_edges_from_links(links: DataFrame, min_score: float = 0.0) -> DataFrame:
    """(mention, entity_label) pairs from the linking stage."""
    return (
        links.filter(F.col("score") >= min_score)
        .select(F.col("mention").alias("a"), F.col("entity_label").alias("b"))
    )


def alias_edges_from_code(triples: DataFrame, docs: DataFrame | None = None) -> DataFrame:
    """callee short name → fully-qualified def it resolves to, when the
    resolution is unambiguous within a repo (same-repo def with matching
    trailing ::name). Ambiguous names stay unlinked — canonicalization must
    not merge distinct functions that merely share a name.

    Normalized-provenance triples don't carry ``repo``; pass ``docs`` to
    attach it via doc_id (broadcast — docs ≪ triples)."""
    if "repo" not in triples.columns:
        if docs is None:
            return triples.limit(0).select(
                F.col("subj").alias("a"), F.col("obj").alias("b")
            )
        triples = triples.join(
            F.broadcast(docs.select("doc_id", "repo")), "doc_id", "left"
        )
    defs = (
        triples.filter(F.col("pred").isin("defines_function", "defines_class"))
        .select(
            F.col("repo"),
            F.col("obj").alias("fq"),
            F.element_at(F.split(F.col("obj"), "::"), -1).alias("short"),
        )
    )
    calls = (
        triples.filter(F.col("pred") == "calls")
        .select(F.col("repo"), F.col("obj").alias("callee"))
        .distinct()
    )
    resolved = (
        calls.join(defs, (calls.repo == defs.repo) & (calls.callee == defs.short))
        .groupBy(calls.repo, "callee")
        .agg(
            F.count("*").alias("n_defs"),
            F.min("fq").alias("fq"),
        )
        .filter(F.col("n_defs") == 1)
    )
    return resolved.select(F.col("callee").alias("a"), F.col("fq").alias("b"))


def canonical_mapping(alias_edges: DataFrame) -> DataFrame:
    """label → canonical_label via hash-to-min connected components.
    Canonical representative = longest label in the component (ties →
    lexicographically smallest): fully-qualified names beat short names,
    full names beat aliases. Deterministic → resume-stable."""
    ids = (
        alias_edges.select(F.col("a").alias("label"))
        .unionAll(alias_edges.select(F.col("b").alias("label")))
        .distinct()
        .select(F.xxhash64("label").alias("id"), "label")
    )
    edges = alias_edges.select(
        F.xxhash64("a").alias("src"), F.xxhash64("b").alias("dst")
    )
    comp = connected_components(edges)
    labeled = ids.join(comp, "id", "left").withColumn(
        "component", F.coalesce("component", F.col("id"))
    )
    reps = labeled.groupBy("component").agg(
        F.min(
            F.struct(
                (-F.length("label")).alias("neg_len"), F.col("label")
            )
        )["label"].alias("canonical_label")
    )
    return (
        labeled.join(reps, "component")
        .select("label", "canonical_label",
                F.xxhash64("canonical_label").alias("canonical_id"))
    )


def rewrite_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the canonical mapping (left joins; unmapped
    labels stay as-is). The mapping is usually small relative to the triple
    table → broadcast."""
    m_subj = F.broadcast(mapping.select(
        F.col("label").alias("subj"), F.col("canonical_label").alias("__cs")
    ))
    m_obj = F.broadcast(mapping.select(
        F.col("label").alias("obj"), F.col("canonical_label").alias("__co")
    ))
    out = (
        triples.join(m_subj, "subj", "left")
        .join(m_obj, "obj", "left")
        .withColumn("subj", F.coalesce("__cs", F.col("subj")))
        .withColumn("obj", F.coalesce("__co", F.col("obj")))
        .drop("__cs", "__co")
    )
    return out.select(triples.columns)


def canonicalize(
    triples: DataFrame,
    links: DataFrame | None = None,
    docs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full G8 stage: returns (canonical_triples, mapping)."""
    edges = alias_edges_from_triples(triples).unionByName(
        alias_edges_from_code(triples, docs)
    )
    if links is not None:
        edges = edges.unionByName(alias_edges_from_links(links))
    edges = edges.filter(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    )
    mapping = canonical_mapping(edges)
    return rewrite_triples(triples, mapping), mapping


# ---------------------------------------------------------------------------
# Incremental canonical store: component store over labels + an LSM
# representative log, exact batch parity under incremental folds
# ---------------------------------------------------------------------------


def _rep_struct(label_col: str):
    # the batch rule (canonical_mapping): longest label wins, ties to
    # the lexicographically smallest — a total order, so the argmin is
    # associative/commutative and therefore incrementally maintainable
    return F.struct((-F.length(label_col)).alias("neg_len"),
                    F.col(label_col).alias("label"))


def build_canonical_store(
    alias_edges: DataFrame,
    path: str,
    buckets: int = 64,
) -> None:
    """Persist an incrementally updatable canonical mapping:

    - ``{path}/cc`` — a component store (operators/graph_inc.py) over
      the LABELS themselves (component root = min label; internal
      bookkeeping only, never the canonical representative).
    - ``{path}/reps`` — the representative log: per segment, the best
      (longest, then lexicographically smallest) label CANDIDATE per
      root as of that write. Because the rep rule is an associative
      argmin and every label contributes a candidate when it enters,
      the final rep of a root is the argmin over all log rows whose
      stored root RESOLVES to it through the cc store's remap log —
      merges never have to re-scan component members, and the result
      is exactly the batch ``canonical_mapping`` representative
      (parity pinned by tests). Rows are bucket-partitioned by the
      stored root's hash so probes prune to the touched roots' (and
      their remap preimages') buckets.
    """
    from nous_spark.operators.graph_inc import build_component_store

    edges = alias_edges.filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
        & (F.col("a") != F.col("b")))
    comp = connected_components(edges, "a", "b")
    build_component_store(comp, f"{path}/cc", buckets=buckets)
    (
        comp.groupBy("component")
        .agg(F.min(_rep_struct("id"))["label"].alias("rep"))
        .select(
            F.col("component").alias("root"), "rep",
            F.pmod(F.xxhash64("component"), F.lit(buckets)).alias("bucket"),
        )
        .withColumn("seg", F.lit("base"))
        .repartition(F.col("bucket"))
        .write.mode("overwrite").partitionBy("bucket", "seg")
        .parquet(f"{path}/reps")
    )


def update_canonical_store(
    spark: SparkSession,
    alias_edges: DataFrame,
    path: str,
    update_id: int,
) -> dict:
    """Fold a delta alias-edge set into the canonical store under
    segment ``u<update_id>`` — same keyed-overwrite idempotency
    contract as the component store it wraps (reads exclude the
    update's own segment; a torn attempt is replaced byte-for-byte).

    Cost ∝ delta: the cc fold is ``update_component_store``; the rep
    log gains one row per post-update root among the delta's NEW
    labels (read back from the update's own freshly written mapping
    segment — a one-segment scan). Merged components need no rep
    recompute at all: their old candidates re-root through the remap
    log at read time."""
    from nous_spark.operators.graph_inc import update_component_store

    seg = f"u{update_id}"
    edges = alias_edges.filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
        & (F.col("a") != F.col("b")))
    stats = update_component_store(spark, edges, f"{path}/cc",
                                   update_id=update_id, src="a", dst="b")
    meta = spark.read.parquet(f"{path}/cc/meta").collect()[0]
    new_rows = spark.read.schema(
        f"id {meta.id_type}, component {meta.id_type}, "
        "bucket BIGINT, seg STRING"
    ).parquet(f"{path}/cc/mapping").filter(F.col("seg") == seg)
    (
        new_rows.groupBy("component")
        .agg(F.min(_rep_struct("id"))["label"].alias("rep"))
        .select(
            F.col("component").alias("root"), "rep",
            F.pmod(F.xxhash64("component"),
                   F.lit(meta.buckets)).alias("bucket"),
        )
        .withColumn("seg", F.lit(seg))
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket", "seg")
        .parquet(f"{path}/reps")
    )
    return stats


def resolve_canonical_store(
    spark: SparkSession,
    path: str,
    labels: DataFrame | None = None,
    exclude_segs: tuple[str, ...] = (),
) -> DataFrame:
    """Current (label, canonical_label, canonical_id) view — the same
    schema ``canonical_mapping`` returns, batch-parity by construction.
    ``labels`` (a one-column ``id`` frame) prunes the cc read to the
    touched buckets AND the rep read to the probed roots' buckets plus
    their remap-preimage buckets (the flattened remap log is small, so
    the preimage key set is driver-computable)."""
    from nous_spark.operators.graph_inc import (
        _flatten_remap,
        _read_remap,
        resolve_component_store,
    )

    meta = spark.read.parquet(f"{path}/cc/meta").collect()[0]
    cc = resolve_component_store(spark, f"{path}/cc", ids=labels,
                                 exclude_segs=exclude_segs)
    remap_rows = _read_remap(spark, path + "/cc", meta.id_type,
                             exclude_segs=exclude_segs)
    flat = dict(_flatten_remap(remap_rows))
    reps = spark.read.schema(
        f"root {meta.id_type}, rep {meta.id_type}, "
        "bucket BIGINT, seg STRING"
    ).parquet(f"{path}/reps")
    if exclude_segs:
        reps = reps.filter(~F.col("seg").isin(*exclude_segs))
    if labels is not None:
        roots = {r.component for r in cc.select("component")
                 .distinct().collect()}
        keys = roots | {old for old, new in flat.items() if new in roots}
        kdf = local_df(spark, [(k,) for k in sorted(keys)],
                       schema=f"root {meta.id_type}")
        bks = [r.b for r in kdf.select(
            F.pmod(F.xxhash64("root"),
                   F.lit(meta.buckets)).alias("b")).distinct().collect()]
        reps = reps.filter(F.col("bucket").isin(bks)).join(kdf, "root")
    if flat:
        rmap = local_df(spark, sorted(flat.items()),
                        schema=f"root {meta.id_type}, __new {meta.id_type}")
        reps = (
            reps.join(F.broadcast(rmap), "root", "left")
            .withColumn("root", F.coalesce("__new", "root"))
            .drop("__new")
        )
    final_reps = (
        reps.groupBy("root")
        .agg(F.min(_rep_struct("rep"))["label"].alias("canonical_label"))
    )
    return (
        cc.join(final_reps, cc["component"] == final_reps["root"])
        .select(
            F.col("id").alias("label"),
            "canonical_label",
            F.xxhash64("canonical_label").alias("canonical_id"),
        )
    )


def compact_canonical_store(
    spark: SparkSession,
    path: str,
    exclude_segs: tuple[str, ...] = (),
) -> dict:
    """Fold both logs: resolve + argmin the rep log into ``seg=base``
    FIRST (it needs the cc remap log, which the cc compaction deletes),
    then compact the cc store. Crash between the two leaves a folded
    rep table plus a live remap log — harmless, the remap no-ops on
    already-resolved rep roots, and the next compaction converges."""
    from nous_spark.operators.graph_inc import (
        _flatten_remap,
        _read_remap,
        compact_component_store,
    )

    meta = spark.read.parquet(f"{path}/cc/meta").collect()[0]
    reps = spark.read.schema(
        f"root {meta.id_type}, rep {meta.id_type}, "
        "bucket BIGINT, seg STRING"
    ).parquet(f"{path}/reps")
    keep = reps.filter(F.col("seg").isin(*exclude_segs)) if exclude_segs \
        else None
    fold = reps.filter(~F.col("seg").isin(*exclude_segs)) if exclude_segs \
        else reps
    flat = dict(_flatten_remap(_read_remap(
        spark, path + "/cc", meta.id_type, exclude_segs=exclude_segs)))
    if flat:
        rmap = local_df(spark, sorted(flat.items()),
                        schema=f"root {meta.id_type}, __new {meta.id_type}")
        fold = (
            fold.join(F.broadcast(rmap), "root", "left")
            .withColumn("root", F.coalesce("__new", "root"))
            .drop("__new")
        )
    folded = (
        fold.groupBy("root")
        .agg(F.min(_rep_struct("rep"))["label"].alias("rep"))
        .select(
            "root", "rep",
            F.pmod(F.xxhash64("root"), F.lit(meta.buckets)).alias("bucket"),
        )
        .withColumn("seg", F.lit("base"))
    )
    if keep is not None:
        folded = folded.unionByName(
            keep.select("root", "rep", "bucket", "seg"))

    from nous_spark.operators.graph_inc import swap_dir

    folded.repartition(F.col("bucket")).write.mode("overwrite").partitionBy(
        "bucket", "seg").parquet(f"{path}/reps_compact_tmp")
    swap_dir(spark, f"{path}/reps_compact_tmp", f"{path}/reps")
    return compact_component_store(spark, f"{path}/cc",
                                   exclude_segs=exclude_segs)


def _final_reps(
    spark: SparkSession,
    path: str,
    roots: set,
    exclude_segs: tuple[str, ...] = (),
) -> dict:
    """Final representative per asked-for root — ``{input_root: rep}``
    for a DRIVER-SIDE root key set (∝ one update's touched components,
    by construction of the callers), under the store state with
    ``exclude_segs`` removed. Each input root is resolved through the
    (excluded-state) remap log, the rep log is read bucket-pruned to
    the resolved roots plus their remap preimages, and the argmin is
    mapped back to the input keys. Roots with no candidates under the
    asked-for state (e.g. a post-merge root that did not exist before
    the merge) are simply absent from the result."""
    from nous_spark.operators.graph_inc import _flatten_remap, _read_remap

    if not roots:
        return {}
    meta = spark.read.parquet(f"{path}/cc/meta").collect()[0]
    flat = dict(_flatten_remap(_read_remap(
        spark, path + "/cc", meta.id_type, exclude_segs=exclude_segs)))
    resolved = {r: flat.get(r, r) for r in roots}
    targets = set(resolved.values())
    keys = targets | {old for old, new in flat.items() if new in targets}
    kdf = local_df(spark, [(k,) for k in sorted(keys)],
                   schema=f"root {meta.id_type}")
    bks = [r.b for r in kdf.select(
        F.pmod(F.xxhash64("root"),
               F.lit(meta.buckets)).alias("b")).distinct().collect()]
    reps = spark.read.schema(
        f"root {meta.id_type}, rep {meta.id_type}, "
        "bucket BIGINT, seg STRING"
    ).parquet(f"{path}/reps").filter(F.col("bucket").isin(bks))
    if exclude_segs:
        reps = reps.filter(~F.col("seg").isin(*exclude_segs))
    reps = reps.join(F.broadcast(kdf), "root")
    if flat:
        rmap = local_df(spark, sorted(flat.items()),
                        schema=f"root {meta.id_type}, __new {meta.id_type}")
        reps = (
            reps.join(F.broadcast(rmap), "root", "left")
            .withColumn("root", F.coalesce("__new", "root"))
            .drop("__new")
        )
    by_root = {
        r.root: r.rep for r in reps.groupBy("root")
        .agg(F.min(_rep_struct("rep"))["label"].alias("rep")).collect()
    }
    return {r: by_root[t] for r, t in resolved.items() if t in by_root}


def rep_changes(spark: SparkSession, path: str, update_id: int) -> dict:
    """``{superseded_rep: new_rep}`` caused by update ``u<update_id>`` —
    one entry per REPRESENTATIVE the update dethroned, never per
    component member. The touched-root set is read from the update's
    own remap and rep-log segments (both ∝ delta), the before/after
    reps come from ``_final_reps`` with/without the segment excluded,
    and the rep rule's monotonicity (candidate sets only grow, the
    argmin only improves under the (length desc, label asc) total
    order) guarantees a label appears as a key at most once across the
    store's lifetime — so patch logs from successive updates
    path-compress into a single consistent chain."""
    from nous_spark.operators.graph_inc import _fs_exists

    seg = f"u{update_id}"
    meta = spark.read.parquet(f"{path}/cc/meta").collect()[0]
    touched: set = set()
    if _fs_exists(spark, f"{path}/cc/remap"):
        for r in spark.read.schema(
            f"component {meta.id_type}, new_component {meta.id_type}, "
            "seg STRING"
        ).parquet(f"{path}/cc/remap").filter(F.col("seg") == seg).collect():
            touched.add(r.component)
            touched.add(r.new_component)
    for r in spark.read.schema(
        f"root {meta.id_type}, rep {meta.id_type}, "
        "bucket BIGINT, seg STRING"
    ).parquet(f"{path}/reps").filter(F.col("seg") == seg).collect():
        touched.add(r.root)
    before = _final_reps(spark, path, touched, exclude_segs=(seg,))
    after = _final_reps(spark, path, touched)
    out = {}
    for r in touched:
        o, n = before.get(r), after.get(r)
        if o is not None and n is not None and o != n:
            out[o] = n
    return out
