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

from nous_spark.operators.graph import connected_components
from nous_spark.operators.graph_inc import (
    _fs_exists,
    build_component_store,
    compact_component_store,
    resolve_component_store,
    update_component_store,
)

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
# Incremental canonical store: a component store over rep-order keys
# ---------------------------------------------------------------------------


def _key(label_col: str):
    # rep-order key: its byte order is the batch rep rule (longest label
    # first, ties to the lexicographically smallest), so the component
    # store's min-id root over these keys IS the canonical representative
    return F.concat(
        F.lpad((F.lit(2147483647) - F.length(label_col)).cast("string"),
               10, "0"),
        F.col(label_col),
    )


def _label(key_col: str):
    return F.substr(F.col(key_col), F.lit(11))


def _keyed_edges(alias_edges: DataFrame) -> DataFrame:
    return alias_edges.filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
        & (F.col("a") != F.col("b"))
    ).select(_key("a").alias("a"), _key("b").alias("b"))


def build_canonical_store(
    alias_edges: DataFrame,
    path: str,
    buckets: int = 64,
) -> DataFrame:
    """Persist an incrementally updatable canonical mapping as a
    component store (operators/graph_inc.py) at ``{path}/cc`` whose ids
    are rep-order keys (``_key``): the store keeps every component's
    minimum id as its root, and the minimum key is the batch
    ``canonical_mapping`` representative, so root and representative
    are one thing (parity pinned by tests).

    Returns the stored mapping decoded to ``(label, canonical_label)``
    — what ``resolve_canonical_store`` would read back right after the
    build — so a caller can rewrite through it without a read-back."""
    comp = connected_components(_keyed_edges(alias_edges), "a", "b")
    build_component_store(comp, f"{path}/cc", buckets=buckets)
    return comp.select(_label("id").alias("label"),
                       _label("component").alias("canonical_label"))


def update_canonical_store(
    spark: SparkSession,
    alias_edges: DataFrame,
    path: str,
    update_id: int,
) -> dict:
    """Fold a delta alias-edge set into the canonical store under
    segment ``u<update_id>``: ``update_component_store`` over the keyed
    edges, with its cost (∝ delta) and keyed-overwrite idempotency (a
    torn attempt is replaced byte-for-byte by the replay)."""
    return update_component_store(spark, _keyed_edges(alias_edges),
                                  f"{path}/cc", update_id=update_id,
                                  src="a", dst="b")


def resolve_canonical_store(
    spark: SparkSession,
    path: str,
    labels: DataFrame | None = None,
    exclude_segs: tuple[str, ...] = (),
) -> DataFrame:
    """Current (label, canonical_label, canonical_id) view — the same
    schema ``canonical_mapping`` returns. ``labels`` (a one-column
    ``id`` frame) prunes the read to the buckets its keys hash to."""
    ids = None if labels is None else labels.select(_key("id").alias("id"))
    return resolve_component_store(
        spark, f"{path}/cc", ids=ids, exclude_segs=exclude_segs
    ).select(
        _label("id").alias("label"),
        _label("component").alias("canonical_label"),
        F.xxhash64(_label("component")).alias("canonical_id"),
    )


def compact_canonical_store(
    spark: SparkSession,
    path: str,
    exclude_segs: tuple[str, ...] = (),
) -> dict:
    """Fold the remap log into the base mapping
    (``compact_component_store``)."""
    return compact_component_store(spark, f"{path}/cc",
                                   exclude_segs=exclude_segs)


def rep_changes(spark: SparkSession, path: str, update_id: int) -> dict:
    """``{superseded_rep: new_rep}`` caused by update ``u<update_id>`` —
    one entry per REPRESENTATIVE the update dethroned, never per
    component member: the decoded remap segment ``u<update_id>``.

    Why the remap segment is exactly the dethroned-rep set: roots are
    representatives (min key = best label). The update logs
    ``old -> new`` only for an ``old`` that was a root before the
    update and no longer is one after it, i.e. a rep that lost its
    component to a better key (a merge or a longer arriving label);
    ``new`` is the component's root, i.e. its rep, after the update.
    Conversely a rep that loses its component is a root of a touched
    component, so the update's contracted run remaps it and logs it.
    Reps only improve under the key order, so a label is logged as an
    ``old`` at most once in the store's lifetime — patch logs from
    successive updates path-compress into one consistent chain."""
    if not _fs_exists(spark, f"{path}/cc/remap"):
        return {}
    rows = (
        spark.read.schema(
            "component STRING, new_component STRING, seg STRING")
        .parquet(f"{path}/cc/remap")
        .filter(F.col("seg") == f"u{update_id}")
        .select(_label("component").alias("old"),
                _label("new_component").alias("new"))
        .collect()
    )
    return {r.old: r.new for r in rows}
