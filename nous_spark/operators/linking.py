"""Collective entity linking (SURVEY.md §3.2; reference
colEntityDisambiguation.scala, Han et al. SIGIR'11).

Set-based re-design of the reference's per-document driver loop:

  1. alias dictionary (J1)           — one aggregation over KG edges
  2. candidate generation (J2)       — token-blocked equi-join + exact
                                       StringSim on survivors, computed on
                                       the DISTINCT mention-string domain
                                       and fanned back to docs (the
                                       reference scores every vertex
                                       against every mention per doc; ours
                                       is blocked and dedup-verified — the
                                       north-rule "LSH-blocked candidate
                                       generation")
  3. neighborhood features (J3)      — one aggregation join for ALL
                                       candidates of ALL docs at once
  4. scoring + collective inference  — one NumPy kernel per doc_id
     (A7-A9, W3)                       (``_solve_doc``): the exact
                                       reference formulas + the
                                       λ(I−(1−λ)T)⁻¹e solve (EvidenceProp
                                       .scala:107-118); thousands of
                                       independent tiny problems
  5. unmatched mentions → "nous: X" entities (colEntityDisambiguation
     .scala:101-109,186-192)

Up to ``_LINK_DRIVER_CAP`` KG triples, steps 1-5 run on the driver over
two Arrow collects (``_link_driver``); above it, or when a hub token
needs the JVM-side hash-sample, steps 1-3 are join plans and step 4 is
``applyInPandas``. Both paths call the same kernel.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ALIAS_PREDICATES = ["rdfs:label", "skos:preflabel", "ispreferredmeaningof"]


def kg_vertices(kg_triples: DataFrame) -> DataFrame:
    """Vertices (id, label) from a triple table; id = xxhash64(label)
    (64-bit, vs the reference's 32-bit label.hashCode — ReadGraph.scala:37)."""
    labels = (
        kg_triples.select(F.col("subj").alias("label"))
        .unionAll(kg_triples.select(F.col("obj").alias("label")))
        .distinct()
    )
    return labels.select(F.xxhash64("label").alias("id"), "label")


def kg_edges(kg_triples: DataFrame) -> DataFrame:
    """Edges (src, dst, pred) with xxhash64 endpoint ids."""
    return kg_triples.select(
        F.xxhash64("subj").alias("src"),
        F.xxhash64("obj").alias("dst"),
        F.col("pred"),
    ).dropDuplicates(["src", "dst", "pred"])


def vertices_with_alias(kg_triples: DataFrame) -> DataFrame:
    """J1 (NodeProp.constructVertexRDDWithAlias, NodeProp.scala:80-108):
    attach alias names from alias-predicate edges. Returns
    (id, label, names ARRAY<STRING>) where names[0] = label."""
    v = kg_vertices(kg_triples)
    aliases = (
        kg_triples.filter(F.lower(F.col("pred")).isin(ALIAS_PREDICATES))
        .select(F.xxhash64("subj").alias("id"), F.col("obj").alias("alias"))
        .groupBy("id")
        .agg(F.collect_set("alias").alias("aliases"))
    )
    return (
        v.join(aliases, "id", "left")
        .select(
            "id",
            "label",
            F.concat(
                F.array(F.col("label")),
                F.coalesce(F.col("aliases"), F.array().cast("array<string>")),
            ).alias("names"),
        )
    )


# Java's \s is ASCII-only, so the whitespace class is spelled out: Spark's
# split and the driver path's re.split then cut the same tokens
_TOKEN_SPLIT = r"[ \t\n\x0b\f\r_,$/:.()\[\]]+"
_MAX_CANDIDATES_PER_TOKEN = 2000

# KG triple count at or under which link_entities runs on the driver
# (``_link_driver``): two Arrow collects and single-threaded Python in
# place of ~50 small join, broadcast and pandas-UDF jobs. Sized at the
# warm crossover measured by scripts/linking_bench.py (4 cores, best of
# 3 repeated calls): 8.5k triples 1.03 s driver vs 1.94 s distributed,
# 17.6k 1.51 vs 1.70 s, 34.3k 2.39 vs 2.03 s, 68.9k 3.30 vs 1.65 s. A
# first call in a fresh JVM favours the driver at every size measured
# (137.6k triples: 9.0 vs 18.7 s), so the cap errs on the warm side.
_LINK_DRIVER_CAP = 25_000


def candidate_pairs(
    mentions: DataFrame,
    entities: DataFrame,
    phrase_match_threshold: float = 0.7,
    sim_mode: str = "stringsim",
    max_candidates_per_mention: int | None = None,
) -> DataFrame:
    """J2: token-blocked candidate generation + exact StringSim verify.

    mentions(doc_id, mention, evidence_wt?) × entities(id, label, names)
    → (doc_id, mention, entity_id, entity_label, name_sim).

    Blocking: both sides explode lowercase name tokens; equi-join on token.
    Skew guard: a token blocking to more than ``_MAX_CANDIDATES_PER_TOKEN``
    entities (ubiquitous identifiers — every repo defines `connect`) keeps
    a deterministic hash-sample of ~cap entities instead of being dropped:
    single-token hub mentions still get candidates (dropping the token
    starves them entirely — measured at 10k files: 0 candidates), and the
    join stays skew-bounded. Same role as the reference's edgeLimit
    (reference instead does a full V×M cross product, NodeProp.scala:25-78).

    ``sim_mode``: "stringsim" (default) verifies with the full reference
    StringSim (Dice + merge alignment) in an Arrow-batched pandas UDF;
    "dice" verifies with the Dice stage only, entirely JVM-side — the fast
    path when labels are multi-word and the alignment stage rarely decides
    (also the DuckDB-oracle-gated mode).

    name_sim depends only on the (mention STRING, entity) pair, never on
    doc_id — blocking and verification run on the distinct-mention domain
    and doc_ids are joined back at the end. On a 10k-file corpus this cut
    28M per-doc verifications to ~60k distinct-pair ones.
    """
    m_distinct = mentions.select("mention").distinct()
    m_tok = m_distinct.select(
        "mention",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("mention")), _TOKEN_SPLIT))
        ).alias("token"),
    ).filter(F.length("token") > 0)

    e_tok = (
        entities.select(
            F.col("id").alias("entity_id"),
            F.col("label").alias("entity_label"),
            "names",
            F.explode(
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            "names", lambda n: F.split(F.lower(n), _TOKEN_SPLIT)
                        )
                    )
                )
            ).alias("token"),
        )
        .filter(F.length("token") > 0)
    )
    # skew guard: hash-downsample hub tokens to ~cap entities (no window —
    # a per-token row_number would single-task the hottest token)
    tok_counts = e_tok.groupBy("token").agg(F.count("*").alias("tc"))
    e_tok = (
        e_tok.join(tok_counts, "token")
        .filter(
            (F.col("tc") <= _MAX_CANDIDATES_PER_TOKEN)
            | (
                F.pmod(
                    F.xxhash64("entity_id", "token"),
                    F.ceil(F.col("tc") / F.lit(_MAX_CANDIDATES_PER_TOKEN)).cast("long"),
                )
                == 0
            )
        )
        .drop("tc")
    )

    blocked = (
        m_tok.join(e_tok, "token")
        .select("mention", "entity_id", "entity_label", "names")
        .dropDuplicates(["mention", "entity_id"])
    )

    if sim_mode == "dice":
        from nous_spark.functions.similarity import dice_sim_col, split_words_col

        m_words = split_words_col(F.col("mention"))
        sim = F.array_max(
            F.transform(
                "names", lambda nm: dice_sim_col(m_words, split_words_col(nm))
            )
        )
        verified = (
            blocked.withColumn("name_sim", F.round(sim, 6))
            .filter(F.col("name_sim") >= phrase_match_threshold)
            .drop("names")
        )
    else:

        @F.pandas_udf(T.DoubleType())
        def best_name_sim(mention: pd.Series, names: pd.Series) -> pd.Series:
            from nous_spark.functions.similarity import string_sim

            out = []
            for m, ns in zip(mention, names):
                best = 0.0
                for n in ns if ns is not None else []:
                    s = string_sim(m, n, phrase_match_threshold,
                                   decision_only=True)
                    if s > best:
                        best = s
                out.append(best)
            return pd.Series(out)

        verified = (
            blocked.withColumn("name_sim", best_name_sim("mention", "names"))
            .filter(F.col("name_sim") >= phrase_match_threshold)
            .drop("names")
        )

    if max_candidates_per_mention is not None:
        # top-C per mention STRING (the reference's edgeLimit analog),
        # applied on the distinct domain BEFORE the doc fan-out so the
        # window never shuffles doc-multiplied rows; partitioned per
        # mention, never global
        from pyspark.sql import Window

        w = Window.partitionBy("mention").orderBy(
            F.col("name_sim").desc(), F.col("entity_id")
        )
        verified = (
            verified.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= max_candidates_per_mention)
            .drop("__rk")
        )

    # fan the per-mention-string verdicts back out to (doc_id, mention)
    return mentions.select("doc_id", "mention").dropDuplicates().join(
        verified, "mention"
    ).select("doc_id", "mention", "entity_id", "entity_label", "name_sim")


def best_prefix_match(targets: DataFrame, labels: DataFrame,
                      target_col: str = "query", label_col: str = "label") -> DataFrame:
    """J11 (PathSearchUtils.getBestStringMatch, PathSearchUtils.scala:17-38):
    for each query string, the lexicographically smallest label it is a
    prefix of (min_by over startswith-join)."""
    t = targets.select(F.col(target_col).alias("query")).distinct()
    l = labels.select(F.col(label_col).alias("label")).distinct()
    j = t.join(l, F.col("label").startswith(F.col("query")))
    return j.groupBy("query").agg(F.min("label").alias("best_match"))


def candidate_neighborhoods(edges: DataFrame, vertices: DataFrame,
                            candidate_ids: DataFrame) -> DataFrame:
    """J3 (NodeProp.getOneHopNbrIdsLabels, NodeProp.scala:7-22): one-hop
    neighbor label sets for candidate vertices, both directions, computed
    for all docs in one pass (reference collects per doc block)."""
    cand = candidate_ids.select(F.col("entity_id").alias("id")).distinct()
    v = vertices.select(F.col("id").alias("nid"), F.col("label").alias("nbr_label"))
    fwd = edges.join(v, edges.dst == v.nid).select(
        F.col("src").alias("id"), "nbr_label"
    )
    rev = edges.join(v, edges.src == v.nid).select(
        F.col("dst").alias("id"), "nbr_label"
    )
    return (
        fwd.unionByName(rev)
        .join(cand, "id", "left_semi")
        .groupBy("id")
        .agg(F.collect_set("nbr_label").alias("nbr_labels"))
        .withColumnRenamed("id", "entity_id")
    )


def popularity_scores(candidates: DataFrame, nbr_counts: DataFrame) -> DataFrame:
    """A7 (CollectiveEntityDisScores.getPopularityScore, reference
    CollectiveEntityDisScores.scala:103-123) as a distributed op:
    pop(m, e) = |nbrs(e)| / Σ_{e' ∈ cand(m)} |nbrs(e')|, windowed per
    (doc_id, mention) — never a global window.

    candidates(doc_id, mention, entity_id) × nbr_counts(entity_id, n_nbrs)
    → + pop_score."""
    from pyspark.sql import Window

    j = candidates.join(nbr_counts, "entity_id")
    w = Window.partitionBy("doc_id", "mention")
    return j.withColumn(
        "pop_score",
        F.round(
            F.col("n_nbrs")
            / F.greatest(F.sum("n_nbrs").over(w), F.lit(1)).cast("double"),
            6,
        ),
    )


def context_scores(
    candidates: DataFrame, mentions: DataFrame, nbrs: DataFrame
) -> DataFrame:
    """A8 (getMentionEntityScore context half,
    CollectiveEntityDisScores.scala:124-147) with the exact-match matcher:
    sim(m, e) = 2·|{ctx mention equal (lowercase) to some nbr label}|
                / (|ctx(m)| · |nbrs(e)|).

    The full-StringSim matcher runs inside the per-doc solve
    (``_solve_doc``); this distributed variant trades the fuzzy matcher for
    a pure join plan that covers the whole corpus in one pass.

    candidates(doc_id, mention, entity_id), mentions(doc_id, mention),
    nbrs(entity_id, nbr_label) → (doc_id, mention, entity_id, ctx_score).

    The deduplicated mention/neighbor/candidate frames each feed two or
    three join arms, and the caller's frames are often themselves
    join-built — left lazy, Catalyst re-executes that construction per
    arm (audited: 12 redundant scans / 18 Exchanges on the gate). Each
    is materialized once via localCheckpoint; the context self-join
    stays lazy (it re-derives from the checkpointed mention frame, so
    its re-execution is a cheap block-read self-join, while
    materializing the |mentions|²-per-doc expansion itself would cost
    more than it saves)."""
    m = mentions.select("doc_id", "mention").distinct() \
        .localCheckpoint(eager=True)
    ctx = (
        m.alias("a")
        .join(m.alias("b"), "doc_id")
        .filter(F.col("a.mention") != F.col("b.mention"))
        .select(
            "doc_id",
            F.col("a.mention").alias("mention"),
            F.lower(F.col("b.mention")).alias("ctx_mention"),
        )
    )
    n_ctx = ctx.groupBy("doc_id", "mention").agg(
        F.countDistinct("ctx_mention").alias("n_ctx")
    )
    nbr_l = nbrs.select(
        F.col("entity_id").alias("__eid"), F.lower(F.col("nbr_label")).alias("nl")
    ).distinct().localCheckpoint(eager=True)
    n_nbr = nbr_l.groupBy("__eid").agg(F.count("*").alias("n_nbrs"))
    cand = candidates.select("doc_id", "mention", "entity_id").distinct() \
        .localCheckpoint(eager=True)
    matched = (
        cand.join(ctx, ["doc_id", "mention"])
        .join(
            nbr_l,
            (F.col("entity_id") == F.col("__eid"))
            & (F.col("ctx_mention") == F.col("nl")),
        )
        .groupBy("doc_id", "mention", "entity_id")
        .agg(F.countDistinct("ctx_mention").alias("common"))
    )
    return (
        cand.join(matched, ["doc_id", "mention", "entity_id"], "left")
        .join(n_ctx, ["doc_id", "mention"], "left")
        .join(n_nbr, cand.entity_id == n_nbr["__eid"], "left")
        .select(
            "doc_id",
            "mention",
            "entity_id",
            F.round(
                F.lit(2.0)
                * F.coalesce("common", F.lit(0))
                / F.greatest(
                    F.coalesce("n_ctx", F.lit(0)) * F.coalesce("n_nbrs", F.lit(0)),
                    F.lit(1),
                ).cast("double"),
                6,
            ).alias("ctx_score"),
        )
    )


def semantic_relatedness_pairs(
    nbrs: DataFrame, n_graph_vertices: int,
    max_label_df: int | None = None,
) -> DataFrame:
    """A9 (getSemanticRelatedness, CollectiveEntityDisScores.scala:60-101;
    Milne-Witten) as a distributed inverted-index plan — never all-pairs:
    entities sharing a neighbor label meet in the label-keyed self-join.

        sr(a,b) = 1 − (ln max(|A|,|B|) − ln |A∩B|)
                     / (ln max(N,2) − ln max(min(|A|,|B|), 1))

    for entity pairs a < b with |A∩B| > 0 and sr > 0 (same guards as the
    per-doc solve in ``_solve_doc``).

    nbrs(entity_id, nbr_label) → (e1, e2, relatedness).

    Scale shape: a label shared by k entities generates k·(k-1)/2
    candidate pairs in the label-keyed self-join BEFORE any score filter
    can discard them — the same hub hazard as any common-neighbor method
    (a real KG's head label, "person"/"USA", is shared by millions of
    entities → a 10¹²-pair skewed stage). ``max_label_df`` drops labels
    with document frequency above the cap before the join, exactly as
    ``adamic_adar_scores``'s ``max_neighbor_degree``: a label shared by
    k of N entities carries ln(N/k) bits of association evidence — the
    idf argument every inverted-index relatedness system applies — so
    past the cap it contributes ~zero Milne-Witten signal at quadratic
    cost. Sizes |A| and the pair counts are both computed on the pruned
    index (relatedness over the informative-label sub-bipartite-graph),
    keeping the measure internally consistent; candidate volume becomes
    Σ_label min(df, cap)² — linear in the index for fixed cap.

    The deduplicated index feeds three join arms (both self-join sides +
    the size aggregate), so it is materialized once — same audit finding
    as context_scores; output volume (common-neighbor pairs) remains the
    honest cost driver."""
    import math

    n = nbrs.select("entity_id", "nbr_label").distinct()
    if max_label_df is not None:
        keep = (
            n.groupBy("nbr_label")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_label_df)
            .select("nbr_label")
        )
        n = n.join(keep, "nbr_label", "left_semi")
    n = n.localCheckpoint(eager=True)
    sizes = n.groupBy("entity_id").agg(F.count("*").alias("sz"))
    common = (
        n.alias("x")
        .join(n.alias("y"), "nbr_label")
        .filter(F.col("x.entity_id") < F.col("y.entity_id"))
        .groupBy(
            F.col("x.entity_id").alias("e1"), F.col("y.entity_id").alias("e2")
        )
        .agg(F.count("*").alias("common"))
    )
    j = (
        common.join(
            sizes.select(F.col("entity_id").alias("e1"), F.col("sz").alias("sz1")),
            "e1",
        )
        .join(
            sizes.select(F.col("entity_id").alias("e2"), F.col("sz").alias("sz2")),
            "e2",
        )
    )
    mx = F.greatest("sz1", "sz2").cast("double")
    mn = F.greatest(F.least("sz1", "sz2"), F.lit(1)).cast("double")
    log_n = math.log(max(n_graph_vertices, 2))
    denom = F.lit(log_n) - F.log(mn)
    sr = F.lit(1.0) - (F.log(mx) - F.log(F.col("common").cast("double"))) / denom
    return (
        j.filter(denom > 0)
        .select("e1", "e2", F.round(sr, 6).alias("relatedness"))
        .filter(F.col("relatedness") > 0)
    )


_LINK_DDL = ("doc_id string, mention string, entity_id bigint, "
             "entity_label string, score double")
_LINK_COLS = [f.split()[0] for f in _LINK_DDL.split(", ")]


@lru_cache(maxsize=1 << 16)
def _phrase_match(label: str, mention: str, threshold: float) -> bool:
    """A8's matcher: does a neighbour label match a context mention.
    Labels and mentions repeat across the docs one process solves (the
    driver path's whole batch, a Python worker's run of groups), so the
    decision is memoized across calls, not per doc."""
    from nous_spark.functions.similarity import string_sim

    return string_sim(label, mention, threshold,
                      decision_only=True) > threshold


def _solve_doc(pdf: pd.DataFrame, lam: float, phrase_threshold: float,
               mention_entity_threshold: float, n_graph_vertices: int) -> pd.DataFrame:
    """Per-document referent-graph inference — exact reference math:
    scores (CollectiveEntityDisScores.scala:103-147), normalized referent
    graph (ReferentGraph.scala:9-83), solve + argmax
    (EvidenceProp.scala:36-50,107-118).

    One NumPy kernel over the doc's candidate rows (doc_id, mention,
    entity_id, entity_label, nbr_labels, evidence_wt), shared by the
    driver and the distributed path. Mentions, entities and neighbour
    labels are indexed in sorted order, so the output is a function of
    the row set, never of the row order Spark's shuffle delivers:
      - A8: a label × mention StringSim match matrix; the entity ×
        mention product counts, per candidate, the context mentions its
        neighbourhood matches;
      - A9: entity × label incidence products give |A∩B| for every pair
        of kept entities; a pair is an edge when its entities are
        candidates of two different mentions (mention-pair mask
        Pᵀ·triu(1)·P). Both orientations of a pair add their edge to the
        source's total, and a self-pair counts twice — the edge multiset
        of the reference's per-pair loop;
      - W3: within 1e-9 relative of a mention's best score, the smallest
        entity_id wins (float noise never picks the entity).
    A mention whose candidates all score under
    ``mention_entity_threshold`` gets no row (the caller mints it
    ``nous: <mention>``)."""
    import numpy as np

    mentions, mi = np.unique(pdf["mention"].to_numpy(), return_inverse=True)
    ents, first, ei = np.unique(pdf["entity_id"].to_numpy(), return_index=True,
                                return_inverse=True)
    n_m = len(mentions)
    nbr_sets = [set(x) if x is not None else set()
                for x in pdf["nbr_labels"].to_numpy()[first]]
    labels = sorted(set().union(*nbr_sets))
    l_index = {nl: i for i, nl in enumerate(labels)}
    inc = np.zeros((len(ents), len(labels)))  # entity × neighbour label
    for k, s in enumerate(nbr_sets):
        inc[k, [l_index[nl] for nl in s]] = 1.0
    size = inc.sum(1)

    # A7+A8 combined mention→entity score (getMentionEntityScore)
    match = np.array(
        [[_phrase_match(nl, cm, phrase_threshold) for cm in mentions]
         for nl in labels],
        dtype=float,
    ).reshape(len(labels), n_m)
    hit = (inc @ match) > 0  # entity × context mention
    common = hit[ei].sum(1) - hit[ei, mi]
    sim = 2.0 * common / np.maximum((n_m - 1) * size[ei], 1)
    total_nbrs = np.bincount(mi, weights=size[ei], minlength=n_m)
    pop = size[ei] / np.maximum(total_nbrs[mi], 1)
    score = 0.5 * pop + 0.5 * sim
    keep = score >= mention_entity_threshold
    if not keep.any():
        return pd.DataFrame(columns=_LINK_COLS)

    kept, ki = np.unique(ei[keep], return_inverse=True)
    n = n_m + len(kept)
    cand = np.zeros((n_m, len(kept)))  # P: mention × kept entity
    cand[mi[keep], ki] = 1.0
    s_me = np.zeros((n_m, len(kept)))
    s_me[mi[keep], ki] = score[keep]

    # A9 semantic relatedness between candidates of different mentions
    sz = size[kept]
    inter = inc[kept] @ inc[kept].T
    mn = np.maximum(np.minimum.outer(sz, sz), 1)
    with np.errstate(divide="ignore", invalid="ignore"):
        denom = np.log(max(n_graph_vertices, 2)) - np.log(mn)
        sr = 1 - (np.log(np.maximum.outer(sz, sz)) - np.log(inter)) / denom
    pair = cand.T @ np.triu(np.ones((n_m, n_m)), 1) @ cand > 0
    key = pair & (inter > 0) & (denom > 0) & (sr > 0)
    sem = np.where(key | key.T, sr, 0.0)
    mult = key.astype(float) + key.T  # edges src→dst in the loop's multiset

    # referent graph: per-source normalized weights; T[dst, src] = w
    tot_m = s_me.sum(1)
    tot_e = (mult * sem).sum(1)
    tm = np.zeros((n, n))
    with np.errstate(divide="ignore", invalid="ignore"):
        tm[n_m:, :n_m] = np.where(tot_m[:, None] > 0, s_me / tot_m[:, None], 0.0).T
        tm[n_m:, n_m:] = np.where(tot_e[:, None] > 0, sem / tot_e[:, None], 0.0).T
    e_vec = np.zeros((n, 1))
    e_vec[mi, 0] = pdf["evidence_wt"].to_numpy()

    r_vec = lam * np.linalg.inv(np.eye(n) - (1 - lam) * tm) @ e_vec

    # argmax per mention of M[i, j] * r[j] over its own kept candidates
    sc = np.where(cand > 0, tm[n_m:, :n_m].T * r_vec[n_m:, 0], -np.inf)
    best = sc.max(1)
    pick = (sc >= (best - 1e-9 * np.abs(best))[:, None]).argmax(1)
    rows = cand.any(1)
    eid = ents[kept[pick[rows]]]
    return pd.DataFrame({
        "doc_id": pdf["doc_id"].iloc[0],
        "mention": mentions[rows],
        "entity_id": eid,
        "entity_label": pdf["entity_label"].to_numpy()[first][kept[pick[rows]]],
        "score": sc[rows, pick[rows]],
    })


def _link_driver(mentions: DataFrame, kg_triples: DataFrame,
                 phrase_match_threshold: float, mention_entity_threshold: float,
                 lam: float, candidate_types: list[str] | None,
                 max_candidates_per_mention: int | None) -> DataFrame | None:
    """``link_entities`` on the driver: one Arrow collect of the triples
    and one of the mentions, then J1-J3 in Python dicts, the per-doc
    ``_solve_doc`` and the ``nous:`` minting, handed back through
    ``hand_back``. Every id is projected JVM-side (xxhash64 of subj, obj
    and ``'nous: '||mention``), and tokens follow Spark's ``split`` over
    ``lower`` with the same pattern, so rows equal the distributed
    path's. Returns None — the caller goes distributed — when a mention
    token blocks to more than ``_MAX_CANDIDATES_PER_TOKEN`` entities:
    the hub hash-sample stays JVM-side."""
    import re

    from nous_spark.functions.similarity import string_sim
    from nous_spark.localrel import hand_back

    kg = kg_triples.select(
        "subj", "pred", "obj",
        F.xxhash64("subj").alias("sid"), F.xxhash64("obj").alias("oid"),
    ).toPandas()
    ment = mentions.select(
        "doc_id", "mention", "evidence_wt",
        F.xxhash64(F.concat(F.lit("nous: "), F.col("mention"))).alias("nous_id"),
    ).toPandas()

    # J1: vertices (label -> id) and alias names
    subj, obj = kg["subj"].to_numpy(), kg["obj"].to_numpy()
    sid, oid = kg["sid"].to_numpy(), kg["oid"].to_numpy()
    vid = dict(zip(subj, sid))
    vid.update(zip(obj, oid))
    n_vertices = len(vid)
    names: dict[int, set[str]] = {}
    is_alias = kg["pred"].str.lower().isin(ALIAS_PREDICATES).to_numpy()
    for i, a in zip(sid[is_alias], obj[is_alias]):
        if a is not None:
            names.setdefault(i, set()).add(a)
    typed = None
    if candidate_types is not None:
        typed = set(sid[((kg["pred"] == "rdf:type")
                         & kg["obj"].isin(candidate_types)).to_numpy()])
    label: dict[int, str] = {}
    for lb, i in vid.items():
        # a null label splits to no token: never a candidate
        if lb is None or (typed is not None and i not in typed):
            continue
        label[i] = lb
        names[i] = names.get(i, set()) | {lb}
        if typed is not None:
            names[i].add(lb.split("::")[-1])

    # J2: token blocking on the mention tokens, StringSim verify, top-C
    split = re.compile(_TOKEN_SPLIT)

    def tokens(s: str) -> set[str]:
        return {t for t in split.split(s.lower()) if t}

    m_tok = {m: tokens(m) for m in set(ment["mention"]) if m is not None}
    wanted = set().union(*m_tok.values())
    postings: dict[str, list[int]] = {}
    for i in label:
        for t in set().union(*map(tokens, names[i])) & wanted:
            postings.setdefault(t, []).append(i)
    if any(len(p) > _MAX_CANDIDATES_PER_TOKEN for p in postings.values()):
        return None
    cands: dict[str, list[int]] = {}
    for m, toks in m_tok.items():
        verified = []
        for i in set().union(*(postings.get(t, ()) for t in toks)):
            best = 0.0
            for nm in names[i]:
                best = max(best, string_sim(m, nm, phrase_match_threshold,
                                            decision_only=True))
            if best >= phrase_match_threshold:
                verified.append((-best, i))
        verified.sort()
        cands[m] = [i for _, i in verified[:max_candidates_per_mention]]

    # J3: one-hop neighbour label sets of the candidates, both directions
    nbrs: dict[int, set[str]] = {i: set() for c in cands.values() for i in c}
    for s, o, i, j in zip(subj, obj, sid, oid):
        if i in nbrs and o is not None:
            nbrs[i].add(o)
        if j in nbrs and s is not None:
            nbrs[j].add(s)

    scored = pd.DataFrame(
        [(d, m, i, label[i], list(nbrs[i]), w)
         for d, m, w in zip(ment["doc_id"], ment["mention"], ment["evidence_wt"])
         for i in cands.get(m, ())],
        columns=["doc_id", "mention", "entity_id", "entity_label",
                 "nbr_labels", "evidence_wt"],
    )
    solved = [
        _solve_doc(g, lam, phrase_match_threshold, mention_entity_threshold,
                   n_vertices)
        for _, g in scored.groupby("doc_id", sort=False, dropna=False)
    ]
    linked = pd.concat([s for s in solved if len(s)]
                       or [pd.DataFrame(columns=_LINK_COLS)])

    # unmatched mentions → "nous: <mention>" (reference :101-109)
    done = set(zip(linked["doc_id"], linked["mention"]))
    un = ment[[(d, m) not in done
               for d, m in zip(ment["doc_id"], ment["mention"])]]
    return hand_back(mentions.sparkSession, {
        "doc_id": [*linked["doc_id"], *un["doc_id"]],
        "mention": [*linked["mention"], *un["mention"]],
        "entity_id": [*linked["entity_id"], *un["nous_id"]],
        "entity_label": [*linked["entity_label"],
                         *(None if m is None else "nous: " + m
                           for m in un["mention"])],
        "score": [*linked["score"], *[0.0] * len(un)],
    }, _LINK_DDL)


def link_entities(
    mentions: DataFrame,
    kg_triples: DataFrame,
    phrase_match_threshold: float = 0.7,
    mention_entity_threshold: float = 0.0,
    lam: float = 0.00001,
    candidate_types: list[str] | None = None,
    max_candidates_per_mention: int | None = 50,
) -> DataFrame:
    """Full collective linking: returns (doc_id, mention, entity_id,
    entity_label, score). Unmatched mentions become 'nous: <mention>'
    entities (reference :101-109). mentions must carry doc_id, mention;
    evidence_wt defaults to 1/#mentions-in-doc (NLPTripleParser.scala:79).

    ``candidate_types``: restrict the candidate universe to entities with
    an rdf:type in the list (e.g. ["FUNCTION", "CLASS", "MODULE"] for code
    identifier mentions) — candidates stay typed-correct and the blocked
    join shrinks by the prose share of the KG. Neighborhood/context
    features still use the FULL graph.

    Path choice: up to ``_LINK_DRIVER_CAP`` KG triples the whole link
    runs on the driver (``_link_driver``: two Arrow collects, no join
    plan), unless a mention token blocks to more than
    ``_MAX_CANDIDATES_PER_TOKEN`` entities — that hub fallback takes the
    distributed plan, whose hash-sample of the hub stays JVM-side. Larger
    KGs take the distributed plan: J1-J3 as joins and aggregations, the
    solve as ``applyInPandas`` per doc. Both paths call the same
    ``_solve_doc``, so they return the same rows."""
    if "evidence_wt" not in mentions.columns:
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id")
        mentions = mentions.withColumn(
            "evidence_wt",
            1.0 / F.size(F.collect_set("mention").over(w)).cast("double"),
        )
    mentions = mentions.select(
        F.col("doc_id").cast("string").alias("doc_id"), "mention", "evidence_wt"
    ).dropDuplicates(["doc_id", "mention"])
    if kg_triples.count() <= _LINK_DRIVER_CAP:
        linked = _link_driver(
            mentions, kg_triples, phrase_match_threshold,
            mention_entity_threshold, lam, candidate_types,
            max_candidates_per_mention,
        )
        if linked is not None:
            return linked
    # referenced by the candidate join, the scored join and the unmatched
    # anti-join — persist once instead of recomputing the upstream thrice
    mentions = mentions.persist()

    ents = vertices_with_alias(kg_triples)
    if candidate_types is not None:
        typed = (
            kg_triples.filter(
                (F.col("pred") == "rdf:type")
                & F.col("obj").isin(candidate_types)
            )
            .select(F.xxhash64("subj").alias("id"))
            .distinct()
        )
        # code entities are fully qualified ("repo/path::name"); the short
        # trailing segment is the alias a callee mention uses
        ents = ents.join(typed, "id", "left_semi").withColumn(
            "names",
            F.array_union(
                "names",
                F.array(F.element_at(F.split(F.col("label"), "::"), -1)),
            ),
        )
    edges = kg_edges(kg_triples)
    verts = kg_vertices(kg_triples)
    n_vertices = verts.count()

    # max_candidates_per_mention bounds the per-doc solve at O(mentions·C)
    # on hub names ("connect", "utils") that would otherwise match
    # thousands of entities; applied pre-fan-out inside candidate_pairs
    cands = candidate_pairs(
        mentions, ents, phrase_match_threshold,
        max_candidates_per_mention=max_candidates_per_mention,
    )
    nbrs = candidate_neighborhoods(edges, verts, cands)
    scored_input = (
        cands.join(nbrs, "entity_id", "left")
        .join(mentions, ["doc_id", "mention"])
        .withColumn("nbr_labels", F.coalesce(
            "nbr_labels", F.array().cast("array<string>")))
    )

    linked = scored_input.groupBy("doc_id").applyInPandas(
        lambda pdf: _solve_doc(
            pdf, lam, phrase_match_threshold, mention_entity_threshold, n_vertices
        ),
        schema=_LINK_DDL,
    ).persist()  # read twice: result union + unmatched anti-join

    unmatched = (
        mentions.join(linked.select("doc_id", "mention"), ["doc_id", "mention"],
                      "left_anti")
        .select(
            "doc_id",
            "mention",
            F.xxhash64(F.concat(F.lit("nous: "), F.col("mention"))).alias("entity_id"),
            F.concat(F.lit("nous: "), F.col("mention")).alias("entity_label"),
            F.lit(0.0).alias("score"),
        )
    )
    return linked.unionByName(unmatched)
