"""Entity linking + canonicalization tests.

Scenario modeled on the reference's EntityDisambiguation example: a small
KG with alias edges and typed neighborhoods, ambiguous mentions resolved
collectively (context decides), unmatched mentions minted as 'nous: X'.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nous_spark.functions.similarity import js_divergence, string_sim
from nous_spark.operators import linking
from nous_spark.operators.canonicalize import canonicalize, canonical_mapping
from nous_spark.operators.graph import connected_components, degrees
from nous_spark.operators.linking import (
    _solve_doc,
    candidate_pairs,
    link_entities,
    vertices_with_alias,
)


def test_string_sim_reference_semantics():
    # exact word-set Dice when above threshold
    assert string_sim("united states", "united states") == 1.0
    assert abs(string_sim("world congress", "world congress centre") - 0.8) < 1e-9
    # below-threshold falls back to merge alignment; typos still align
    assert string_sim("atlanta", "atlanta georgia", 0.7) >= 2 / 3 - 1e-9
    assert string_sim("mikrosoft", "microsoft", 0.7) > 0.9
    assert string_sim("apple", "orange", 0.7) < 0.5


def test_string_sim_empty_tokens_never_match():
    # _split_words keeps internal empty tokens ('a, b' → ['a','','b']);
    # in the Scala reference d/0.0 is NaN which never satisfies
    # `>= min_word`, so empty-vs-empty must NOT count as a +2.0 match —
    # disjoint words with matching separators stay dissimilar
    assert string_sim("a, b", "x, y", 0.7) < 0.4
    # and empty tokens don't inflate genuinely similar phrases either
    s = string_sim("world, congress", "world, kongress", 0.7)
    assert 0.4 < s < 1.0


def test_js_divergence():
    assert js_divergence([0.5, 0.5], [0.5, 0.5]) == pytest.approx(0.0)
    assert js_divergence([1.0, 0.0], [0.0, 1.0]) > 0.3


KG = [
    # two 'Paris' entities with different neighborhoods
    ("paris_france", "rdfs:label", "Paris"),
    ("paris_france", "in_country", "france"),
    ("paris_france", "near", "versailles"),
    ("paris_texas", "rdfs:label", "Paris"),
    ("paris_texas", "in_state", "texas"),
    ("paris_texas", "near", "dallas"),
    ("france", "rdfs:label", "France"),
    ("versailles", "rdfs:label", "Versailles"),
    ("texas", "rdfs:label", "Texas"),
    ("dallas", "rdfs:label", "Dallas"),
]


@pytest.fixture(scope="module")
def kg(spark):
    return spark.createDataFrame(KG, ["subj", "pred", "obj"])


def test_vertices_with_alias(kg):
    v = vertices_with_alias(kg)
    row = v.filter(F.col("label") == "paris_france").collect()[0]
    assert "Paris" in row.names and "paris_france" in row.names


def test_candidate_pairs_blocked(spark, kg):
    mentions = spark.createDataFrame(
        [("d1", "Paris"), ("d1", "Dallas"), ("d1", "zzz_nothing")],
        ["doc_id", "mention"],
    )
    ents = vertices_with_alias(kg)
    cands = candidate_pairs(mentions, ents, 0.7).collect()
    paris = {r.entity_label for r in cands if r.mention == "Paris"}
    assert {"paris_france", "paris_texas"} <= paris
    assert not any(r.mention == "zzz_nothing" for r in cands)


def test_collective_linking_context_decides(spark, kg):
    """'Paris' alongside 'Dallas' should resolve to paris_texas (shared
    neighborhood), alongside 'Versailles' to paris_france."""
    mentions = spark.createDataFrame(
        [("texas_doc", "Paris"), ("texas_doc", "Dallas"),
         ("france_doc", "Paris"), ("france_doc", "Versailles"),
         ("france_doc", "unseen_widget_xyz")],
        ["doc_id", "mention"],
    )
    links = link_entities(mentions, kg, phrase_match_threshold=0.6).collect()
    by_key = {(r.doc_id, r.mention): r for r in links}
    assert by_key[("texas_doc", "Paris")].entity_label == "paris_texas"
    assert by_key[("france_doc", "Paris")].entity_label == "paris_france"
    # unmatched mention → nous: entity (reference :101-109)
    assert by_key[("france_doc", "unseen_widget_xyz")].entity_label == \
        "nous: unseen_widget_xyz"
    assert by_key[("france_doc", "unseen_widget_xyz")].score == 0.0


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], ["src", "dst"]
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3]
    assert comp[10] == comp[11]
    assert comp[1] != comp[10]


def test_degrees(spark):
    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], ["src", "dst"])
    d = {r.id: r.degree for r in degrees(edges).collect()}
    assert d == {1: 2, 2: 2, 3: 2}


def test_canonicalize_collapses_aliases(spark):
    triples = spark.createDataFrame(
        [
            ("acme corp", "rdfs:label", "ACME"),
            ("ACME", "owl:sameAs", "acme incorporated"),
            ("acme corp", "makes", "widgets"),
            ("acme incorporated", "employs", "alice"),
            ("other co", "makes", "gadgets"),
        ],
        ["subj", "pred", "obj"],
    ).withColumn("repo", F.lit("r")).withColumn("path", F.lit("p"))
    canon, mapping = canonicalize(triples)
    m = {r.label: r.canonical_label for r in mapping.collect()}
    # canonical = longest label in the component (most specific)
    assert m["acme corp"] == m["ACME"] == m["acme incorporated"] == "acme incorporated"
    rows = canon.collect()
    subs = {r.subj for r in rows}
    assert "acme corp" not in subs and "ACME" not in subs
    assert ("other co") in subs  # untouched


def test_canonicalize_code_short_names(spark):
    triples = spark.createDataFrame(
        [
            ("r1/a.py", "defines_function", "r1/a.py::load_data", "r1", "a.py"),
            ("r1/b.py", "calls", "load_data", "r1", "b.py"),
            # ambiguous in r2: two defs with same short name → must NOT merge
            ("r2/x.py", "defines_function", "r2/x.py::run", "r2", "x.py"),
            ("r2/y.py", "defines_function", "r2/y.py::run", "r2", "y.py"),
            ("r2/z.py", "calls", "run", "r2", "z.py"),
        ],
        ["subj", "pred", "obj", "repo", "path"],
    )
    canon, mapping = canonicalize(triples)
    m = {r.label: r.canonical_label for r in mapping.collect()}
    assert m["load_data"] == "r1/a.py::load_data"
    # the call edge now points at the fully-qualified def
    call_objs = {r.obj for r in canon.filter(F.col("pred") == "calls").collect()}
    assert "r1/a.py::load_data" in call_objs
    # ambiguous short name must stay unresolved (no merge of distinct fns)
    assert "run" in call_objs


def test_candidate_types_restriction(spark):
    """candidate_types restricts the candidate universe to typed entities;
    other mentions fall back to nous: minting."""
    kg = spark.createDataFrame(
        [
            ("r/a.py::run", "rdf:type", "FUNCTION"),
            ("r/a.py", "defines_function", "r/a.py::run"),
            ("run club", "rdf:type", "O"),      # prose entity sharing token
            ("run club", "is in", "berlin"),
        ],
        ["subj", "pred", "obj"],
    )
    mentions = spark.createDataFrame([("d1", "run")], ["doc_id", "mention"])
    links = link_entities(
        mentions, kg, phrase_match_threshold=0.4,
        candidate_types=["FUNCTION", "CLASS", "MODULE"],
    ).collect()
    by = {(r.doc_id, r.mention): r.entity_label for r in links}
    # prose 'run club' must not be a candidate; FUNCTION entity wins
    assert by[("d1", "run")] == "r/a.py::run"


# ---------------------------------------------------------------- solve

CODE_TYPES = ["FUNCTION", "CLASS", "MODULE"]
SCORED_COLS = ["doc_id", "mention", "entity_id", "entity_label",
               "name_sim", "nbr_labels", "evidence_wt"]


def _loop_solve_doc(pdf, lam, phrase_threshold, mention_entity_threshold,
                    n_graph_vertices):
    """The per-doc referent-graph solve as a plain Python loop: the
    reference oracle for ``_solve_doc``'s NumPy kernel. Its argmax takes
    the first strict maximum over all kept entities, so among candidates
    whose scores tie within float noise the row order picks; the extra
    ``tie`` column flags a best score another entity matches within 1e-9
    relative. A mention whose candidates all fall below
    ``mention_entity_threshold`` gets no row."""
    doc_id = pdf["doc_id"].iloc[0]
    mentions = sorted(pdf["mention"].unique())
    m_index = {m: i for i, m in enumerate(mentions)}
    n_m = len(mentions)
    evid = dict(zip(pdf["mention"], pdf["evidence_wt"]))

    def matches(nl, cm):
        return string_sim(nl, cm, phrase_threshold,
                          decision_only=True) > phrase_threshold

    ent_info, cand = {}, {m: [] for m in mentions}
    for r in pdf.itertuples(index=False):
        nbrs = list(r.nbr_labels) if r.nbr_labels is not None else []
        ent_info[r.entity_id] = (r.entity_label, nbrs)
        cand[r.mention].append(r.entity_id)

    ment_ent_score = {}
    for m in mentions:
        ctx = [x for x in mentions if x != m]
        total_nbrs = sum(len(ent_info[eid][1]) for eid in cand[m])
        for eid in cand[m]:
            nbrs = ent_info[eid][1]
            common = sum(any(matches(nl, cm) for nl in nbrs) for cm in ctx)
            sim = 2.0 * common / max(len(ctx) * len(nbrs), 1)
            pop = len(nbrs) / max(total_nbrs, 1)
            score = 0.5 * pop + 0.5 * sim
            if score >= mention_entity_threshold:
                ment_ent_score[(m, eid)] = score

    kept_entities = sorted({eid for (_, eid) in ment_ent_score})
    e_index = {e: n_m + i for i, e in enumerate(kept_entities)}
    n = n_m + len(kept_entities)
    cols = ["doc_id", "mention", "entity_id", "entity_label", "score", "tie"]
    if not kept_entities:
        return pd.DataFrame(columns=cols)

    sem = {}
    for i in range(n_m):
        for j in range(i + 1, n_m):
            for e1 in [e for (mm, e) in ment_ent_score if mm == mentions[i]]:
                for e2 in [e for (mm, e) in ment_ent_score
                           if mm == mentions[j]]:
                    n1, n2 = set(ent_info[e1][1]), set(ent_info[e2][1])
                    common = len(n1 & n2)
                    if common == 0:
                        continue
                    mx, mn = max(len(n1), len(n2)), min(len(n1), len(n2))
                    denom = (np.log(max(n_graph_vertices, 2))
                             - np.log(max(mn, 1)))
                    if denom <= 0:
                        continue
                    sr = 1 - (np.log(mx) - np.log(common)) / denom
                    if sr > 0:
                        sem[(e1, e2)] = sr

    edges = {}
    for (m, eid), w in ment_ent_score.items():
        edges.setdefault(m_index[m], []).append((e_index[eid], w))
    for (e1, e2), w in sem.items():
        edges.setdefault(e_index[e1], []).append((e_index[e2], w))
        edges.setdefault(e_index[e2], []).append((e_index[e1], w))
    tm = np.zeros((n, n))
    for src, outs in edges.items():
        tot = sum(w for _, w in outs)
        if tot <= 0:
            continue
        for dst, w in outs:
            tm[dst, src] = w / tot
    e_vec = np.zeros((n, 1))
    for m, i in m_index.items():
        e_vec[i, 0] = evid.get(m, 0.0)
    r_vec = lam * np.linalg.inv(np.eye(n) - (1 - lam) * tm) @ e_vec

    linked = {m for (m, _) in ment_ent_score}
    rows = []
    for m, i in m_index.items():
        if m not in linked:
            continue
        scores = [tm[j, i] * r_vec[j, 0] for j in range(n_m, n)]
        best_j, best = -1, -np.inf
        for j, sc in enumerate(scores):
            if sc > best:
                best_j, best = j, sc
        tie = sum(sc >= best - 1e-9 * abs(best) for sc in scores) > 1
        eid = kept_entities[best_j]
        rows.append((doc_id, m, eid, ent_info[eid][0], float(best), tie))
    return pd.DataFrame(rows, columns=cols)


def test_solve_doc_skips_a_mention_whose_candidates_miss_the_threshold():
    """zeta's two candidates each score 0.25 (pop 0.5, no context match)
    under the 0.3 threshold: it gets no row (link_entities then mints
    'nous: zeta'), never another mention's entity."""
    pdf = pd.DataFrame(
        [("d", "paris", 1, "paris_texas", 1.0, ["texas", "dallas"], 0.5),
         ("d", "zeta", 2, "zeta_a", 1.0, ["alpha"], 0.5),
         ("d", "zeta", 3, "zeta_b", 1.0, ["beta"], 0.5)],
        columns=SCORED_COLS,
    )
    out = _solve_doc(pdf, 1e-5, 0.7, 0.3, 100)
    assert list(zip(out.mention, out.entity_label)) == [("paris", "paris_texas")]
    assert out["score"].iloc[0] > 0
    want = _loop_solve_doc(pdf, 1e-5, 0.7, 0.3, 100)
    assert list(want.mention) == ["paris"]


def test_solve_doc_is_row_order_independent():
    """m1's candidates 1 and 5 tie in exact arithmetic; summed in row
    order, float noise separates them either way. The kernel indexes in
    sorted order and breaks a tie within 1e-9 to the smaller entity_id,
    so every permutation of the rows gives the same frame."""
    nbrs = {1: ["l0", "l1"], 2: ["l0", "l1"], 3: ["l0"], 4: ["l0"],
            5: ["l0", "l1"], 6: ["l1"]}
    cands = {"m0": [3, 4, 5], "m1": [1, 2, 5, 6], "m2": [6, 3, 1], "m3": [4]}
    pdf = pd.DataFrame(
        [("d", m, e, f"e{e}", 1.0, nbrs[e], 0.25)
         for m, es in cands.items() for e in es],
        columns=SCORED_COLS,
    )
    want = _solve_doc(pdf, 1e-5, 0.7, 0.0, 50)
    assert dict(zip(want.mention, want.entity_id)) == {
        "m0": 5, "m1": 1, "m2": 1, "m3": 4}
    for seed in range(6):
        got = _solve_doc(pdf.sample(frac=1, random_state=seed),
                         1e-5, 0.7, 0.0, 50)
        pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                      want.reset_index(drop=True))


@pytest.fixture(scope="module")
def corpus_link_inputs(spark):
    """(mentions, kg) per seed: a 120-doc ``generate_corpus`` extracted and
    turned into link input the way ``run_pipeline`` does."""
    from nous_spark.corpus import corpus_df
    from nous_spark.operators.extraction import extract_triples_normalized

    made = {}

    def get(seed):
        if seed not in made:
            triples, _ = extract_triples_normalized(
                corpus_df(spark, n_files=120, seed=seed))
            triples = triples.persist()
            mentions = (
                triples.filter(F.col("pred") == "calls")
                .select(F.col("doc_id").cast("string").alias("doc_id"),
                        F.col("obj").alias("mention"))
                .distinct()
            )
            made[seed] = (mentions, triples.select("subj", "pred", "obj"))
        return made[seed]

    return get


def _links(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_same_links(got, want):
    assert [r[:4] for r in got] == [r[:4] for r in want]
    # the same kernel on the same rows, but np.linalg.inv's rounding
    # follows the BLAS thread count, which differs between the driver and
    # a Python worker (measured up to 1.1e-12 relative); the kernel's tie
    # tolerance is 1e-9 relative
    for a, b in zip(got, want):
        assert math.isclose(a[4], b[4], rel_tol=1e-9, abs_tol=0.0), (a, b)


@pytest.mark.parametrize("seed", [1, 3])
def test_link_driver_path_matches_distributed(corpus_link_inputs, distributed,
                                              seed):
    mentions, kg = corpus_link_inputs(seed)
    got = _links(link_entities(mentions, kg, candidate_types=CODE_TYPES))
    with distributed():
        want = _links(link_entities(mentions, kg, candidate_types=CODE_TYPES))
    assert any(not r[3].startswith("nous: ") for r in got)
    _assert_same_links(got, want)


def test_link_driver_path_matches_distributed_on_kg_fixtures(spark, kg,
                                                             distributed):
    paris = spark.createDataFrame(
        [("texas_doc", "Paris"), ("texas_doc", "Dallas"),
         ("france_doc", "Paris"), ("france_doc", "Versailles"),
         ("france_doc", "unseen_widget_xyz")],
        ["doc_id", "mention"],
    )
    code_kg = spark.createDataFrame(
        [("r/a.py::run", "rdf:type", "FUNCTION"),
         ("r/a.py", "defines_function", "r/a.py::run"),
         ("run club", "rdf:type", "O"),
         ("run club", "is in", "berlin")],
        ["subj", "pred", "obj"],
    )
    run = spark.createDataFrame([("d1", "run")], ["doc_id", "mention"])
    cases = [
        (paris, kg, dict(phrase_match_threshold=0.6)),
        (paris, kg, dict(phrase_match_threshold=0.6,
                         mention_entity_threshold=0.3)),
        (run, code_kg, dict(phrase_match_threshold=0.4,
                            candidate_types=CODE_TYPES)),
    ]
    for mentions, g, kw in cases:
        got = _links(link_entities(mentions, g, **kw))
        with distributed():
            want = _links(link_entities(mentions, g, **kw))
        _assert_same_links(got, want)


@pytest.mark.parametrize("seed", [1, 3])
def test_link_kernel_matches_loop_oracle(corpus_link_inputs, monkeypatch,
                                         seed):
    """The NumPy kernel against the loop oracle on the same scored input
    (the driver path calls ``_solve_doc`` through the module): the same
    entity unless the oracle's own scores tie within 1e-9, and scores
    within 1e-12."""
    mentions, kg = corpus_link_inputs(seed)
    got = _links(link_entities(mentions, kg, candidate_types=CODE_TYPES))
    ties = set()

    def oracle(pdf, *args):
        out = _loop_solve_doc(pdf, *args)
        ties.update(zip(out.doc_id[out.tie], out.mention[out.tie]))
        return out.drop(columns="tie")

    monkeypatch.setattr(linking, "_solve_doc", oracle)
    want = _links(link_entities(mentions, kg, candidate_types=CODE_TYPES))
    assert [r[:2] for r in got] == [r[:2] for r in want]
    for a, b in zip(got, want):
        if a[:2] not in ties:
            assert a[2:4] == b[2:4], (a, b)
        assert abs(a[4] - b[4]) <= 1e-12, (a, b)
    assert ties and len(ties) < len(got)


def test_link_entities_layout_invariant(spark, corpus_link_inputs,
                                        distributed):
    """The distributed plan returns the same rows at 1 and 16 shuffle
    partitions: the per-doc groups arrive in another row order, which the
    kernel does not see."""
    mentions, kg = corpus_link_inputs(1)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    runs = []
    try:
        with distributed():
            for parts in ("1", "16"):
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                runs.append(_links(link_entities(
                    mentions, kg, candidate_types=CODE_TYPES)))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert runs[0] == runs[1]
