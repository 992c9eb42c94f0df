"""Property-based tests (hypothesis): operators vs tiny pure-Python
oracles on randomized inputs — the cases hand-written fixtures miss."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.integers(0, 25), st.integers(0, 25)),
                min_size=1, max_size=50))
def test_connected_components_matches_union_find(spark, distributed, edges):
    from nous_spark.operators.graph import connected_components

    # union-find oracle
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    nodes = set()
    for a, b in edges:
        if a != b:
            union(a, b)
            nodes.update((a, b))
    if not nodes:
        return  # all self-loops: operator drops them by definition
    want = {}
    for n in nodes:
        want.setdefault(find(n), set()).add(n)
    want_groups = sorted(sorted(g) for g in want.values())

    e = spark.createDataFrame(list(set(edges)), ["src", "dst"])
    # the hypothesis examples share one function-scoped fixture, so the
    # distributed loop is forced per example, not per test
    with distributed():
        rows = connected_components(e).collect()
    got = {}
    for r in rows:
        got.setdefault(r.component, set()).add(r.id)
    got_groups = sorted(sorted(g) for g in got.values())
    assert got_groups == want_groups
    # component representative = min id reachable (hash-to-min invariant)
    for r in rows:
        assert r.component == min(g for g in got[r.component])
    # the driver path gives the same mapping
    assert sorted(rows) == sorted(connected_components(e).collect())


def _las_reference(lines):
    """Pure-Python transliteration of ReadHugeGraph.getGraphTimeStampedLAS
    + getFieldsFromLine + isValidLineFromGraphFile (the Scala, re-read
    independently of the Spark implementation)."""
    out = []
    seen = set()
    for ln in lines:
        if (not ln or ln.startswith("3210#") or ln.startswith("@")
                or ln.startswith("#") or ln in seen):
            if ln in seen:
                continue
            if not ln or ln.startswith(("3210#", "@", "#")):
                continue
        seen.add(ln)
        m = ln.lower().replace("<", "").replace(">", "").replace(" .", "")
        # Java split drops trailing empty fields
        fields = m.split("\t")
        while fields and fields[-1] == "":
            fields.pop()
        if not fields:
            fields = [""] if m == "" else fields
        def strip1(s):
            if s.startswith(" "):
                s = s[1:]
            if s.endswith(" "):
                s = s[:-1]
            return s
        fields = [strip1(f) for f in fields]
        if len(fields) in (3, 4):
            s, p, o = (f.replace(",", ";") for f in fields[:3])
            if s == "drones":
                s = "drone"
            if o == "drones":
                o = "drone"
            out.append((s, p, o))
        else:
            out.append(("None", "None", "None"))
    return sorted(out)


_line = st.text(
    alphabet=st.sampled_from(list("aD, .<>#@\t3210drones")), max_size=24
).filter(lambda s: "\n" not in s and "\r" not in s)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_line, min_size=1, max_size=12))
def test_las_reader_matches_python_reference(spark, tmp_path_factory, lines):
    from nous_spark.sources.readers import read_triples_las

    d = tmp_path_factory.mktemp("las")
    p = d / "f.tsv"
    p.write_text("\n".join(lines) + "\n")
    got = sorted(
        (r.subj, r.pred, r.obj) for r in read_triples_las(spark, str(p)).collect()
    )
    assert got == _las_reference(lines)


_TEXT = st.text(
    alphabet=st.sampled_from(list("ab \n\t.!é的")),
    min_size=0, max_size=60,
)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_TEXT, min_size=1, max_size=8))
def test_textstats_match_python_oracles(spark, texts):
    """repetition_scores / token_entropy / unigram_logprob_scores vs
    direct pure-Python computation on adversarial random text (unicode,
    tabs, blank lines, leading whitespace). NB Spark's trim() strips
    SPACES only — the oracles mirror that exactly."""
    import math
    import re
    from collections import Counter

    from nous_spark.operators.textstats import (
        repetition_scores,
        token_entropy,
        unigram_logprob_scores,
    )

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])

    def toks_of(t, lower=False):
        if lower:
            t = t.lower()
        return [x for x in re.split(r"\s+", t.strip(" ")) if x]

    # --- repetition ---
    got = {r.doc_id: r for r in repetition_scores(docs).collect()}
    for i, t in enumerate(texts):
        lines = [x for x in t.split("\n") if x.strip(" ")]
        paras = [x for x in re.split(r"\n\s*\n", t) if x.strip(" ")]

        def dup(arr):
            return round((len(arr) - len(set(arr))) / len(arr), 6) if arr else 0.0

        toks = toks_of(t)
        if len(toks) >= 2:
            grams = [" ".join(toks[j:j + 2]) for j in range(len(toks) - 1)]
            top = round(max(Counter(grams).values()) / len(grams), 6)
        else:
            top = 0.0
        assert got[i].dup_line_frac == dup(lines), (t, got[i])
        assert got[i].dup_para_frac == dup(paras), (t, got[i])
        assert abs(got[i].top_bigram_frac - top) <= 2e-6, (t, got[i], top)

    # --- entropy ---
    gote = {r.doc_id: r.token_entropy for r in token_entropy(docs).collect()}
    for i, t in enumerate(texts):
        toks = toks_of(t)
        if not toks:
            assert gote[i] == 0.0
            continue
        n = len(toks)
        s = sum(c * math.log(c) for c in Counter(toks).values())
        assert abs(gote[i] - (math.log(n) - s / n)) <= 2e-6, (t, gote[i])

    # --- unigram logprob (corpus LM over the same frame) ---
    corpus = Counter()
    for t in texts:
        corpus.update(toks_of(t, lower=True))
    total = sum(corpus.values())
    gotl = {r.doc_id: r.avg_logprob
            for r in unigram_logprob_scores(docs).collect()}
    for i, t in enumerate(texts):
        toks = toks_of(t, lower=True)
        if not toks:
            assert gotl[i] == 0.0
            continue
        want = sum(math.log(corpus[x] / total) for x in toks) / len(toks)
        assert abs(gotl[i] - want) <= 2e-6, (t, gotl[i], want)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.text(
            alphabet="ab1.! ",
            min_size=0, max_size=80,
        ),
        min_size=1, max_size=8,
    ),
    st.integers(2, 9),   # chunk budget
    st.integers(0, 4),   # overlap (word-window chunker only)
)
def test_chunking_properties(spark, texts, budget, overlap):
    """Pins both chunkers against pure-Python oracles.

    chunk_documents (word windows): starts at 0, step = budget-overlap;
    chunk i repeats the last `overlap` words of chunk i-1 (when full).
    chunk_documents_subword (model-token packing): word i belongs to
    chunk floor(cost_before_i / budget) — asserted EXACTLY against a
    pure-Python mirror — chunks concatenate back to the
    whitespace-normalized doc in order, and each chunk's subword cost
    stays under budget + cost(last word). (A non-final chunk CAN sit
    under budget when a straddling word consumed part of its window —
    hypothesis found '1 1a 1 1' @ budget 2 — so the offset rule, not a
    greedy-fullness claim, is the contract.)"""
    import re

    from nous_spark.operators.textstats import (
        chunk_documents,
        chunk_documents_subword,
    )

    if overlap >= budget:
        overlap = budget - 1
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    words = {i: [w for w in t.strip().split() if w] for i, t in rows}

    # --- word-window chunker: exact oracle ---
    got = {}
    for r in chunk_documents(docs, chunk_tokens=budget,
                             overlap=overlap).collect():
        got.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk.split(" ") \
            if r.chunk else []
    step = budget - overlap
    for i, ws in words.items():
        want = {}
        if ws:
            for ci, s in enumerate(range(0, len(ws), step)):
                want[ci] = ws[s:s + budget]
        assert got.get(i, {}) == want, (i, got.get(i), want)

    # --- subword packer: reconstruction + budget bounds ---
    cost = lambda w: len(re.findall(r"[A-Za-z]+|\d+|[^\sA-Za-z\d]+", w))
    out = {}
    for r in chunk_documents_subword(docs, chunk_subwords=budget).collect():
        out.setdefault(r.doc_id, []).append(r)
    for i, ws in words.items():
        rs = sorted(out.get(i, []), key=lambda r: r.chunk_id)
        if not ws:
            assert rs == []
            continue
        # chunks re-concatenate to the normalized doc
        assert " ".join(r.chunk for r in rs) == " ".join(ws)
        # exact offset-rule oracle: word i -> chunk floor(pre_i / budget)
        want_assign = {}
        pre = 0
        for w in ws:
            want_assign.setdefault(pre // budget, []).append(w)
            pre += cost(w)
        assert {r.chunk_id: r.chunk.split(" ") for r in rs} == want_assign
        for r in rs:
            cw = r.chunk.split(" ")
            assert r.n_chunk_words == len(cw)
            assert r.n_chunk_subwords == sum(cost(w) for w in cw)
            # overshoot bounded by the straddling word's own cost
            assert r.n_chunk_subwords < budget + cost(cw[-1]) or len(cw) == 1


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.tuples(st.integers(0, 3),            # user
              st.integers(0, 10_000),       # offset seconds
              st.integers(0, 999_999)),     # microseconds
    min_size=1, max_size=40))
def test_sessionize_matches_python_oracle(spark, events):
    """Gap-based sessionization vs a literal python gaps-and-islands on
    random microsecond-grain event streams (duplicate timestamps
    included — tied events must land in the same session)."""
    import datetime as dt
    from collections import defaultdict

    from nous_spark.operators.sessions import sessionize

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, u, base + dt.timedelta(seconds=s, microseconds=us))
        for i, (u, s, us) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    gap_min = 10
    got = {r.event_id: (r.user_id, r.session_idx)
           for r in sessionize(df, gap_minutes=gap_min).collect()}

    per_user = defaultdict(list)
    for i, u, t in rows:
        per_user[u].append((t, i))
    want = {}
    for u, evs in per_user.items():
        evs.sort()
        idx, prev = -1, None
        for t, i in evs:
            if prev is None or (t - prev).total_seconds() > gap_min * 60:
                idx += 1
            want[i] = (u, idx)
            prev = t
    assert got == want


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.tuples(st.integers(0, 4),                      # user
              st.integers(0, 500),                    # minutes
              st.sampled_from(["a", "b", "c", "d", "x"])),  # event type
    min_size=1, max_size=48))
def test_funnel_matches_python_oracle(spark, events):
    """First-touch funnel (4 steps) vs a literal sequential mirror: step
    times are the earliest qualifying events, gap-capped. Input rows are
    deliberately scrambled out of timestamp order (interleaved users,
    reversed arrival) — the funnel must be order-insensitive."""
    import datetime as dt
    from collections import defaultdict

    from nous_spark.operators.sessions import funnel_counts

    base = dt.datetime(2024, 5, 1)
    rows = [(u, base + dt.timedelta(minutes=m, seconds=i % 7), t)
            for i, (u, m, t) in enumerate(events)]
    # scramble arrival order relative to event time: reversed odd
    # positions then reversed even positions — every row exactly once,
    # no prefix of the input is time-sorted
    scrambled = rows[::-2] + rows[-2::-2]
    df = spark.createDataFrame(scrambled, ["user_id", "ts", "event_type"])
    steps, gap_min = ["a", "b", "c", "d"], 60
    got = {(r.step, r.step_name): r.n_users
           for r in funnel_counts(df, steps, max_gap_minutes=gap_min)
           .collect()}

    per_user = defaultdict(list)
    for u, t, typ in rows:
        per_user[u].append((t, typ))
    counts = {i + 1: 0 for i in range(len(steps))}
    for u, evs in per_user.items():
        evs.sort()
        reached_t = None
        for si, step in enumerate(steps, start=1):
            cand = [
                t for t, typ in evs
                if typ == step and (
                    si == 1 or (
                        t > reached_t
                        and (t - reached_t).total_seconds() <= gap_min * 60
                    )
                )
            ]
            if not cand:
                break
            reached_t = min(cand)
            counts[si] += 1
    want = {(i, steps[i - 1]): counts[i] for i in counts}
    assert got == want


# labels that stress the canonical store's rep-order key: the empty
# label, multibyte characters (precomposed and combining é, CJK, an
# astral emoji), equal-length ties and prefixes of one another
_LABEL = st.sampled_from(
    ["", "a", "b", "ab", "ba", "abc", "\u00e9", "e\u0301", "a\u00e9",
     "日", "日本", "a日本", "\U0001f600", "a\U0001f600", "zz"])
_ALIAS_EDGES = st.lists(
    st.tuples(_LABEL, _LABEL).filter(lambda t: t[0] != t[1]), max_size=6)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_ALIAS_EDGES.filter(bool), _ALIAS_EDGES, _ALIAS_EDGES, st.booleans())
def test_canonical_store_matches_batch_through_two_updates(
        spark, tmp_path_factory, base, d1, d2, compact):
    from nous_spark.operators.canonicalize import (
        build_canonical_store,
        canonical_mapping,
        compact_canonical_store,
        rep_changes,
        resolve_canonical_store,
        update_canonical_store,
    )

    def frame(edges):
        return spark.createDataFrame(edges, "a STRING, b STRING")

    def batch(edges):
        return sorted(tuple(r) for r in canonical_mapping(frame(edges))
                      .select("label", "canonical_label", "canonical_id")
                      .collect())

    path = str(tmp_path_factory.mktemp("canon") / "store")
    build_canonical_store(frame(base), path, buckets=4)
    update_canonical_store(spark, frame(d1), path, update_id=1)
    if compact:
        compact_canonical_store(spark, path)
    update_canonical_store(spark, frame(d2), path, update_id=2)

    after = batch(base + d1 + d2)
    got = sorted(tuple(r) for r in resolve_canonical_store(spark, path)
                 .select("label", "canonical_label", "canonical_id")
                 .collect())
    assert got == after
    # update 2's patch set: every rep it dethroned, to its new rep
    rep_before = {rep for _, rep, _ in batch(base + d1)}
    rep_after = {label: rep for label, rep, _ in after}
    assert rep_changes(spark, path, 2) == {
        r: rep_after[r] for r in rep_before if rep_after[r] != r}
