"""Training-set assembly (split/pack/mixture), TF-IDF keywords, and the
round-6 graph additions (triangles, Adamic-Adar, k-core) — each against
an independent pure-Python oracle on small deterministic inputs."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from nous_spark.operators.datasets import (
    mixture_sample,
    pack_into_shards,
    split_dataset,
)
from nous_spark.operators.graph import (
    adamic_adar_scores,
    k_core,
    triangle_counts,
)
from nous_spark.operators.textstats import tfidf_keywords

PPM = 1_000_000


def _ppm(salt: str, key: str) -> int:
    h = int(hashlib.md5(f"{salt}|{key}".encode()).hexdigest()[:15], 16)
    return h % PPM


# ---------------------------------------------------------------- datasets


def test_split_dataset_matches_hash_oracle(spark):
    df = spark.createDataFrame([(i,) for i in range(3000)], ["doc_id"])
    out = split_dataset(
        df, {"train": 0.9, "val": 0.05, "test": 0.05}, salt="s1"
    )
    got = {r.doc_id: r.split for r in out.collect()}
    for i in range(3000):
        d = _ppm("s1", str(i))
        want = "train" if d < 900_000 else ("val" if d < 950_000 else "test")
        assert got[i] == want, (i, d, got[i], want)
    # shares land near targets
    c = Counter(got.values())
    assert abs(c["train"] / 3000 - 0.9) < 0.02
    assert abs(c["val"] / 3000 - 0.05) < 0.015


def test_split_dataset_stable_under_repartition(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], ["doc_id"])
    a = {r.doc_id: r.split
         for r in split_dataset(df, {"train": 0.8, "val": 0.2}).collect()}
    b = {r.doc_id: r.split
         for r in split_dataset(
             df.repartition(17), {"train": 0.8, "val": 0.2}).collect()}
    assert a == b


def test_pack_into_shards_offsets_and_budget(spark):
    rows = [(i, "web" if i % 2 == 0 else "code", 10 + (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tokens"])
    out = pack_into_shards(df, budget_tokens=100).collect()
    # oracle: per-source cumulative offsets in doc_id order
    per_src = defaultdict(list)
    for i, s, n in rows:
        per_src[s].append((i, n))
    want = {}
    for s, docs in per_src.items():
        off = 0
        for i, n in sorted(docs):
            want[i] = (off, off // 100)
            off += n
    for r in out:
        assert (r.token_offset, r.shard_id) == want[r.doc_id], r
    # every shard holds >= 1 doc and consecutive shard ids per source
    by_src = defaultdict(set)
    for r in out:
        by_src[r.source].add(r.shard_id)
    for s, shards in by_src.items():
        assert shards == set(range(max(shards) + 1))


def test_mixture_sample_hits_target_shares(spark):
    rows = [(i, "web") for i in range(6000)] + \
           [(i + 10_000, "code") for i in range(3000)] + \
           [(i + 20_000, "ref") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    # targets: 50/25/25 — ref is the binding source (1000 docs / 25%)
    tgt = {"web": 500_000, "code": 250_000, "ref": 250_000}
    out = mixture_sample(df, tgt, salt="m1").collect()
    c = Counter(r.source for r in out)
    # T = min(6000/.5, 3000/.25, 1000/.25) = 4000
    assert c["ref"] > 900  # ref accepted ~fully (binding)
    total = sum(c.values())
    assert abs(c["web"] / total - 0.50) < 0.03
    assert abs(c["code"] / total - 0.25) < 0.03
    assert abs(c["ref"] / total - 0.25) < 0.03
    # determinism: membership is exactly the hash rule
    n_web, t = 6000, 4000
    thr = (500_000 * t) // n_web
    kept_web = {r.doc_id for r in out if r.source == "web"}
    want_web = {i for i in range(6000) if _ppm("m1", str(i)) < thr}
    assert kept_web == want_web


def test_mixture_sample_drops_unlisted_sources(spark):
    df = spark.createDataFrame(
        [(1, "web"), (2, "junk")], ["doc_id", "source"]
    )
    out = mixture_sample(df, {"web": PPM}).collect()
    assert all(r.source == "web" for r in out)


# ----------------------------------------------------------------- tf-idf


def test_tfidf_keywords_vs_python_oracle(spark):
    docs = [
        (0, "apple banana apple cherry"),
        (1, "banana banana durian"),
        (2, "cherry durian elderberry elderberry elderberry"),
        (3, "apple banana cherry durian"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = defaultdict(list)
    for r in tfidf_keywords(df, k=2).orderBy("doc_id", "rank").collect():
        got[r.doc_id].append((r.rank, r.term, r.tf, r.score))
    n = len(docs)
    dfreq = Counter()
    for _, t in docs:
        dfreq.update(set(t.split()))
    for did, text in docs:
        tf = Counter(text.split())
        scored = sorted(
            ((round(c * math.log(n / dfreq[w]), 6), w, c) for w, c in tf.items()),
            key=lambda x: (-x[0], x[1]),
        )[:2]
        want = [(i + 1, w, c, s) for i, (s, w, c) in enumerate(scored)]
        assert got[did] == want, (did, got[did], want)


# ------------------------------------------------------------------ graph


def _tri_oracle(edges):
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    count = Counter({v: 0 for v in adj})
    vs = sorted(adj)
    for u in vs:
        for v in adj[u]:
            if v <= u:
                continue
            for w in adj[u] & adj[v]:
                if w > v:
                    count[u] += 1
                    count[v] += 1
                    count[w] += 1
    return dict(count)


def test_triangle_counts_small_graphs(spark):
    # K4 (4 triangles, 3 per vertex) + a pendant + a square (0 triangles)
    edges = (
        [(a, b) for a in range(4) for b in range(a + 1, 4)]
        + [(3, 9)]
        + [(10, 11), (11, 12), (12, 13), (13, 10)]
    )
    e = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.id: r.n_triangles for r in triangle_counts(e).collect()}
    assert got == _tri_oracle(edges)


def test_triangle_counts_duplicate_and_reversed_edges(spark):
    edges = [(0, 1), (1, 0), (1, 2), (2, 0), (0, 1), (2, 2)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.id: r.n_triangles for r in triangle_counts(e).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_adamic_adar_vs_python_oracle(spark):
    import random

    rng = random.Random(7)
    edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(120)})
    e = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r.x, r.y): (r.n_common, r.score)
           for r in adamic_adar_scores(e).collect()}

    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    want = {}
    vs = sorted(adj)
    for i, x in enumerate(vs):
        for y in vs[i + 1:]:
            if y in adj[x]:
                continue
            common = adj[x] & adj[y]
            if common:
                s = round(sum(1.0 / math.log(len(adj[w])) for w in common), 6)
                want[(x, y)] = (len(common), s)
    assert set(got) == set(want)
    for p in want:
        assert got[p][0] == want[p][0]
        assert abs(got[p][1] - want[p][1]) < 1e-6


def test_adamic_adar_hub_cap_and_topk(spark):
    # star hub 0 with 10 leaves plus a 2-path a-b-c
    edges = [(0, i) for i in range(1, 11)] + [(100, 101), (101, 102)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    capped = adamic_adar_scores(e, max_neighbor_degree=5).collect()
    # hub (degree 10) excluded as intermediate: only the a-b-c wedge left
    assert {(r.x, r.y) for r in capped} == {(100, 102)}
    top = adamic_adar_scores(e, top_k=3).collect()
    per_x = Counter(r.x for r in top)
    assert all(v <= 3 for v in per_x.values())


def _kcore_oracle(edges, k):
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for n in adj[v]:
                    adj[n].discard(v)
                del adj[v]
                changed = True
    return {v: len(ns) for v, ns in adj.items()}


def test_k_core_peels_tail(spark):
    # K5 core + a chain hanging off it + an isolated triangle
    edges = (
        [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(4, 10), (10, 11), (11, 12)]
        + [(20, 21), (21, 22), (22, 20)]
    )
    e = spark.createDataFrame(edges, ["src", "dst"])
    for k in (2, 3, 4):
        got = {r.id: r.core_degree for r in k_core(e, k).collect()}
        assert got == _kcore_oracle(edges, k), k
    assert k_core(e, 5).count() == 0


def test_k_core_cascade_rounds(spark, distributed):
    # a chain peels one vertex per round from each end: stats sees > 1
    # round on the DISTRIBUTED loop (the driver fast path is round-free,
    # so force it off)
    edges = [(i, i + 1) for i in range(12)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    stats = {}
    with distributed():
        out = k_core(e, 2, stats=stats).collect()
    assert out == []
    assert stats["rounds"] > 1
    assert k_core(e, 2).collect() == []  # fast path agrees on emptiness


# ------------------------------------------------------------- sessions


def test_sessionize_vs_python_oracle(spark):
    import datetime as dt

    from nous_spark.operators.sessions import session_stats, sessionize

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, uid, minutes, value=1.0):
        return (eid, uid, t0 + dt.timedelta(minutes=minutes), value)

    rows = [
        ev(0, 1, 0), ev(1, 1, 10), ev(2, 1, 29),      # u1 s0 (gaps < 30)
        ev(3, 1, 60), ev(4, 1, 89),                   # u1 s1 (31-min gap)
        ev(5, 2, 0),                                  # u2 s0
        ev(6, 2, 31),                                 # u2 s1 (31 > 30)
        ev(7, 3, 0), ev(8, 3, 30),                    # u3 s0 (exactly 30 continues)
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    got = {r.event_id: (r.session_idx, r.session_id)
           for r in sessionize(df).collect()}
    want = {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 0, 6: 1, 7: 0, 8: 0}
    for eid, idx in want.items():
        uid = [r for r in rows if r[0] == eid][0][1]
        assert got[eid] == (idx, f"{uid}#{idx}"), (eid, got[eid])

    stats = {(r.user_id, r.session_idx): r for r in session_stats(df).collect()}
    assert stats[(1, 0)].n_events == 3
    assert stats[(1, 0)].duration_us == 29 * 60 * 1_000_000
    assert stats[(1, 1)].n_events == 2
    assert stats[(2, 1)].n_events == 1
    assert stats[(2, 1)].duration_us == 0
    assert stats[(3, 0)].n_events == 2
    assert abs(stats[(1, 0)].sum_value - 3.0) < 1e-9


def test_sessionize_tied_timestamps_deterministic(spark):
    import datetime as dt

    from nous_spark.operators.sessions import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [(0, 7, t0), (1, 7, t0), (2, 7, t0 + dt.timedelta(hours=2)),
            (3, 7, t0 + dt.timedelta(hours=2))]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    a = {r.event_id: r.session_idx for r in sessionize(df).collect()}
    b = {r.event_id: r.session_idx
         for r in sessionize(df.repartition(13)).collect()}
    assert a == b == {0: 0, 1: 0, 2: 1, 3: 1}


# ------------------------------------------------- end-to-end composition


def test_prepare_training_set_contract(spark):
    from nous_spark.operators.datasets import prepare_training_set

    rows = [
        (i, "web" if i % 2 == 0 else "code",
         "the quick brown fox jumps over the lazy dog plus filler "
         f"tokens alpha beta gamma delta epsilon zeta {i}"
         + (" mail me at bob@example.com" if i % 3 == 0 else ""))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = prepare_training_set(
        df, langs=("en",), min_tokens=5, budget_tokens=50,
        split_weights={"train": 0.8, "val": 0.2},
    ).collect()
    assert out, "funnel dropped everything"
    by_shard = defaultdict(set)
    for r in out:
        # masking is binding: planted emails became typed sentinels
        if r.doc_id % 3 == 0:
            assert r.n_pii >= 1, r
        # n_tokens counts the MASKED text
        assert r.n_tokens > 0
        assert r.split in ("train", "val")
        by_shard[(r.source, r.split, r.shard_id)].add(r.doc_id)
    # shards never mix source or split by construction of the key; check
    # offsets are consistent within each (source, split) lane
    lanes = defaultdict(list)
    for r in out:
        lanes[(r.source, r.split)].append(r)
    for lane in lanes.values():
        lane.sort(key=lambda r: r.doc_id)
        off = 0
        for r in lane:
            assert r.token_offset == off, (r, off)
            assert r.shard_id == off // 50
            off += r.n_tokens


# --------------------------------------------------------------------- LPA


def _lpa_oracle(edges, max_iter=10):
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    label = {v: v for v in adj}
    for _ in range(max_iter):
        nxt = {}
        for v in adj:
            cnt = Counter(label[n] for n in adj[v])
            # max count, smallest label — type-agnostic (string ids too)
            mc = max(cnt.values())
            nxt[v] = min(lb for lb, c in cnt.items() if c == mc)
        if nxt == label:
            break
        label = nxt
    return label


def test_label_propagation_vs_python_oracle(spark):
    import random

    from nous_spark.operators.graph import label_propagation

    rng = random.Random(11)
    # two dense blobs + sparse bridge: LPA should find two communities
    edges = []
    for base in (0, 100):
        for _ in range(80):
            a, b = rng.randrange(20), rng.randrange(20)
            edges.append((base + a, base + b))
    edges.append((5, 105))
    e = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.id: r.label for r in label_propagation(e, max_iter=10).collect()}
    assert got == _lpa_oracle(edges, max_iter=10)
    # community structure: intra-blob labels dominated by one value each
    blob0 = Counter(got[v] for v in got if v < 100)
    blob1 = Counter(got[v] for v in got if v >= 100)
    assert blob0.most_common(1)[0][1] >= 0.8 * sum(blob0.values())
    assert blob1.most_common(1)[0][1] >= 0.8 * sum(blob1.values())


def test_label_propagation_string_ids(spark, distributed):
    """String vertex ids must work on BOTH paths — CC and k_core accept
    them, and the tie-break is (count desc, label asc) lexicographic."""
    from nous_spark.operators.graph import label_propagation

    edges = [("ant", "bee"), ("bee", "cat"), ("ant", "cat"),
             ("dog", "elk"), ("elk", "fox"), ("dog", "fox"),
             ("cat", "dog")]
    e = spark.createDataFrame(edges, ["src", "dst"])
    want = _lpa_oracle(edges, max_iter=10)
    got_drv = {r.id: r.label
               for r in label_propagation(e, max_iter=10).collect()}
    with distributed():
        got_dist = {r.id: r.label
                    for r in label_propagation(e, max_iter=10).collect()}
    assert got_drv == want
    assert got_dist == want


def test_k_core_raises_on_truncated_peel(spark, distributed):
    """An exhausted distributed peel must not silently return sub-k
    vertices: a 12-chain sheds only its endpoints per round, so
    max_iter=2 cannot finish — the call must raise and flag stats."""
    import pytest

    from nous_spark.operators.graph import k_core

    edges = [(i, i + 1) for i in range(12)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    stats = {}
    with distributed(), pytest.raises(RuntimeError,
                                      match="did not converge"):
        k_core(e, 2, max_iter=2, stats=stats)
    assert stats["converged"] is False
    assert stats["rounds"] == 2


def test_label_propagation_stability_stop(spark):
    from nous_spark.operators.graph import label_propagation

    # clique: everyone adopts label 0 within ~3 rounds, loop must stop
    # early (a STAR by contrast oscillates under sync updates — covered
    # by the parity test, where the capped loop still matches the
    # python mirror exactly)
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    stats = {}
    got = {r.id: r.label
           for r in label_propagation(e, max_iter=10, stats=stats).collect()}
    assert got == _lpa_oracle(edges, max_iter=10)
    assert got == {v: 0 for v in range(5)}
    assert stats["rounds"] < 10


def test_graph_driver_fast_paths_parity(spark, distributed):
    """k_core and label_propagation driver fast paths must agree exactly
    with their distributed loops on the same random graph, and give the
    same typed empty result for an empty edge frame."""
    import random

    from nous_spark.operators.graph import k_core, label_propagation

    rng = random.Random(17)
    edges = list({(rng.randrange(60), rng.randrange(60)) for _ in range(200)})
    e = spark.createDataFrame(edges, ["src", "dst"])
    empty = spark.createDataFrame([], "src bigint, dst bigint")

    def run():
        out = {k: {(r.id, r.core_degree) for r in k_core(e, k).collect()}
               for k in (2, 3, 4)}
        out["lpa"] = {(r.id, r.label)
                      for r in label_propagation(e).collect()}
        for name, df in (("k_core", k_core(empty, 2)),
                         ("lpa", label_propagation(empty))):
            out[name, "empty"] = (df.collect(), df.dtypes)
        return out

    fast = run()
    with distributed():
        dist = run()
    assert fast == dist
    assert fast["k_core", "empty"] == (
        [], [("id", "bigint"), ("core_degree", "bigint")])
    assert fast["lpa", "empty"] == (
        [], [("id", "bigint"), ("label", "bigint")])


def test_split_and_mixture_compose_on_streams(spark, tmp_path):
    """split_dataset and mixture_sample are stateless projections /
    broadcast-join filters, so they must run unchanged on a structured
    stream (rates computed against a STATIC profile frame)."""
    from nous_spark.operators.datasets import split_dataset

    src = str(tmp_path / "src")
    rows = [(i, f"doc {i}") for i in range(100)]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(src)
    stream = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(src)
    q = (
        split_dataset(stream, {"train": 0.8, "val": 0.2})
        .writeStream.format("memory").queryName("strsplit")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    got = {r.doc_id: r.split for r in spark.table("strsplit").collect()}
    want = {r.doc_id: r.split for r in split_dataset(
        spark.createDataFrame(rows, ["doc_id", "text"]),
        {"train": 0.8, "val": 0.2}).collect()}
    assert got == want


def test_corpus_diff_statuses(spark):
    from nous_spark.operators.datasets import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], ["doc_id", "text"]
    )
    got = {r.id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_connected_components_driver_path_parity(spark, distributed):
    """The CC driver path must agree exactly with the distributed
    star/star loop, for long ids and for string ids, and give the same
    typed empty result for an empty edge frame."""
    import random

    from nous_spark.operators.graph import connected_components

    rng = random.Random(23)
    edges = list({(rng.randrange(300), rng.randrange(300))
                  for _ in range(250)})
    inputs = {
        "long": spark.createDataFrame(edges, ["src", "dst"]),
        "string": spark.createDataFrame(
            [(f"n{a}", f"n{b}") for a, b in edges[:60]], ["src", "dst"]),
        "empty": spark.createDataFrame([], "src bigint, dst bigint"),
    }

    def run():
        out = {}
        for name, e in inputs.items():
            comp = connected_components(e)
            out[name] = (set(map(tuple, comp.collect())), comp.dtypes)
        return out

    fast = run()
    with distributed():
        dist = run()
    assert fast == dist
    assert fast["string"][1] == [("id", "string"), ("component", "string")]
    assert fast["empty"] == (set(), [("id", "bigint"),
                                     ("component", "bigint")])


def test_funnel_counts_vs_python_oracle(spark):
    import datetime as dt

    from nous_spark.operators.sessions import funnel_counts

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, minutes, typ):
        return (uid, t0 + dt.timedelta(minutes=minutes), typ)

    rows = [
        # u1 full funnel inside the gaps
        ev(1, 0, "view"), ev(1, 5, "click"), ev(1, 9, "purchase"),
        # u2: click BEFORE view -> no conversion past step 1
        ev(2, 10, "click"), ev(2, 20, "view"),
        # u3: click after view but outside the 15-min gap
        ev(3, 0, "view"), ev(3, 30, "click"),
        # u4 first-touch miss: first view at 0, click at 40 (outside),
        # even though a second view at 35 would have qualified it
        ev(4, 0, "view"), ev(4, 35, "view"), ev(4, 40, "click"),
        # u5 never views
        ev(5, 0, "purchase"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {(r.step, r.step_name): r.n_users
           for r in funnel_counts(
               df, ["view", "click", "purchase"], max_gap_minutes=15
           ).collect()}
    assert got == {(1, "view"): 4, (2, "click"): 1, (3, "purchase"): 1}
    # unwindowed: u3 and u4 convert to click too (no gap cap)
    got2 = {(r.step, r.step_name): r.n_users
            for r in funnel_counts(
                df, ["view", "click", "purchase"]).collect()}
    assert got2 == {(1, "view"): 4, (2, "click"): 3, (3, "purchase"): 1}


def test_retention_cohorts_vs_python_oracle(spark):
    import datetime as dt

    from nous_spark.operators.sessions import retention_cohorts

    base = dt.datetime(2024, 1, 1)  # a Monday

    def ev(uid, days):
        return (uid, base + dt.timedelta(days=days))

    rows = [
        ev(1, 0), ev(1, 8), ev(1, 15),   # cohort wk0, active wk 0,1,2
        ev(2, 1), ev(2, 16),             # cohort wk0, active wk 0,2
        ev(3, 7), ev(3, 9),              # cohort wk1, active wk1 only
        ev(4, 20),                       # cohort wk2
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {(str(r.cohort_week), r.week_offset): r.n_active_users
           for r in retention_cohorts(df).collect()}
    assert got == {
        ("2024-01-01", 0): 2, ("2024-01-01", 1): 1, ("2024-01-01", 2): 2,
        ("2024-01-08", 0): 1, ("2024-01-15", 0): 1,
    }


def test_collocations_vs_python_oracle(spark):
    import math
    import re

    from nous_spark.operators.textstats import collocations

    texts = [
        "new york is far from san francisco",
        "new york new york the city of new york",
        "san francisco and new york share the fog of the bay",
        "the the the of of new york",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [(r.rank, r.w1, r.w2, r.n_pair, r.pmi)
           for r in collocations(df, min_count=2, k=5)
           .orderBy("rank").collect()]

    uni, bi = Counter(), Counter()
    for t in texts:
        ws = [w for w in re.split(r"\s+", t.strip().lower()) if w]
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    n1, n2 = sum(uni.values()), sum(bi.values())
    scored = [
        (round(math.log((c / n2) / ((uni[a] / n1) * (uni[b] / n1))), 6),
         a, b, c)
        for (a, b), c in bi.items() if c >= 2
    ]
    scored.sort(key=lambda x: (-x[0], x[1], x[2]))
    want = [(i + 1, a, b, c, p)
            for i, (p, a, b, c) in enumerate(scored[:5])]
    assert got == want, (got, want)
    # sanity: 'new york' outranks 'of the'
    pair_rank = {(w1, w2): r for r, w1, w2, _, _ in got}
    assert pair_rank[("new", "york")] < pair_rank.get(("of", "the"), 99)


# ------------------------------------------------- token-budget mixing


def test_token_budget_plan_feasibility(spark):
    """The realized budget must respect both the requested budget and
    every source's inventory, preserving shares rather than skewing
    toward abundant sources; `binding` marks what capped it."""
    from nous_spark.operators.datasets import token_budget_plan

    rows = [(i, "a" if i < 60 else "b", 100) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tokens"])
    # a: 6000 tokens, b: 4000 tokens. Equal shares; b caps at 8000.
    plan = {r.source: r for r in token_budget_plan(
        df, {"a": 500_000, "b": 500_000}, token_budget=1_000_000
    ).collect()}
    assert plan["a"].available_tokens == 6000
    assert plan["b"].available_tokens == 4000
    # B = min(1e6, 6000*2, 4000*2) = 8000 -> 4000 tokens per source
    assert plan["a"].target_tokens == 4000
    assert plan["b"].target_tokens == 4000
    assert plan["b"].binding and not plan["a"].binding
    assert plan["b"].accept_ppm == 1_000_000          # keep all of b
    assert plan["a"].accept_ppm == 666_666            # floor(4000/6000)
    # requested-budget-binding regime: tiny budget, nobody's cap binds
    plan2 = {r.source: r for r in token_budget_plan(
        df, {"a": 500_000, "b": 500_000}, token_budget=2000
    ).collect()}
    assert plan2["a"].target_tokens == plan2["b"].target_tokens == 1000
    assert not plan2["a"].binding and not plan2["b"].binding


def test_sample_token_budget_hits_target(spark):
    """Accepted tokens per source approximate the plan's target and the
    sample is deterministic under repartitioning."""
    from nous_spark.operators.datasets import (
        sample_token_budget,
        token_budget_plan,
    )

    rows = [(i, f"src{i % 2}", 50 + (i % 7)) for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tokens"])
    shares = {"src0": 700_000, "src1": 300_000}
    budget = 40_000
    plan = {r.source: r for r in
            token_budget_plan(df, shares, budget).collect()}
    got = sample_token_budget(df, shares, budget)
    toks = {r.source: r.s for r in
            got.groupBy("source").agg(F.sum("n_tokens").alias("s")).collect()}
    for s in shares:
        target = plan[s].target_tokens
        assert abs(toks[s] - target) / target < 0.15, (s, toks[s], target)
    a = sorted(r.doc_id for r in got.collect())
    b = sorted(r.doc_id for r in
               sample_token_budget(df.repartition(13), shares, budget)
               .collect())
    assert a == b


def test_token_budget_plan_survives_petascale_inventories(spark):
    """The ppm products run in decimal(38,0): a source holding more
    tokens than bigint/1e6 (~9.2e12 — well below the 100 TB design
    point) must yield exact caps, not silently-wrapped garbage. With
    web=2e13 tokens @ 800k ppm the web source's cap (2.5e13) exceeds
    the requested budget, so the budget binds and every number is
    checkable by hand."""
    from nous_spark.operators.datasets import token_budget_plan

    rows = [("web", 20_000_000_000_000), ("code", 8_000_000_000_000)]
    df = spark.createDataFrame(rows, ["source", "n_tokens"])
    budget = 10_000_000_000_000  # 10T tokens
    plan = {r["source"]: r.asDict() for r in token_budget_plan(
        df, {"web": 800_000, "code": 200_000}, budget).collect()}
    # caps: web 2e13*1e6/8e5 = 2.5e13, code 8e12*1e6/2e5 = 4e13 — the
    # requested 1e13 budget binds (neither source flagged binding)
    assert plan["web"]["target_tokens"] == 8_000_000_000_000
    assert plan["code"]["target_tokens"] == 2_000_000_000_000
    assert plan["web"]["accept_ppm"] == 400_000
    assert plan["code"]["accept_ppm"] == 250_000
    assert not plan["web"]["binding"] and not plan["code"]["binding"]
    # and a genuinely binding scarce source still computes exactly:
    # code cap = floor(8e12 * 1e6 / 9e5) = 8_888_888_888_888 binds the
    # huge requested budget; target = floor(cap * 0.9)
    plan2 = {r["source"]: r.asDict() for r in token_budget_plan(
        df, {"code": 900_000}, 10_000_000_000_000_000).collect()}
    assert plan2["code"]["binding"]
    assert plan2["code"]["target_tokens"] == 7_999_999_999_999
