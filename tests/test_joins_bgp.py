"""Tests for the temporal joins (asof_join, range_join) and the BGP
matcher, each against a brute-force pure-Python oracle."""

from __future__ import annotations

import datetime as dt
import itertools
import random

import pytest
from pyspark.sql import functions as F

from nous_spark.operators.bgp import match_pattern
from nous_spark.operators.joins import asof_join, range_join

EPOCH = dt.datetime(2024, 1, 1)


def _ts(seconds: float) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=seconds)


def _brute_asof(lrows, rrows, direction="backward", strict=False,
                tolerance=None):
    """Oracle: rrows pre-collapsed per (key, ts) to max payload."""
    best: dict = {}
    for k, t, p in rrows:
        cur = best.get((k, t))
        if cur is None or p > cur:
            best[(k, t)] = p
    out = []
    for lid, k, t in lrows:
        cands = []
        for (rk, rt), p in best.items():
            if rk != k:
                continue
            if direction == "backward":
                ok = rt < t if strict else rt <= t
                dist = t - rt
            else:
                ok = rt > t if strict else rt >= t
                dist = rt - t
            if ok:
                cands.append((dist, rt, p))
        if not cands:
            out.append((lid, None, None))
            continue
        dist, rt, p = min(cands)
        if tolerance is not None and dist > tolerance:
            out.append((lid, None, None))
        else:
            out.append((lid, rt, p))
    return sorted(out)


@pytest.mark.parametrize("direction,strict", [
    ("backward", False), ("backward", True),
    ("forward", False), ("forward", True),
])
def test_asof_join_matches_brute_force(spark, direction, strict):
    rng = random.Random(42)
    lrows = [(i, rng.randrange(4), rng.randrange(0, 100))
             for i in range(120)]
    rrows = [(rng.randrange(4), rng.randrange(0, 100), rng.randrange(50))
             for _ in range(80)]
    left = spark.createDataFrame(
        [(i, k, _ts(t)) for i, k, t in lrows], "lid long, k long, ts timestamp")
    right = spark.createDataFrame(
        [(k, _ts(t), p) for k, t, p in rrows], "k long, ts timestamp, p long")
    got = asof_join(left, right, on=["k"], direction=direction,
                    strict=strict)
    rows = {(r.lid, r.ts_r, r.p) for r in got.collect()}
    want = {
        (lid, None if rt is None else _ts(rt), p)
        for lid, rt, p in _brute_asof(lrows, rrows, direction, strict)
    }
    assert rows == want
    assert got.count() == len(lrows)  # left-outer: every left row kept


def test_asof_join_tolerance_and_tie_collapse(spark):
    left = spark.createDataFrame(
        [(1, 0, _ts(100)), (2, 0, _ts(500))],
        "lid long, k long, ts timestamp")
    # two right rows at the same (k, ts): greatest payload tuple wins
    right = spark.createDataFrame(
        [(0, _ts(100), 7), (0, _ts(100), 9), (0, _ts(10), 1)],
        "k long, ts timestamp, p long")
    got = {(r.lid, r.p) for r in
           asof_join(left, right, on=["k"],
                     tolerance_seconds=60).collect()}
    assert got == {(1, 9), (2, None)}  # 500-100=400s > tolerance


def test_asof_join_column_collision_suffix(spark):
    left = spark.createDataFrame([(1, 0, _ts(5), "L")],
                                 "lid long, k long, ts timestamp, v string")
    right = spark.createDataFrame([(0, _ts(3), "R")],
                                  "k long, ts timestamp, v string")
    row = asof_join(left, right, on=["k"]).collect()[0]
    assert row.v == "L" and row.v_r == "R" and row.ts_r == _ts(3)


def _brute_range(ivs, pts, bucketless=True):
    out = []
    for iid, s, e in ivs:
        for pid, t in pts:
            if s <= t <= e:
                out.append((iid, pid))
    return sorted(out)


@pytest.mark.parametrize("bucket", [7, 60, 3600])
def test_range_join_matches_brute_force(spark, bucket):
    rng = random.Random(7)
    ivs = []
    for i in range(40):
        s = rng.randrange(-500, 500)  # negative: pre-1970 bucket math
        ivs.append((i, s, s + rng.randrange(0, 200)))
    pts = [(j, rng.randrange(-600, 700)) for j in range(200)]
    intervals = spark.createDataFrame(
        [(i, _ts(s), _ts(e)) for i, s, e in ivs],
        "iid long, start timestamp, end timestamp")
    points = spark.createDataFrame(
        [(j, _ts(t)) for j, t in pts], "pid long, ts timestamp")
    got = range_join(intervals, points, bucket_seconds=bucket)
    pairs = sorted((r.iid, r.pid) for r in got.collect())
    assert pairs == _brute_range(ivs, pts)  # exactly once, no dups


def test_range_join_keyed_and_collision(spark):
    intervals = spark.createDataFrame(
        [(1, "u", _ts(0), _ts(100), "I")],
        "iid long, k string, start timestamp, end timestamp, tag string")
    points = spark.createDataFrame(
        [("u", 10, _ts(50), "P"), ("v", 11, _ts(50), "P")],
        "k string, pid long, ts timestamp, tag string")
    rows = range_join(intervals, points, on=["k"]).collect()
    assert len(rows) == 1  # key v filtered by the equi-key
    assert rows[0].tag == "I" and rows[0].tag_p == "P"


TRIPLES = [
    ("a", "knows", "b"), ("b", "knows", "c"), ("a", "knows", "c"),
    ("c", "knows", "a"), ("a", "type", "person"), ("b", "type", "person"),
    ("c", "type", "robot"), ("b", "likes", "b"), ("a", "likes", "c"),
    ("a", "knows", "b"),  # duplicate: multiset semantics
]


def _brute_bgp(patterns):
    """Enumerate all bindings by nested loops over the triple list."""
    results = []
    def rec(i, env):
        if i == len(patterns):
            results.append(dict(env))
            return
        for t in TRIPLES:
            env2 = dict(env)
            ok = True
            for term, val in zip(patterns[i], t):
                if term.startswith("?"):
                    v = term[1:]
                    if v in env2 and env2[v] != val:
                        ok = False
                        break
                    env2[v] = val
                elif term != val:
                    ok = False
                    break
            if ok:
                rec(i + 1, env2)
    rec(0, {})
    return results


@pytest.mark.parametrize("patterns", [
    [("?x", "knows", "?y")],
    [("?x", "knows", "?y"), ("?y", "knows", "?z")],
    [("?x", "knows", "?y"), ("?y", "type", "person")],
    [("?x", "type", "person"), ("?x", "knows", "?y"),
     ("?y", "type", "robot")],
    [("?x", "likes", "?x")],  # repeated var within one pattern
    [("?x", "knows", "?y"), ("?x", "likes", "?y")],
])
def test_bgp_matches_brute_force(spark, patterns):
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    got = match_pattern(df, patterns)
    vars_ = sorted(got.columns)
    rows = sorted(tuple(r[v] for v in vars_) for r in got.collect())
    want = sorted(tuple(env[v] for v in vars_)
                  for env in _brute_bgp(patterns))
    assert rows == want


def test_bgp_distinct_and_errors(spark):
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    dup = match_pattern(df, [("?x", "knows", "b")])
    assert dup.count() == 2  # multiset: the duplicate triple counts twice
    assert match_pattern(df, [("?x", "knows", "b")], distinct=True).count() == 1
    with pytest.raises(ValueError, match="disconnected"):
        match_pattern(df, [("?x", "knows", "b"), ("?y", "type", "robot")])
    assert match_pattern(
        df, [("?x", "knows", "b"), ("?y", "type", "robot")],
        allow_cartesian=True).count() == 2
    with pytest.raises(ValueError, match="fully-bound"):
        match_pattern(df, [("a", "knows", "b")])


def test_bgp_null_components_never_bind(spark):
    df = spark.createDataFrame(
        [("a", "knows", None), (None, "knows", "b"), ("a", "knows", "b")],
        "subj string, pred string, obj string")
    assert match_pattern(df, [("?x", "knows", "?y")]).count() == 1


def test_asof_join_plan_has_no_join_operator(spark):
    """The scale claim: as-of is one keyed window, never a join — no
    candidate-pair blowup exists in the plan for AQE to mis-size."""
    left = spark.createDataFrame([(1, 0, _ts(5))],
                                 "lid long, k long, ts timestamp")
    right = spark.createDataFrame([(0, _ts(3), 7)],
                                  "k long, ts timestamp, p long")
    plan = asof_join(left, right, on=["k"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan
    assert "Window" in plan


def test_range_join_plan_is_equi_join_not_nested_loop(spark):
    """Bucketing must turn the interval predicate into an equi-join:
    BroadcastNestedLoopJoin (the naive BETWEEN plan) is the failure."""
    intervals = spark.createDataFrame(
        [(1, _ts(0), _ts(100))], "iid long, start timestamp, end timestamp")
    points = spark.createDataFrame([(1, _ts(50))], "pid long, ts timestamp")
    plan = range_join(intervals, points)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_bgp_pattern_literals_pushed_to_scan(tmp_path, spark):
    """Bound pattern terms must reach the parquet scan as pushed
    filters — at web scale that is the difference between reading one
    predicate's row groups and reading the whole triple store."""
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    p = str(tmp_path / "triples")
    df.write.parquet(p)
    t = spark.read.parquet(p)
    plan = match_pattern(t, [("?x", "knows", "?y")])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "knows" in plan.split("PushedFilters:")[1][:200]


# ---------------------------------------------------------------------------
# OPTIONAL / UNION / property paths
# ---------------------------------------------------------------------------


def test_bgp_optional_matches_brute_force_left_join(spark):
    """OPTIONAL = left join on shared vars: type bindings where they
    exist, NULL where not (there is no ("c", "likes", ...) triple
    giving c a liked target)."""
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    got = match_pattern(
        df, [("?x", "knows", "?y")],
        optionals=[[("?y", "likes", "?l")]],
    )
    req = _brute_bgp([("?x", "knows", "?y")])
    opt = _brute_bgp([("?y", "likes", "?l")])
    want = []
    for env in req:
        hits = [o for o in opt if o["y"] == env["y"]]
        if hits:
            want += [(env["x"], env["y"], h["l"]) for h in hits]
        else:
            want.append((env["x"], env["y"], None))
    key = lambda t: tuple("" if v is None else v for v in t)
    rows = sorted(((r.x, r.y, r.l) for r in got.collect()), key=key)
    assert rows == sorted(want, key=key)


def test_bgp_optional_refusals(spark):
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    with pytest.raises(ValueError, match="shares no variable"):
        match_pattern(df, [("?x", "knows", "?y")],
                      optionals=[[("?a", "likes", "?b")]])
    with pytest.raises(ValueError, match="earlier optional group"):
        match_pattern(df, [("?x", "knows", "?y")],
                      optionals=[[("?x", "likes", "?l")],
                                 [("?y", "likes", "?l")]])


def test_match_path_bfs_brute_force(spark):
    """Bounded path over a cyclic graph vs a Python BFS per source."""
    from nous_spark.operators.bgp import match_path

    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    edges = {(s, o) for s, p, o in TRIPLES if p == "knows"}
    nodes = {s for s, _ in edges} | {o for _, o in edges}

    def bfs(src, max_hops):
        # exact-length reachability: a node first reached by a k-edge
        # walk records k, INCLUDING src itself via a cycle (a->c->a is
        # a legitimate 2-hop match of knows{1,2})
        dist = {}
        frontier = {src}
        for k in range(1, max_hops + 1):
            frontier = {o for s, o in edges if s in frontier}
            for n in frontier:
                dist.setdefault(n, k)
        return dist

    for lo, hi in ((1, 1), (1, 2), (1, 3)):
        got = sorted((r.src, r.dst, r.hops)
                     for r in match_path(df, "knows",
                                         min_hops=lo, max_hops=hi).collect())
        want = sorted(
            (s, d, k) for s in nodes
            for d, k in bfs(s, hi).items() if lo <= k <= hi)
        assert got == want, (lo, hi)


def test_match_path_in_range_beats_shorter_out_of_range(spark):
    """SPARQL p{2,2}: a pair ALSO adjacent at 1 hop still matches when
    a 2-edge path exists (a->b->c and a->c directly)."""
    from nous_spark.operators.bgp import match_path

    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    got = {(r.src, r.dst): r.hops
           for r in match_path(df, "knows", min_hops=2, max_hops=2).collect()}
    assert got[("a", "c")] == 2  # direct 1-hop edge exists too
    assert ("a", "b") not in got or got[("a", "b")] == 2


# ---------------------------------------------------------------------------
# FILTER
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("patterns,filters", [
    # single-var filter -> applied at the pattern scan
    ([("?x", "knows", "?y")], ["y >= 'b'"]),
    # cross-pattern two-var filter -> applied at the joining step
    ([("?x", "knows", "?y"), ("?y", "knows", "?z")], ["x < z"]),
    # mixed: one scan-level, one join-level, plus a constant
    ([("?x", "knows", "?y"), ("?y", "type", "?t")],
     ["t = 'person'", "x <> y", "1 = 1"]),
])
def test_bgp_filter_equals_post_hoc_where(spark, patterns, filters):
    """Pushed FILTER placement is an optimization, not a semantics
    change: the result must equal applying every filter to the
    unfiltered match output."""
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    got = match_pattern(df, patterns, filters=filters)
    want = match_pattern(df, patterns)
    for f in filters:
        want = want.where(F.expr(f))
    vars_ = sorted(got.columns)
    assert sorted(got.columns) == sorted(want.columns)
    assert sorted(tuple(r[v] for v in vars_) for r in got.collect()) == \
        sorted(tuple(r[v] for v in vars_) for r in want.collect())


def test_bgp_filter_on_optional_var_uses_error_is_false(spark):
    """A FILTER over an OPTIONAL-bound variable sees NULL where the
    group missed; NULL comparisons drop the row (SPARQL error→false)."""
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    base = match_pattern(
        df, [("?x", "knows", "?y")],
        optionals=[[("?y", "likes", "?w")]])
    # only b likes anything -> w NULL for knows-objects a and c
    assert any(r.w is None for r in base.collect())
    got = match_pattern(
        df, [("?x", "knows", "?y")],
        optionals=[[("?y", "likes", "?w")]],
        filters=["w = 'b'"])
    rows = got.collect()
    assert rows and all(r.w == "b" for r in rows)
    want = sorted((r.x, r.y, r.w) for r in base.collect() if r.w == "b")
    assert sorted((r.x, r.y, r.w) for r in rows) == want


def test_bgp_filter_reaches_parquet_scan(tmp_path, spark):
    """A single-variable FILTER must ride predicate pushdown into the
    parquet scan exactly like a bound pattern literal does."""
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    p = str(tmp_path / "triples")
    df.write.parquet(p)
    t = spark.read.parquet(p)
    plan = match_pattern(
        t, [("?x", "knows", "?y")], filters=["y > 'a'"],
    )._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "GreaterThan(obj" in pushed, plan


# ---------------------------------------------------------------------------
# CONSTRUCT / ASK
# ---------------------------------------------------------------------------


def test_construct_builds_graph_with_set_semantics(spark):
    from nous_spark.operators.bgp import construct_triples

    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    b = match_pattern(df, [("?x", "knows", "?y")])
    g = construct_triples(b, [("?y", "known_by", "?x"),
                              ("?x", "is", "social")])
    rows = sorted((r.subj, r.pred, r.obj) for r in g.collect())
    knows = {(s, o) for s, p, o in TRIPLES if p == "knows"}
    want = sorted({(y, "known_by", x) for x, y in knows}
                  | {(x, "is", "social") for x, _y in knows})
    assert rows == want  # the duplicate (a knows b) collapses: set semantics
    bag = construct_triples(b, [("?x", "is", "social")], distinct=False)
    assert bag.count() == len([1 for _s, p, _o in TRIPLES if p == "knows"])


def test_construct_skips_null_optional_instantiations(spark):
    from nous_spark.operators.bgp import construct_triples

    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    b = match_pattern(df, [("?x", "knows", "?y")],
                      optionals=[[("?y", "likes", "?w")]])
    g = construct_triples(b, [("?x", "friend_of_fan_of", "?w")])
    rows = sorted((r.subj, r.obj) for r in g.collect())
    # likes edges: (b likes b) -> knows(a,b) gives (a, b);
    # (a likes c) -> knows(c,a) gives (c, c); knows-objects without a
    # likes edge bind w NULL and are skipped
    assert rows == [("a", "b"), ("c", "c")]
    with pytest.raises(ValueError, match="unbound"):
        construct_triples(b, [("?x", "p", "?nope")])


def test_ask_short_circuits_to_bool(spark):
    from nous_spark.operators.bgp import ask

    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    assert ask(df, [("?x", "knows", "?y"), ("?y", "type", "robot")])
    assert not ask(df, [("?x", "hates", "?y")])
    assert not ask(df, [("?x", "knows", "?y")], filters=["x = 'zzz'"])
    assert ask(df, [("?x", "knows", "?y")], filters=["y = 'c'"])


def test_bgp_not_exists_matches_brute_force(spark):
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    # who knows someone, where that someone is NOT typed robot?
    got = match_pattern(
        df, [("?x", "knows", "?y")],
        not_exists=[[("?y", "type", "robot")]])
    want = sorted(
        (e["x"], e["y"]) for e in _brute_bgp([("?x", "knows", "?y")])
        if not any(p == "type" and s == e["y"] and o == "robot"
                   for s, p, o in TRIPLES))
    assert sorted((r.x, r.y) for r in got.collect()) == want
    # multiset preserved on the kept side: the (a knows b) duplicate
    assert [1 for r in got.collect() if (r.x, r.y) == ("a", "b")] == [1, 1]
    # group with private existential variable
    got2 = match_pattern(
        df, [("?x", "type", "?t")],
        not_exists=[[("?x", "likes", "?anyone")]])
    assert sorted(r.x for r in got2.collect()) == ["c"]  # a and b like
    with pytest.raises(ValueError, match="shares no variable"):
        match_pattern(df, [("?x", "knows", "?y")],
                      not_exists=[[("?p", "type", "robot")]])


def test_match_path_inverse_and_alternation(spark):
    from nous_spark.operators.bgp import match_path, path_preds

    edges = [("a", "p", "b"), ("b", "p", "c"), ("x", "q", "b"),
             ("c", "q", "d")]
    df = spark.createDataFrame(edges, "subj string, pred string, obj string")

    def brute(elems, lo, hi):
        E = set()
        for s, p, o in edges:
            if p in elems:
                E.add((s, o))
            if "^" + p in elems:
                E.add((o, s))
        best = {}
        frontier = set(E)
        for k in range(1, hi + 1):
            for pair in frontier:
                best.setdefault(pair, k)
            frontier = {(s, d2) for s, d in frontier for d1, d2 in E
                        if d == d1}
        return sorted((s, d, k) for (s, d), k in best.items()
                      if lo <= k <= hi)

    # inverse only: ^p walks b->a, c->b
    got = sorted((r.src, r.dst, r.hops) for r in
                 match_path(df, "^p", 1, 2).collect())
    assert got == brute(["^p"], 1, 2)
    # alternation with mixed direction
    got2 = sorted((r.src, r.dst, r.hops) for r in
                  match_path(df, ["p", "^q"], 1, 3).collect())
    assert got2 == brute(["p", "^q"], 1, 3)
    assert path_preds(["p", "^q"]) == ["p", "q"]
    with pytest.raises(ValueError, match="at least one"):
        match_path(df, [])


def test_match_path_store_prunes_and_matches(spark, tmp_path):
    from nous_spark.operators.bgp import match_path, match_path_store
    from nous_spark.operators.triple_store import (
        build_triple_store, read_triple_store, update_triple_store,
    )

    base = spark.createDataFrame(
        [("a", "next", "b"), ("b", "next", "c"), ("z", "other", "a")],
        "subj string, pred string, obj string")
    edges = spark.createDataFrame([("c", "cee")], "a string, b string")
    path = str(tmp_path / "ts")
    build_triple_store(base, edges, path, buckets=8, salt_buckets=2)
    update_triple_store(
        spark,
        spark.createDataFrame([("c", "next", "d")],
                              "subj string, pred string, obj string"),
        spark.createDataFrame([("d", "deeee")], "a string, b string"),
        path, update_id=1, salt_buckets=2)
    got = match_path_store(spark, path, "next", 1, 3)
    want = match_path(read_triple_store(spark, path), "next", 1, 3)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    # canonicalization applied: c's edges resolve through rep 'cee'
    assert ("a", "deeee", 3) in {(r.src, r.dst, r.hops)
                                 for r in got.collect()}
    plan = got._jdf.queryExecution().executedPlan().toString()
    pf = [seg.split("]")[0] for seg in plan.split("PartitionFilters: [")[1:]]
    assert pf and all("next" in s and "other" not in s for s in pf), plan
