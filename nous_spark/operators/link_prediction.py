"""BPR link prediction (reference LinkPrediction/src/social_BPR.py:1-319;
Zhang et al., "Trust from the past: BPR based link prediction in knowledge
graphs", SDM-MNG 2016).

The reference is single-node NumPy: one global P (user factors), Q (item
factors), B (item bias) updated by sequential SGD over 100·nnz·50 uniform
samples, with a social extension that ranks friend-purchased items between
own purchases and negatives (social_BPR.py:208-218, 261-306).

Spark-first redesign (parallel SGD with parameter averaging — Zinkevich et
al., NIPS 2010):

- interactions are a DataFrame (user, item); users are hash-blocked
- P is partitioned BY USER (each user's row is touched only by its own
  samples, so user blocks are independent given Q)
- Q and B are broadcast per epoch; each block runs local NumPy SGD over
  its users and emits its updated P rows plus its local Q/B deltas;
  deltas are averaged across blocks on the driver (item-factor tables are
  small relative to the interaction table — the standard recsys asymmetry)
- all sampling is seeded per (block, epoch): training is deterministic
  and resume-stable, which the reference's global Random is not
- HR@N / ARHR / AUC (social_BPR.py:88-186) are computed per user inside
  one applyInPandas pass (each user's ranking is independent) and reduced
  with a plain aggregation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_UPD_SCHEMA = T.StructType([
    T.StructField("kind", T.IntegerType()),   # 0 = P row, 1 = Q delta, 2 = B delta
    T.StructField("idx", T.LongType()),       # user (kind 0) or item (kind 1/2)
    T.StructField("vec", T.ArrayType(T.DoubleType())),
])

_METRIC_SCHEMA = T.StructType([
    T.StructField("hr_count", T.LongType()),
    T.StructField("rr_sum", T.DoubleType()),
    T.StructField("auc_sum", T.DoubleType()),
    T.StructField("active_test", T.LongType()),
])


def _init_factors(n: int, k: int, seed: int) -> np.ndarray:
    """N(0, 0.1) init (social_BPR.py:221-257), deterministic."""
    return np.random.default_rng(seed).normal(0.0, 0.1, size=(n, k))


def _sgd_block(
    pdf: pd.DataFrame, Q: np.ndarray, B: np.ndarray, n_items: int,
    alpha: float, lamda: float, steps_per_user: int, seed: int,
) -> pd.DataFrame:
    """One epoch of local SGD for one user block. pdf rows:
    (user, items, friend_items, factors).

    The group frame is sorted by user FIRST: under applyInPandas a group's
    row order follows shuffle fetch order, so without the sort the RNG
    walk (which indexes ``users`` positionally) — and therefore the whole
    SGD trajectory — would change with partition layout. Sorting makes
    training a pure function of (data, seed), independent of layout."""
    pdf = pdf.sort_values("user").reset_index(drop=True)
    Q = Q.copy()
    B = B.copy()
    Q0, B0 = Q.copy(), B.copy()
    k = Q.shape[1]
    users = pdf["user"].to_numpy()
    rng = np.random.default_rng(seed + int(users.min()) if len(users) else seed)
    P = {r.user: np.array(r.factors, dtype=np.float64) for r in pdf.itertuples()}
    pur = {r.user: np.array(r.items, dtype=np.int64) for r in pdf.itertuples()}
    fri = {
        r.user: (np.array(r.friend_items, dtype=np.int64)
                 if r.friend_items is not None else None)
        for r in pdf.itertuples()
    }
    all_items = np.arange(n_items, dtype=np.int64)

    def deriv(pu, i, j):
        # d/dr of -ln σ(r_uij)  (social_BPR.py:189-196)
        r = float(pu @ (Q[i] - Q[j]) + B[i] - B[j])
        return 1.0 / (1.0 + np.exp(-r)) - 1.0

    for _ in range(steps_per_user * max(len(users), 1)):
        u = int(users[rng.integers(len(users))])
        pu = P[u]
        pos = pur[u]
        i = int(pos[rng.integers(len(pos))])
        unpur = np.setdiff1d(all_items, pos, assume_unique=False)
        if len(unpur) == 0:
            continue
        f_items = fri[u]
        did_social = False
        if f_items is not None:
            d1 = np.setdiff1d(f_items, pos)                  # friend-only items
            d2 = np.setdiff1d(unpur, f_items)                # true negatives
            if len(d1) and len(d2):
                kk = int(d1[rng.integers(len(d1))])
                j = int(d2[rng.integers(len(d2))])
                # Social_BPR update (social_BPR.py:208-218)
                g1 = deriv(pu, i, kk)
                g2 = deriv(pu, kk, j)
                P[u] = pu - alpha * (g1 * (Q[i] - Q[kk]) + g2 * (Q[kk] - Q[j])
                                     + 2 * lamda * pu)
                Q[i] -= alpha * (g1 * pu + 2 * lamda * Q[i])
                Q[kk] -= alpha * (-g1 * pu + g2 * pu + 2 * lamda * Q[kk])
                Q[j] -= alpha * (-g2 * pu + 2 * lamda * Q[j])
                B[i] -= alpha * (g1 + 2 * lamda * B[i])
                B[kk] -= alpha * (-g1 + g2 + 2 * lamda * B[kk])
                B[j] -= alpha * (-g2 + 2 * lamda * B[j])
                did_social = True
        if not did_social:
            j = int(unpur[rng.integers(len(unpur))])
            # Original_BPR update (social_BPR.py:198-206)
            g = deriv(pu, i, j)
            P[u] = pu - alpha * (g * (Q[i] - Q[j]) + 2 * lamda * pu)
            Q[i] -= alpha * (g * pu + 2 * lamda * Q[i])
            Q[j] -= alpha * (-g * pu + 2 * lamda * Q[j])
            B[i] -= alpha * (g + 2 * lamda * B[i])
            B[j] -= alpha * (-g + 2 * lamda * B[j])

    rows = [(0, int(u), P[u].tolist()) for u in users]
    dq = Q - Q0
    db = B - B0
    touched = np.nonzero(np.abs(dq).sum(axis=1) + np.abs(db))[0]
    rows += [(1, int(it), dq[it].tolist()) for it in touched]
    rows += [(2, int(it), [float(db[it])]) for it in touched]
    return pd.DataFrame(rows, columns=["kind", "idx", "vec"])


def bpr_train(
    spark: SparkSession,
    train: DataFrame,
    n_items: int,
    social: DataFrame | None = None,
    k: int = 16,
    alpha: float = 0.02,
    lamda: float = 0.005,
    epochs: int = 5,
    steps_per_user: int = 100,
    n_blocks: int = 8,
    seed: int = 42,
) -> tuple[DataFrame, np.ndarray, np.ndarray]:
    """Train BPR. train(user, item) with item ids in [0, n_items);
    social(user, friend) optional. Returns (P DataFrame(user, factors),
    Q ndarray, B ndarray)."""
    # sort_array: collect_set order follows partition layout, and
    # _sgd_block draws positives by POSITION — sorting makes the draw a
    # pure function of (data, seed)
    per_user = train.groupBy("user").agg(
        F.sort_array(F.collect_set("item")).alias("items")
    )

    if social is not None:
        # one deterministic friend per (user, epoch-independent) — the
        # friend's purchased set rides along the user row
        fr = social.select("user", "friend").dropDuplicates()
        from pyspark.sql import Window

        w = Window.partitionBy("user").orderBy(F.xxhash64("friend", F.lit(seed)))
        fr1 = fr.withColumn("__r", F.row_number().over(w)).filter(F.col("__r") == 1)
        f_items = train.groupBy(F.col("user").alias("friend")).agg(
            F.sort_array(F.collect_set("item")).alias("friend_items")
        )
        per_user = per_user.join(
            fr1.select("user", "friend"), "user", "left"
        ).join(f_items, "friend", "left").drop("friend")
    else:
        per_user = per_user.withColumn(
            "friend_items", F.lit(None).cast("array<long>")
        )

    per_user = per_user.select(
        F.col("user").cast("long"),
        F.col("items").cast("array<long>"),
        F.col("friend_items").cast("array<long>"),
    ).persist()

    # distributed, per-user-seeded init — no driver-side factor matrix
    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def init_p(user: pd.Series) -> pd.Series:
        return user.apply(
            lambda u: np.random.default_rng(seed * 100003 + int(u))
            .normal(0.0, 0.1, k)
            .tolist()
        )

    P = per_user.select("user", init_p("user").alias("factors"))
    Q = _init_factors(n_items, k, seed + 1)
    B = _init_factors(n_items, 1, seed + 2)[:, 0]

    for epoch in range(epochs):
        joined = per_user.join(P, "user").withColumn(
            "__block", F.pmod(F.xxhash64("user", F.lit(epoch)), F.lit(n_blocks))
        )
        Qb, Bb = Q, B
        ep_seed = seed + 7919 * (epoch + 1)

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            return _sgd_block(
                pdf, Qb, Bb, n_items, alpha, lamda, steps_per_user, ep_seed
            )

        upd = joined.groupBy("__block").applyInPandas(run, _UPD_SCHEMA).persist()
        P = upd.filter(F.col("kind") == 0).select(
            F.col("idx").alias("user"), F.col("vec").alias("factors")
        ).localCheckpoint(eager=True)
        deltas = upd.filter(F.col("kind") >= 1).toPandas()
        upd.unpersist()
        # parameter averaging (Zinkevich et al.): Q_new = mean_b(Q_b) =
        # Q + mean(deltas). Summing instead multiplies every shared item's
        # step by n_blocks and oscillates (measured: AUC stalls at ~0.3)
        #
        # apply in a TOTAL deterministic order: the same item can receive
        # deltas from several blocks and float addition is order-sensitive,
        # while toPandas row order follows task completion order. (kind,
        # idx, vec) is a total key because per (block, kind, idx) the vec
        # is unique.
        deltas = deltas.assign(__k=deltas["vec"].map(tuple)).sort_values(
            ["kind", "idx", "__k"]
        )
        Q = Q.copy()
        B = B.copy()
        for r in deltas.itertuples():
            if r.kind == 1:
                Q[r.idx] += np.array(r.vec) / n_blocks
            else:
                B[r.idx] += r.vec[0] / n_blocks
    per_user.unpersist()
    return P, Q, B


def bpr_evaluate(
    P: DataFrame, Q: np.ndarray, B: np.ndarray,
    train: DataFrame, test: DataFrame, top_n: int = 10,
    sampled_negatives: int | None = None, seed: int = 42,
) -> dict:
    """HR@N, ARHR, AUC exactly per the reference's Evaluate
    (social_BPR.py:88-186): rank a user's unpurchased items by
    P_u·Q_i + B_i (ties broken by item id — the reference's Python-2 set
    order is unreproducible); HR/ARHR over top-N against the test items;
    AUC averages, per test item, the fraction of non-test unpurchased
    items ranked below it.

    ``sampled_negatives=K`` switches to sampled evaluation: each test item
    is ranked against K seeded negative draws (unpurchased, non-test)
    instead of the full catalog — O(K) per test item instead of O(|I|),
    which is the only evaluation that survives a 100M-item catalog. The
    exact path (default) is kept for reference-example parity; sampled
    AUC is an unbiased estimate of exact AUC (each negative comparison is
    an iid Bernoulli draw of the exact AUC's comparison set), HR@N/ARHR
    become the standard leave-one-out sampled variants (rank within the
    K+1 candidate set)."""
    per_user = (
        train.groupBy("user").agg(
            F.sort_array(F.collect_set("item")).alias("items")
        )
        .join(
            test.groupBy("user").agg(
                F.sort_array(F.collect_set("item")).alias("test_items")
            ),
            "user",
            "left",
        )
        .join(P, "user")
    )
    num_test = test.count()
    n_items = Q.shape[0]

    def solve_sampled(pdf: pd.DataFrame) -> pd.DataFrame:
        K = sampled_negatives
        # sort: per-group float accumulation order must not depend on
        # shuffle fetch order (same reasoning as _sgd_block)
        pdf = pdf.sort_values("user").reset_index(drop=True)
        hr, rr, auc, active = 0, 0.0, 0.0, 0
        for r in pdf.itertuples():
            pu = np.array(r.factors)
            pur = set(int(x) for x in r.items)
            tests = (
                [int(x) for x in r.test_items] if r.test_items is not None else []
            )
            excl = pur | set(tests)
            for t in tests:
                # deterministic per-(user, item) negative draws; oversample
                # then reject purchased/test items — resume-stable and
                # independent of partition layout
                rng = np.random.default_rng((seed, int(r.user), t))
                negs: list[int] = []
                # bounded rejection (same contract as _reject_draw): when
                # excl covers almost all of [0, n_items) the acceptance
                # probability per round is tiny — cap the rounds and accept
                # fewer than K negatives instead of looping unboundedly.
                # Draw sequence is unchanged unless the cap is hit.
                for _ in range(64):
                    cand = rng.integers(0, n_items, 4 * K)
                    negs.extend(int(c) for c in cand if int(c) not in excl)
                    if len(negs) >= K or len(excl) >= n_items:
                        break
                if not negs:
                    continue
                negs_a = np.array(negs[:K], dtype=np.int64)
                st = float(Q[t] @ pu + B[t])
                sn = Q[negs_a] @ pu + B[negs_a]
                # a negative ranks BELOW the test item iff its (−score,
                # item) sort key is larger — same tie-break as exact path
                below = (sn < st) | ((sn == st) & (negs_a > t))
                active += 1
                auc += float(below.sum()) / len(negs_a)
                rank = 1 + int((~below).sum())  # within the K+1 candidates
                if rank <= top_n:
                    hr += 1
                    rr += 1.0 / rank
        return pd.DataFrame(
            [(hr, rr, auc, active)],
            columns=["hr_count", "rr_sum", "auc_sum", "active_test"],
        )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("user").reset_index(drop=True)
        hr, rr, auc, active = 0, 0.0, 0.0, 0
        for r in pdf.itertuples():
            pu = np.array(r.factors)
            pur = set(int(x) for x in r.items)
            tests = (
                [int(x) for x in r.test_items] if r.test_items is not None else []
            )
            unpur = np.array(
                [i for i in range(n_items) if i not in pur], dtype=np.int64
            )
            if len(unpur) == 0:
                continue
            scores = Q[unpur] @ pu + B[unpur]
            order = np.lexsort((unpur, -scores))  # score desc, item asc
            ranked = unpur[order].tolist()
            rank_of = {it: i for i, it in enumerate(ranked)}
            top = ranked[:top_n]
            for t in tests:
                if t in top:
                    hr += 1
                    rr += 1.0 / (top.index(t) + 1)
            t_set = set(tests)
            for t in tests:
                if t not in rank_of:
                    continue
                active += 1
                ahead = sum(
                    1 for it in ranked[: rank_of[t]] if it not in t_set or it == t
                )
                comp_len = len(ranked) - len(t_set) + 1
                if comp_len > 1:
                    auc += float(comp_len - (ahead + 1)) / (comp_len - 1)
        return pd.DataFrame(
            [(hr, rr, auc, active)],
            columns=["hr_count", "rr_sum", "auc_sum", "active_test"],
        )

    fn = solve if sampled_negatives is None else solve_sampled
    parts = per_user.groupBy(F.pmod(F.xxhash64("user"), F.lit(16))).applyInPandas(
        lambda pdf: fn(pdf), _METRIC_SCHEMA
    )
    agg = parts.agg(
        F.sum("hr_count").alias("hr"),
        F.sum("rr_sum").alias("rr"),
        F.sum("auc_sum").alias("auc"),
        F.sum("active_test").alias("act"),
    ).collect()[0]
    return {
        "HR": (agg.hr or 0) / max(num_test, 1),
        "ARHR": (agg.rr or 0.0) / max(num_test, 1),
        "AUC": (agg.auc or 0.0) / max(agg.act or 1, 1),
    }


def read_bpr_matlab(spark: SparkSession, path: str) -> tuple[dict, DataFrame]:
    """Reader for the reference's Matlab-style interaction files
    (social_BPR.py:20-56): line 1 = 'num_user num_item num_nnz'; line u+1 =
    items of user u (1-based in the file, converted to 0-based here; empty
    line = no items). Small config-like files — read driver-side, then
    parallelized."""
    with open(path) as fh:
        lines = fh.read().splitlines()
    nu, ni, nnz = (int(x) for x in lines[0].split())
    rows = []
    for u, line in enumerate(lines[1:]):
        for tok in line.split():
            rows.append((u, int(tok) - 1))
    meta = {"num_user": nu, "num_item": ni, "num_nnz": nnz}
    df = spark.createDataFrame(rows or [(0, 0)], ["user", "item"])
    if not rows:
        df = df.limit(0)
    return meta, df


def read_social_graph(
    spark: SparkSession, graph_path: str, dict_path: str
) -> DataFrame:
    """Reader for the reference's subject-graph side information
    (social_BPR.py:58-82): '<label>\\t<label>\\t[w]' edges + 'label index'
    dictionary; returns symmetric (user, friend) with 0-based ids."""
    idx = {}
    with open(dict_path) as fh:
        for line in fh:
            parts = line.strip().split(" ")
            if len(parts) >= 2:
                idx[parts[0]] = int(parts[1]) - 1

    def strip(s: str) -> str:
        a, b = s.find("<"), s.rfind(">")
        return s[a + 1:b].strip() if a >= 0 and b > a else s.strip()

    rows = []
    with open(graph_path) as fh:
        for line in fh:
            parts = line.strip().split("\t")
            if len(parts) < 2:
                continue
            e1, e2 = idx.get(strip(parts[0])), idx.get(strip(parts[1]))
            if e1 is None or e2 is None or e1 == e2:
                continue
            rows.append((e1, e2))
            rows.append((e2, e1))
    df = spark.createDataFrame(rows or [(0, 0)], ["user", "friend"])
    if not rows:
        df = df.limit(0)
    return df.dropDuplicates()


# ---------------------------------------------------------------------------
# Distributed item factors (capability extension beyond the reference, which
# is single-node: social_BPR.py holds P/Q/B as in-memory ndarrays).
#
# The broadcast path above caps the item catalog at driver/executor memory
# (Q is k·n_items doubles shipped per epoch). At web scale (100M+ items)
# the factors must live in a DataFrame. The enabling observation: the SGD
# sampling trace is FACTOR-INDEPENDENT — which (user, pos, social, neg)
# tuples an epoch visits depends only on the seeded RNG and the purchase
# sets, never on factor values. So each epoch runs as:
#
#   pass A  groupBy(block).applyInPandas  → replay the draw trace, emit the
#           touched item ids per block (a tiny fraction of the catalog:
#           ≤ 3·steps_per_user·|block users|)
#   join    touched ⋈ items               → only touched factor rows move
#   pass B  cogroup(block: user rows, factor rows).applyInPandas → replay
#           the SAME trace (same seeds) and apply the gradient updates,
#           emitting new P rows + per-(block, item) Q/B deltas
#   apply   deltas folded into the items DataFrame with an ORDERED
#           aggregate (sorted by block id) so float addition order — and
#           therefore the whole training — is partition-layout independent
#
# Negative sampling is by seeded rejection against the purchase set (O(1)
# memory) instead of the broadcast path's setdiff materialization (O(n_items)
# per group — itself unscalable), so the two paths draw different negatives
# and are compared on metric parity, not bitwise equality.
# ---------------------------------------------------------------------------

_UPD2_SCHEMA = T.StructType([
    T.StructField("block", T.IntegerType()),
    T.StructField("kind", T.IntegerType()),   # 0 = P row, 1 = Q delta, 2 = B delta
    T.StructField("idx", T.LongType()),
    T.StructField("vec", T.ArrayType(T.DoubleType())),
])

_TOUCH_SCHEMA = T.StructType([
    T.StructField("block", T.IntegerType()),
    T.StructField("item", T.LongType()),
])


def _reject_draw(rng, n_items: int, excl, max_tries: int = 64):
    for _ in range(max_tries):
        c = int(rng.integers(n_items))
        if c not in excl:
            return c
    return None


def _draw_trace(pdf: pd.DataFrame, n_items: int, steps_per_user: int,
                seed: int):
    """Replay the per-block seeded draw sequence WITHOUT factors.
    pdf must already be sorted by user. Returns (trace, touched): trace =
    [(u, i, kk, j)] with kk = -1 for non-social steps."""
    users = pdf["user"].to_numpy()
    rng = np.random.default_rng(seed + int(users.min()) if len(users) else seed)
    pur = {r.user: np.array(r.items, dtype=np.int64) for r in pdf.itertuples()}
    pur_set = {u: set(int(x) for x in a) for u, a in pur.items()}
    fri = {
        r.user: (np.array(r.friend_items, dtype=np.int64)
                 if r.friend_items is not None else None)
        for r in pdf.itertuples()
    }
    trace, touched = [], set()
    for _ in range(steps_per_user * max(len(users), 1)):
        u = int(users[rng.integers(len(users))])
        pos = pur[u]
        i = int(pos[rng.integers(len(pos))])
        f = fri[u]
        did_social = False
        if f is not None:
            d1 = np.setdiff1d(f, pos)
            excl = pur_set[u] | set(int(x) for x in f)
            if len(d1) and len(excl) < n_items:
                kk = int(d1[rng.integers(len(d1))])
                j = _reject_draw(rng, n_items, excl)
                if j is not None:
                    trace.append((u, i, kk, j))
                    touched.update((i, kk, j))
                    did_social = True
        if not did_social:
            if len(pur_set[u]) >= n_items:
                continue
            j = _reject_draw(rng, n_items, pur_set[u])
            if j is None:
                continue
            trace.append((u, i, -1, j))
            touched.update((i, j))
    return trace, touched


def _apply_trace(trace, P: dict, Qd: dict, Bd: dict,
                 alpha: float, lamda: float) -> None:
    """Apply the BPR gradient steps of a trace in place. Qd/Bd map item →
    factor vector / bias for every touched item (same math as _sgd_block,
    social_BPR.py:198-218)."""
    def deriv(pu, i, j):
        r = float(pu @ (Qd[i] - Qd[j]) + Bd[i] - Bd[j])
        return 1.0 / (1.0 + np.exp(-r)) - 1.0

    for (u, i, kk, j) in trace:
        pu = P[u]
        if kk >= 0:
            g1 = deriv(pu, i, kk)
            g2 = deriv(pu, kk, j)
            P[u] = pu - alpha * (g1 * (Qd[i] - Qd[kk]) + g2 * (Qd[kk] - Qd[j])
                                 + 2 * lamda * pu)
            Qd[i] = Qd[i] - alpha * (g1 * pu + 2 * lamda * Qd[i])
            Qd[kk] = Qd[kk] - alpha * (-g1 * pu + g2 * pu + 2 * lamda * Qd[kk])
            Qd[j] = Qd[j] - alpha * (-g2 * pu + 2 * lamda * Qd[j])
            Bd[i] = Bd[i] - alpha * (g1 + 2 * lamda * Bd[i])
            Bd[kk] = Bd[kk] - alpha * (-g1 + g2 + 2 * lamda * Bd[kk])
            Bd[j] = Bd[j] - alpha * (-g2 + 2 * lamda * Bd[j])
        else:
            g = deriv(pu, i, j)
            P[u] = pu - alpha * (g * (Qd[i] - Qd[j]) + 2 * lamda * pu)
            Qd[i] = Qd[i] - alpha * (g * pu + 2 * lamda * Qd[i])
            Qd[j] = Qd[j] - alpha * (-g * pu + 2 * lamda * Qd[j])
            Bd[i] = Bd[i] - alpha * (g + 2 * lamda * Bd[i])
            Bd[j] = Bd[j] - alpha * (-g + 2 * lamda * Bd[j])


def _prepare_per_user(train: DataFrame, social: DataFrame | None,
                      seed: int) -> DataFrame:
    """(user, items sorted, friend_items sorted) — shared by both paths."""
    per_user = train.groupBy("user").agg(
        F.sort_array(F.collect_set("item")).alias("items")
    )
    if social is not None:
        from pyspark.sql import Window

        fr = social.select("user", "friend").dropDuplicates()
        w = Window.partitionBy("user").orderBy(F.xxhash64("friend", F.lit(seed)))
        fr1 = fr.withColumn("__r", F.row_number().over(w)).filter(F.col("__r") == 1)
        f_items = train.groupBy(F.col("user").alias("friend")).agg(
            F.sort_array(F.collect_set("item")).alias("friend_items")
        )
        per_user = per_user.join(
            fr1.select("user", "friend"), "user", "left"
        ).join(f_items, "friend", "left").drop("friend")
    else:
        per_user = per_user.withColumn(
            "friend_items", F.lit(None).cast("array<long>")
        )
    return per_user.select(
        F.col("user").cast("long"),
        F.col("items").cast("array<long>"),
        F.col("friend_items").cast("array<long>"),
    )


def bpr_train_distributed(
    spark: SparkSession,
    train: DataFrame,
    n_items: int,
    social: DataFrame | None = None,
    k: int = 16,
    alpha: float = 0.02,
    lamda: float = 0.005,
    epochs: int = 5,
    steps_per_user: int = 100,
    n_blocks: int = 8,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """BPR with item factors as a DataFrame — no driver/broadcast copy of
    the catalog anywhere. Returns (P(user, factors), items(item, qf, b)).
    Deterministic: same (data, seed) → bitwise-identical factors at any
    partition layout (ordered delta folds, sorted group frames)."""
    per_user = _prepare_per_user(train, social, seed).persist()

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def init_p(user: pd.Series) -> pd.Series:
        return user.apply(
            lambda u: np.random.default_rng(seed * 100003 + int(u))
            .normal(0.0, 0.1, k).tolist()
        )

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def init_q(item: pd.Series) -> pd.Series:
        return item.apply(
            lambda i: np.random.default_rng(seed * 100019 + 7 + int(i))
            .normal(0.0, 0.1, k).tolist()
        )

    @F.pandas_udf(T.DoubleType())
    def init_b(item: pd.Series) -> pd.Series:
        return item.apply(
            lambda i: float(np.random.default_rng(seed * 100043 + 11 + int(i))
                            .normal(0.0, 0.1))
        )

    P = per_user.select("user", init_p("user").alias("factors"))
    items = spark.range(n_items).select(
        F.col("id").alias("item"), init_q("id").alias("qf"),
        init_b("id").alias("b"),
    ).localCheckpoint(eager=True)

    for epoch in range(epochs):
        ep_seed = seed + 7919 * (epoch + 1)
        joined = per_user.join(P, "user").withColumn(
            "__block",
            F.pmod(F.xxhash64("user", F.lit(epoch)), F.lit(n_blocks))
            .cast("int"),
        ).persist()

        def touch(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("user").reset_index(drop=True)
            blk = int(pdf["__block"].iloc[0]) if len(pdf) else 0
            _, touched = _draw_trace(pdf, n_items, steps_per_user, ep_seed)
            return pd.DataFrame(
                {"block": blk, "item": sorted(touched)}
            ) if touched else pd.DataFrame({"block": pd.Series(dtype="int32"),
                          "item": pd.Series(dtype="int64")})

        touched = joined.groupBy("__block").applyInPandas(touch, _TOUCH_SCHEMA)
        bitems = touched.join(items, "item").select("block", "item", "qf", "b")

        def sgd(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            left = left.sort_values("user").reset_index(drop=True)
            if not len(left):
                return pd.DataFrame(columns=["block", "kind", "idx", "vec"])
            blk = int(left["__block"].iloc[0])
            trace, _ = _draw_trace(left, n_items, steps_per_user, ep_seed)
            Qd = {
                int(r.item): np.array(r.qf, dtype=np.float64)
                for r in right.itertuples()
            }
            Bd = {int(r.item): float(r.b) for r in right.itertuples()}
            Q0 = {i: v.copy() for i, v in Qd.items()}
            B0 = dict(Bd)
            P_loc = {
                r.user: np.array(r.factors, dtype=np.float64)
                for r in left.itertuples()
            }
            _apply_trace(trace, P_loc, Qd, Bd, alpha, lamda)
            rows = [(blk, 0, int(u), P_loc[u].tolist()) for u in left["user"]]
            for it in sorted(Qd):
                dq = Qd[it] - Q0[it]
                db = Bd[it] - B0[it]
                if np.abs(dq).sum() + abs(db) != 0.0:
                    rows.append((blk, 1, it, dq.tolist()))
                    rows.append((blk, 2, it, [db]))
            return pd.DataFrame(rows, columns=["block", "kind", "idx", "vec"])

        upd = (
            joined.groupby("__block")
            .cogroup(bitems.groupby("block"))
            .applyInPandas(sgd, _UPD2_SCHEMA)
            .persist()
        )
        P = upd.filter(F.col("kind") == 0).select(
            F.col("idx").alias("user"), F.col("vec").alias("factors")
        ).localCheckpoint(eager=True)

        # fold deltas into the item table in BLOCK ORDER (array_sort on the
        # (block, vec) struct) — float-addition-order independence
        nb = F.lit(float(n_blocks))
        dq = upd.filter(F.col("kind") == 1).groupBy(
            F.col("idx").alias("item")
        ).agg(F.array_sort(F.collect_list(F.struct("block", "vec"))).alias("qs"))
        db = upd.filter(F.col("kind") == 2).groupBy(
            F.col("idx").alias("item")
        ).agg(F.array_sort(F.collect_list(F.struct("block", "vec"))).alias("bs"))
        items = (
            items.join(dq, "item", "left").join(db, "item", "left")
            .select(
                "item",
                F.coalesce(
                    F.aggregate(
                        "qs", F.col("qf"),
                        lambda acc, s: F.zip_with(
                            acc, s["vec"], lambda a, d: a + d / nb
                        ),
                    ),
                    F.col("qf"),
                ).alias("qf"),
                F.coalesce(
                    F.aggregate(
                        "bs", F.col("b"),
                        lambda acc, s: acc + s["vec"][0] / nb,
                    ),
                    F.col("b"),
                ).alias("b"),
            )
            .localCheckpoint(eager=True)
        )
        upd.unpersist()
        joined.unpersist()
    per_user.unpersist()
    return P, items


def bpr_evaluate_distributed(
    P: DataFrame, items: DataFrame, train: DataFrame, test: DataFrame,
    n_items: int, top_n: int = 10, sampled_negatives: int = 50,
    seed: int = 42,
) -> dict:
    """Sampled-negative evaluation against DataFrame item factors: pass A
    replays the per-(user, test item) negative draws (factor-independent)
    to emit the needed item ids, the factor rows are fetched by join, and
    pass B scores per user block — the catalog never leaves the cluster."""
    spark = P.sparkSession
    K = sampled_negatives
    per_user = (
        train.groupBy("user").agg(
            F.sort_array(F.collect_set("item")).alias("items")
        )
        .join(
            test.groupBy("user").agg(
                F.sort_array(F.collect_set("item")).alias("test_items")
            ),
            "user", "left",
        )
        .join(P, "user")
        .withColumn("__part", F.pmod(F.xxhash64("user"), F.lit(16)).cast("int"))
        .persist()
    )
    num_test = test.count()

    def draws_for(user: int, pur: set, tests: list):
        """The (test item → negatives) map — same rejection rng as solve_sampled."""
        excl = pur | set(tests)
        out = {}
        for t in tests:
            rng = np.random.default_rng((seed, user, t))
            negs: list[int] = []
            # bounded rejection — mirrors solve_sampled exactly (the two
            # draw sequences must stay bit-identical for parity)
            for _ in range(64):
                cand = rng.integers(0, n_items, 4 * K)
                negs.extend(int(c) for c in cand if int(c) not in excl)
                if len(negs) >= K or len(excl) >= n_items:
                    break
            out[t] = negs[:K]
        return out

    def needed(pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(pdf["__part"].iloc[0]) if len(pdf) else 0
        items_needed = set()
        for r in pdf.itertuples():
            tests = ([int(x) for x in r.test_items]
                     if r.test_items is not None else [])
            pur = set(int(x) for x in r.items)
            for t, negs in draws_for(int(r.user), pur, tests).items():
                items_needed.add(t)
                items_needed.update(negs)
        return pd.DataFrame({"block": part, "item": sorted(items_needed)}) \
            if items_needed else pd.DataFrame({"block": pd.Series(dtype="int32"),
                          "item": pd.Series(dtype="int64")})

    touched = per_user.groupBy("__part").applyInPandas(needed, _TOUCH_SCHEMA)
    fitems = touched.join(items, "item").select("block", "item", "qf", "b")

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.sort_values("user").reset_index(drop=True)
        Qd = {int(r.item): np.array(r.qf, dtype=np.float64)
              for r in right.itertuples()}
        Bd = {int(r.item): float(r.b) for r in right.itertuples()}
        hr, rr, auc, active = 0, 0.0, 0.0, 0
        for r in left.itertuples():
            pu = np.array(r.factors)
            tests = ([int(x) for x in r.test_items]
                     if r.test_items is not None else [])
            pur = set(int(x) for x in r.items)
            for t, negs in draws_for(int(r.user), pur, tests).items():
                if not negs:
                    continue
                na = np.array(negs, dtype=np.int64)
                st = float(Qd[t] @ pu + Bd[t])
                sn = np.array([Qd[j] @ pu + Bd[j] for j in na])
                below = (sn < st) | ((sn == st) & (na > t))
                active += 1
                auc += float(below.sum()) / len(na)
                rank = 1 + int((~below).sum())
                if rank <= top_n:
                    hr += 1
                    rr += 1.0 / rank
        return pd.DataFrame(
            [(hr, rr, auc, active)],
            columns=["hr_count", "rr_sum", "auc_sum", "active_test"],
        )

    parts = (
        per_user.groupby("__part")
        .cogroup(fitems.groupby("block"))
        .applyInPandas(score, _METRIC_SCHEMA)
    )
    agg = parts.agg(
        F.sum("hr_count").alias("hr"), F.sum("rr_sum").alias("rr"),
        F.sum("auc_sum").alias("auc"), F.sum("active_test").alias("act"),
    ).collect()[0]
    per_user.unpersist()
    return {
        "HR": (agg.hr or 0) / max(num_test, 1),
        "ARHR": (agg.rr or 0.0) / max(num_test, 1),
        "AUC": (agg.auc or 0.0) / max(agg.act or 1, 1),
    }
