"""Graph operators over edge DataFrames (SURVEY.md §2.8).

The reference uses GraphX (`Graph[VD,ED]`, aggregateMessages, Pregel,
subgraph). Here a graph is two DataFrames — edges(src, dst, pred) and
optionally vertices(id, label) — and every graph op is a join/agg plan
Catalyst can optimize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nous_spark.localrel import hand_back

# Edge count at or under which connected_components, k_core and
# label_propagation (and near_duplicate_clusters, through CC) skip their
# per-round distributed loops: one Arrow collect, the kernel on the
# driver, the result back through ``hand_back``. Below it every
# distributed round is mostly fixed shuffle and scheduling cost; above
# it the driver's working set is the limit. At 16M edges the Arrow
# collect plus the kernel's arrays (or, for k_core, Python dict/set
# entries per vertex) take roughly 2-4 GiB of driver heap/RSS — size
# ``spark.driver.memory`` to match, or lower this constant.
DRIVER_EDGE_CAP = 16_000_000


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """A10: vertex degree (both directions). Map-side partial aggregation
    makes this one shuffle of pre-aggregated counts."""
    pts = edges.select(F.col(src).alias("id")).unionAll(
        edges.select(F.col(dst).alias("id"))
    )
    return pts.groupBy("id").agg(F.count("*").alias("degree"))


def neighbor_labels(
    edges: DataFrame, vertices: DataFrame, both_directions: bool = True
) -> DataFrame:
    """A12/J3 (NodeProp.getOneHopNbrIdsLabels, NodeProp.scala:7-22):
    per vertex, the set of one-hop neighbor labels."""
    v = vertices.select(F.col("id").alias("nbr_id"), F.col("label").alias("nbr_label"))
    fwd = edges.join(v, edges.dst == v.nbr_id).select(
        F.col("src").alias("id"), "nbr_id", "nbr_label"
    )
    if both_directions:
        rev = edges.join(v, edges.src == v.nbr_id).select(
            F.col("dst").alias("id"), "nbr_id", "nbr_label"
        )
        fwd = fwd.unionByName(rev)
    return fwd.groupBy("id").agg(
        F.collect_set("nbr_label").alias("nbr_labels"),
        F.count("*").alias("n_nbrs"),
    )


def subgraph_by_vertices(
    edges: DataFrame, keep_vertices: DataFrame, vid_col: str = "id"
) -> DataFrame:
    """G2 (GraphX subgraph): keep edges whose BOTH endpoints survive.
    Two semi-joins — broadcast when the vertex set is small."""
    kv = keep_vertices.select(F.col(vid_col).alias("__kv"))
    out = edges.join(kv, edges.src == F.col("__kv"), "left_semi")
    return out.join(kv, out.dst == F.col("__kv"), "left_semi")


def pagerank(
    edges: DataFrame,
    reset_prob: float = 0.15,
    max_iter: int = 10,
    tol: float | None = None,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """G6 (PathFeatureGenerator.savePageRank, PathFeatureGenerator.scala:98-121):
    PageRank as a bounded driver loop of join+agg rounds (GraphX semantics:
    rank = resetProb + (1-resetProb) · Σ in-rank/out-degree; dangling mass
    is not redistributed, matching GraphX's pageRank).

    Each round: one join (ranks ⋈ out-edges) + one aggregation; lineage is
    truncated per round. Returns (id, rank)."""
    e = edges.select(F.col(src).alias("from"), F.col(dst).alias("to"))
    out_deg = e.groupBy("from").agg(F.count("*").alias("out_deg"))
    vertices = (
        e.select(F.col("from").alias("id"))
        .unionAll(e.select(F.col("to").alias("id")))
        .distinct()
        .persist()
    )
    ranks = vertices.withColumn("rank", F.lit(1.0))
    for _ in range(max_iter):
        contribs = (
            e.join(ranks.withColumnRenamed("id", "from"), "from")
            .join(out_deg, "from")
            .select(
                F.col("to").alias("id"),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
            .groupBy("id")
            .agg(F.sum("contrib").alias("in_sum"))
        )
        new_ranks = (
            vertices.join(contribs, "id", "left")
            .select(
                "id",
                (F.lit(reset_prob)
                 + F.lit(1 - reset_prob) * F.coalesce("in_sum", F.lit(0.0))
                 ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        if tol is not None:
            delta = (
                new_ranks.alias("n").join(ranks.alias("o"), "id")
                .select(F.max(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("d"))
                .collect()[0].d
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    vertices.unpersist()
    return ranks


def dictionary_encode(
    df: DataFrame, cols: list[str], start_id: int = 0
) -> tuple[DataFrame, DataFrame]:
    """J10 (Mining/scripts/getIntGraph.py:22-55 — offline in the reference):
    label → dense int id. Returns (encoded_df, dictionary(label, id)).

    Dense ids = global rank of the label in sorted order — deterministic and
    resume-stable — but computed WITHOUT a global single-partition window:
    distinct labels are range-partitioned by label, each partition numbers
    its rows locally, and tiny per-partition counts (one row per partition)
    are cumsum'd on the driver into offsets. Identical ids to
    ``row_number().over(Window.orderBy(label))`` at any scale, with no
    single-task sort of the whole dictionary."""
    from pyspark.sql import Window

    labels = df.select(F.col(cols[0]).alias("label"))
    for c in cols[1:]:
        labels = labels.unionAll(df.select(F.col(c).alias("label")))
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        labels.distinct()
        .repartitionByRange(n_parts, "label")
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    # one row per partition — safe to collect at any dictionary size
    part_counts = {
        r["__pid"]: r["cnt"]
        for r in ranged.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in range(max(part_counts, default=-1) + 1):
        offsets.append((pid, acc))
        acc += part_counts.get(pid, 0)
    from nous_spark.localrel import local_df

    offsets_df = F.broadcast(
        local_df(spark, offsets or [(0, 0)],
                 "__pid int, __offset bigint")
    )
    local_w = Window.partitionBy("__pid").orderBy("label")
    dictionary = (
        ranged.withColumn("__rn", F.row_number().over(local_w))
        .join(offsets_df, "__pid")
        .select(
            "label",
            (F.col("__rn") + F.col("__offset") + F.lit(start_id - 1)).alias("id"),
        )
    )
    # materialize the dictionary (its storage is tied to the returned
    # frame's lifetime) so the cached distinct-label table can be released
    # now instead of leaking for the life of the session
    dictionary = dictionary.localCheckpoint(eager=True)
    ranged.unpersist()
    out = df
    for c in cols:
        m = dictionary.select(
            F.col("label").alias(c), F.col("id").alias(f"{c}_id")
        )
        out = out.join(F.broadcast(m), c, "left")
    return out, dictionary


def bin_weights(
    edges: DataFrame, weight_col: str, n_bins: int = 10,
    bin_col: str = "bin",
) -> DataFrame:
    """W6/A14 (binning + min-max normalization,
    DatatoPatternGraph.scala:923-924): normalize ``weight_col`` to [0,1]
    over its global min/max and bucket to ``floor(w·n_bins)`` with the
    top edge clamped into the last bin. Two jobs: one min/max aggregate,
    one map-side projection."""
    stats = edges.agg(
        F.min(weight_col).alias("mn"), F.max(weight_col).alias("mx")
    ).collect()[0]
    span = (stats.mx - stats.mn) or 1.0
    return edges.withColumn(
        bin_col,
        F.least(
            F.floor((F.col(weight_col) - F.lit(stats.mn)) / F.lit(span)
                    * n_bins).cast("int"),
            F.lit(n_bins - 1),
        ),
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """G8: connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — the two-phase algorithm). Pass ``stats={}`` to receive
    ``stats["rounds"]`` — the executed round count (the chain-stress gate
    pins it ~log2(diameter)).

    Returns (id, component) where component = min vertex id reachable.
    Each round rewires the edge set itself (not a label table):

        large-star: every node u hooks its strictly-larger neighbors to
                    m = min(Γ(u) ∪ {u})            — halves long chains
        small-star: every node u hooks its ≤ neighbors (and itself) to
                    m = min(Γ≤(u) ∪ {u})           — flattens local stars

    until the edge set is a fixed point, at which time each component is
    a star centered on its minimum vertex id. This is the proven
    O(log² n)-round (observed ~log₂ diameter) formulation; the previous
    hash-to-min + single-pointer-jump version measured O(diameter) rounds
    on a label-scrambled 2048-path (>200 rounds — the chain-stress test
    caught it), which at 100 TB alias-graph scale is the difference
    between ~12 and ~20 000 shuffles. Works for numeric or string vertex
    ids (min = lexicographic for strings, matching F.min). Lineage is
    truncated every round via localCheckpoint so plans stay bounded.

    Up to ``DRIVER_EDGE_CAP`` raw (self-loop-free) edges, components run
    on the driver over one Arrow collect instead — exact, min-root (so
    the representative is the component minimum for numbers and strings
    alike), none of the per-round shuffle + fixed-point-confirmation
    cost (parity-tested against the distributed loop). The distributed
    star/star loop serves anything larger unchanged, and sets
    ``stats["rounds"]``; the driver path sets ``stats["mode"] =
    "driver"`` instead.
    """
    # self-loops dropped; the vertex universe is fixed from the input so
    # star-rewiring can't lose isolated-after-filter vertices
    e0 = (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .filter(F.col("x") != F.col("y"))
    )

    # The cap check counts RAW (self-loop-free) edges — an upper bound on
    # the canonical count, so the check is conservative. Checking before
    # any shuffle lets the driver path skip the canonicalize/dedup
    # exchange, the vertex-distinct exchange and both localCheckpoint
    # materializations entirely (measured: those jobs, not the CC math,
    # were ~80% of the 1.5M-edge wall): one cheap count job, one Arrow
    # collect of the raw projection, done. Min-propagation is oriented-
    # duplicate-insensitive, so NumPy needs no dedup either.
    if e0.count() <= DRIVER_EDGE_CAP:
        # vectorized hash-to-min over factorized vertex RANKS: sorting
        # the vertex universe first makes "min rank" == "min id" (for
        # longs and strings alike), so min-propagation + pointer
        # doubling lands every vertex on its component's minimum id.
        # All NumPy array passes — a per-edge python union-find loop
        # measured 3 s + 2 s of find-compression at 1.5M edges
        import numpy as np

        pdf = e0.toPandas()
        uniq = np.unique(
            np.concatenate([pdf["x"].to_numpy(), pdf["y"].to_numpy()])
        )  # sorted vertex universe
        ua = np.searchsorted(uniq, pdf["x"].to_numpy())
        va = np.searchsorted(uniq, pdf["y"].to_numpy())
        comp = np.arange(len(uniq), dtype=np.int64)
        while True:
            prev = comp.copy()
            np.minimum.at(comp, ua, comp[va])
            np.minimum.at(comp, va, comp[ua])
            while True:
                c2 = comp[comp]
                if np.array_equal(c2, comp):
                    break
                comp = c2
            if np.array_equal(comp, prev):
                break
        if stats is not None:
            stats["mode"] = "driver"
        id_type = dict(e0.dtypes)["x"]
        return hand_back(e0.sparkSession,
                         {"id": uniq, "component": uniq[comp]},
                         f"id {id_type}, component {id_type}")

    verts = (
        e0.select(F.col("x").alias("id"))
        .unionAll(e0.select(F.col("y").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # canonical orientation (a > b) for the star rounds
    cur = (
        e0.select(
            F.greatest("x", "y").alias("a"), F.least("x", "y").alias("b")
        )
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )

    # fixed-point detection: a cheap one-row signature scan per round
    # (count + overflow-safe decimal hash-sum — ANSI mode errors on LONG
    # sum overflow); only when signatures collide do the two exact
    # anti-join probes, so the exact set-compare shuffles are paid once,
    # at convergence, not every round
    def _sig(df: DataFrame):
        return df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(28,0)")).alias("h"),
        ).first()

    prev_sig = _sig(cur)
    _round = -1
    for _round in range(max_iter):
        # large-star over the symmetric view: m(u) = min(Γ(u) ∪ {u});
        # emit (v, m) for neighbors v > u. No dedup here — duplicate
        # (v, m) rows don't change any min and are collapsed at nxt,
        # saving one (a, b) shuffle per round
        sym = cur.unionAll(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        # small-star on the (a > b)-oriented edges: m(u) = min of u's
        # smaller neighbors; emit (v, m) for v ≠ m plus (u, m)
        smins = large.groupBy("a").agg(F.min("b").alias("m"))
        nxt = (
            large.join(smins, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionAll(smins.select(F.col("a"), F.col("m").alias("b")))
            .dropDuplicates(["a", "b"])
            .localCheckpoint(eager=True)
        )
        sig = _sig(nxt)
        if sig == prev_sig:
            # fixed point ⇔ identical canonical edge sets (both distinct,
            # both (a > b)-oriented) — confirm the signature exactly
            changed = (
                nxt.exceptAll(cur).limit(1).count()
                + cur.exceptAll(nxt).limit(1).count()
            )
            cur = nxt
            if changed == 0:
                break
        else:
            cur = nxt
        prev_sig = sig
    if stats is not None:
        stats["rounds"] = _round + 1
    # at the fixed point every non-root vertex has exactly the edge
    # (v, component-min); roots (and any vertex star-rewired away) map to
    # themselves
    return verts.join(
        cur.select(F.col("a").alias("id"), F.col("b").alias("__root")),
        "id",
        "left",
    ).select("id", F.coalesce("__root", "id").alias("component"))


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected simple-graph view: (a < b), self-loops dropped,
    duplicates collapsed."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex triangle counts (Suri & Vassilvitskii, WWW'11 —
    degree-ordered orientation).

    Each edge is oriented from its lower-rank endpoint to its higher-rank
    endpoint, where rank = (degree, id). Wedges are then enumerated only
    at their lowest-rank vertex: the self-join fan-out per vertex is
    bounded by its ORIENTED out-degree ≤ O(sqrt(m)) on any graph, so a
    celebrity hub with 10^7 followers contributes ~sqrt-bounded wedge
    pairs, not 10^14 — the property that makes this the standard
    MapReduce triangle algorithm at web scale. Closing edges are checked
    with one join back to the oriented edge set.

    The canonical edge set and the oriented edge set each feed several
    joins, so both are materialized once via localCheckpoint (the same
    discipline as ``connected_components``) — without it Catalyst
    re-executes the edge-building subtree per join arm (audited: 26
    redundant scans on the co-occurrence gate), which at 100 TB means
    re-shuffling the full edge table ~10x. With it the plan reads
    checkpointed blocks: wedge join + closing join + degree aggregation,
    all map-side combinable. Returns (id, n_triangles) for every vertex
    of the graph (zero-triangle vertices included, so the output is a
    total vertex attribute like ``degrees``).
    """
    e = _canonical_edges(edges, src, dst).localCheckpoint(eager=True)
    deg = degrees(e, "a", "b").localCheckpoint(eager=True)
    # orientation rank: (degree, id) — total order, deterministic
    ra = deg.select(
        F.col("id").alias("a"), F.col("degree").alias("da")
    )
    rb = deg.select(
        F.col("id").alias("b"), F.col("degree").alias("db")
    )
    ed = e.join(ra, "a").join(rb, "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=True)
    # wedges at u: pairs (v, w) of out-neighbors; order by (v < w) on the
    # raw ids only to avoid double-counting the pair, then close with an
    # oriented edge in EITHER direction (orientation of the closing edge
    # depends on v/w ranks)
    o2 = oriented.select(F.col("u"), F.col("v").alias("w"))
    wedges = (
        oriented.join(o2, "u")
        .filter(F.col("v") < F.col("w"))
    )
    # the closing-edge set IS the canonical (a < b) edge set — orientation
    # only matters for wedge generation
    closing = e.select(F.col("a").alias("v"), F.col("b").alias("w"))
    tri = wedges.join(closing, ["v", "w"])  # (u, v, w) triangles
    per_vertex = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("n_triangles"))
    )
    verts = deg.select("id")
    return verts.join(per_vertex, "id", "left").select(
        "id",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
    )


def adamic_adar_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_neighbor_degree: int | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Adamic-Adar link-prediction scores for non-adjacent vertex pairs
    at distance 2: score(x, y) = Σ_{w ∈ Γ(x)∩Γ(y)} 1 / ln(deg(w)).

    The non-embedding complement to the BPR ranker (link_prediction.py)
    and the alias-suggestion signal for entity linking: high-score
    non-edges are merge candidates. Common neighbors have degree ≥ 2 by
    construction, so ln(deg) ≥ ln 2 — no division hazard.

    Scale shape: pairs are generated per common neighbor w — a
    deg(w)-choose-2 blowup, the same hub hazard as any common-neighbor
    method. ``max_neighbor_degree`` drops hub intermediates BEFORE the
    pair join (standard practice: a w with 10^6 neighbors contributes
    ~1/ln(10^6) ≈ 0.07 per pair — huge cost, negligible signal), making
    candidate volume Σ min(deg, cap)² — linear in edges for fixed cap.
    Existing edges are removed with one anti-join; ``top_k`` keeps the
    best suggestions per left vertex (partitioned window, no global
    sort). Scores rounded 6dp. Returns (x, y, n_common, score), x < y.

    The canonical and symmetric edge frames feed three join arms each,
    so both are localCheckpointed once (see triangle_counts for the
    audit) instead of re-running the edge subtree per arm.
    """
    e = _canonical_edges(edges, src, dst).localCheckpoint(eager=True)
    sym = e.unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("w"), F.col("b").alias("n")) \
        .localCheckpoint(eager=True)
    # per-intermediate degree + optional hub cap, computed on the
    # symmetric view itself (one groupBy)
    wdeg = sym.groupBy("w").agg(F.count("*").alias("wd"))
    if max_neighbor_degree is not None:
        wdeg = wdeg.filter(F.col("wd") <= max_neighbor_degree)
    nbrs = sym.join(wdeg, "w")
    n2 = nbrs.select(
        F.col("w"), F.col("n").alias("m"), F.col("wd")
    )
    pairs = (
        nbrs.join(n2, ["w", "wd"])
        .filter(F.col("n") < F.col("m"))
        .groupBy(F.col("n").alias("x"), F.col("m").alias("y"))
        .agg(
            F.count("*").alias("n_common"),
            F.round(F.sum(F.lit(1.0) / F.log(F.col("wd").cast("double"))), 6)
            .alias("score"),
        )
    )
    out = pairs.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    if top_k is not None:
        from pyspark.sql.window import Window

        win = Window.partitionBy("x").orderBy(
            F.col("score").desc(), F.col("y").asc()
        )
        out = (
            out.withColumn("__r", F.row_number().over(win))
            .filter(F.col("__r") <= top_k)
            .drop("__r")
        )
    return out


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Vertices of the k-core: the maximal subgraph where every vertex
    has degree ≥ k (undirected, simple). The standard noise filter
    before community detection / dense-region mining on the entity
    graph — peeling throws away the long tail of weakly-attached
    extraction artifacts.

    Iterative peel: drop vertices with current degree < k, delete their
    edges, repeat to fixpoint. Each round is one degree aggregation and
    two semi-joins; the edge frame shrinks monotonically, and rounds are
    localCheckpointed so lineage stays bounded (same discipline as
    connected_components). Round count is bounded by the peel depth —
    small in practice (web graphs: tens), and each round touches only
    the surviving subgraph, so total work is O(m · depth) worst case but
    ~O(m) on real degree distributions. Returns (id, core_degree) for
    surviving vertices; empty frame if the k-core is empty.

    Up to ``DRIVER_EDGE_CAP`` canonical edges the peel runs driver-side
    over one Arrow collect (exact, no per-round shuffle cost,
    parity-tested against the distributed loop); the distributed loop
    takes over above the cap. ``stats["rounds"]`` is reported by the
    distributed loop only (the driver peel is round-free).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    cur = _canonical_edges(edges, src, dst).localCheckpoint(eager=True)
    if cur.count() <= DRIVER_EDGE_CAP:
        from collections import defaultdict

        adj = defaultdict(set)
        # one Arrow collect (columnar, no per-row Row objects — at the
        # 16M-edge cap a plain collect() is multiple GB of Python Rows)
        pdf = cur.toPandas()
        for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
            adj[a].add(b)
            adj[b].add(a)
        changed = True
        while changed:
            changed = False
            for v in list(adj):
                if len(adj[v]) < k:
                    for n in adj[v]:
                        adj[n].discard(v)
                    del adj[v]
                    changed = True
        if stats is not None:
            stats["converged"] = True
        ids = sorted(adj)
        id_type = dict(cur.dtypes)["a"]
        return hand_back(
            cur.sparkSession,
            {"id": ids, "core_degree": [len(adj[v]) for v in ids]},
            f"id {id_type}, core_degree bigint",
        )
    rounds, converged = 0, False
    for rounds in range(1, max_iter + 1):
        deg = degrees(cur, "a", "b")
        # short-circuit convergence probe: any vertex below k?
        if deg.filter(F.col("degree") < k).limit(1).count() == 0:
            converged = True
            break
        keep = deg.filter(F.col("degree") >= k).select("id")
        kv = keep.select(F.col("id").alias("__kv"))
        nxt = cur.join(kv, cur.a == F.col("__kv"), "left_semi")
        nxt = nxt.join(kv, nxt.b == F.col("__kv"), "left_semi")
        cur = nxt.localCheckpoint(eager=True)
    if not converged:
        # peel depth is unbounded (a path graph sheds only its endpoints
        # per round), so an exhausted loop can still hold sub-k vertices;
        # returning them silently would hand callers a non-k-core
        converged = (
            degrees(cur, "a", "b")
            .filter(F.col("degree") < k).limit(1).count() == 0
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        raise RuntimeError(
            f"k_core did not converge in max_iter={max_iter} rounds: "
            f"vertices with degree < {k} remain (the peel is truncated, "
            "not a k-core) — raise max_iter"
        )
    return degrees(cur, "a", "b").select(
        "id", F.col("degree").cast("long").alias("core_degree")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
    stats: dict | None = None,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007), made fully deterministic: every vertex starts with its own
    id as label and each round adopts the most frequent label among its
    neighbors, ties broken by the smallest label. Deterministic sync
    updates can oscillate on bipartite-ish structure, so the loop stops
    at stability OR ``max_iter`` — with identical inputs the output is
    bit-reproducible either way (the property the oracle needs; the
    GraphX reference behavior is the same capped sync loop).

    Per round: one join (neighbor labels), one (vertex, label) count
    aggregate, one argmax via max(struct(cnt, -label)) — all map-side
    combinable, labels checkpointed per round (bounded lineage, same
    discipline as connected_components). Returns (id, label) where label
    is a community representative's vertex id.

    Up to ``DRIVER_EDGE_CAP`` canonical edges the sync loop runs
    driver-side over one Arrow collect — bit-identical updates (same
    tie-break, same cap, same stability stop), none of the per-round
    shuffle overhead; the distributed loop takes over above the cap
    (parity-tested against it).
    """
    e = _canonical_edges(edges, src, dst).localCheckpoint(eager=True)
    if e.count() <= DRIVER_EDGE_CAP:
        # Vectorized sync rounds over factorized vertex RANKS (the
        # vertex universe is sorted, so rank order == id order for
        # longs and strings alike). Per round: neighbor-label pairs
        # sorted by (vertex, label) → run-length counts → per vertex
        # the first (count desc, label asc) row — exactly the
        # Counter/min tie-break the per-vertex Python loop applied,
        # which measured ~1.5 s/round at 1.5M edges vs ~0.1 s here.
        import numpy as np

        pdf = e.toPandas()
        a = pdf["a"].to_numpy()
        b = pdf["b"].to_numpy()
        uniq = np.unique(np.concatenate([a, b]))
        n = len(uniq)
        sym_u = np.concatenate([np.searchsorted(uniq, a),
                                np.searchsorted(uniq, b)])
        sym_v = np.concatenate([np.searchsorted(uniq, b),
                                np.searchsorted(uniq, a)])
        label = np.arange(n, dtype=np.int64)
        rounds = 0
        for rounds in range(1, max_iter + 1):
            lv = label[sym_v]
            # group neighbor labels per vertex: one int64 composite
            # key (safe: ranks < n, n*n < 2^63 at any driver cap)
            key = sym_u.astype(np.int64) * n + lv
            grp, cnt = np.unique(key, return_counts=True)
            gu = grp // n
            gl = grp % n
            # per vertex: count desc, label asc; lexsort is
            # last-key-primary, and within equal (gu, cnt) the
            # sorted `grp` order already yields ascending labels
            order = np.lexsort((gl, -cnt, gu))
            gu_o = gu[order]
            first = np.ones(len(gu_o), dtype=bool)
            first[1:] = gu_o[1:] != gu_o[:-1]
            nxt = label.copy()
            nxt[gu_o[first]] = gl[order][first]
            if np.array_equal(nxt, label):
                break
            label = nxt
        if stats is not None:
            stats["rounds"] = rounds
        id_type = dict(e.dtypes)["a"]
        return hand_back(e.sparkSession,
                         {"id": uniq, "label": uniq[label]},
                         f"id {id_type}, label {id_type}")
    sym = e.unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("u"), F.col("b").alias("v")) \
        .localCheckpoint(eager=True)
    labels = sym.select(F.col("u").alias("id")).distinct().withColumn(
        "label", F.col("id")
    ).localCheckpoint(eager=True)
    rounds = 0
    for rounds in range(1, max_iter + 1):
        nbr = sym.join(
            labels.select(F.col("id").alias("v"), "label"), "v"
        ).select(F.col("u").alias("id"), "label")
        counted = nbr.groupBy("id", "label").agg(F.count("*").alias("c"))
        # argmax: max count, then smallest label. Negate the COUNT (a
        # bigint, always safe) rather than the label, so string vertex
        # ids get the same lexicographic-min tie-break as longs — a
        # min over struct(-c, label) is exactly (count desc, label asc)
        nxt = counted.groupBy("id").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("label")))
            .alias("m")
        ).select("id", F.col("m.label").alias("label")) \
            .localCheckpoint(eager=True)
        changed = (
            labels.join(nxt.withColumnRenamed("label", "nl"), "id")
            .filter(F.col("label") != F.col("nl")).limit(1).count()
        )
        labels = nxt
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return labels
