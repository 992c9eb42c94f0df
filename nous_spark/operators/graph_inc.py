"""Incremental connected-components canonicalization: fold new alias
edges into an EXISTING (id, component) mapping at cost proportional to
the delta, never the corpus.

The north rule's canonicalization stage (connected components over the
alias-edge frame — operators/graph.py:211, SURVEY.md G8; the reference
never collapses aliases, it carries alias strings per vertex,
EntityDisambiguation/.../NodeProp.scala:80-108) is a batch operator: a
10^12-file KG store cannot re-run it for every crawl increment. This
module gives canonicalization the same incremental treatment the dedup
path got with the persisted MinHash index (operators/dedup.py:798):

- ``update_components`` — pure-DataFrame fold of a delta edge set into
  an in-memory mapping. The whole delta collapses to a CONTRACTED graph
  over the touched component roots (≤ one node per delta endpoint), so
  the inner connected-components run is sized by the delta, and the
  corpus-sized mapping is touched only by one broadcast-remap join.
- a persisted COMPONENT STORE (``build_component_store`` /
  ``update_component_store`` / ``resolve_component_store`` /
  ``compact_component_store``) — the mapping partitioned by an id-hash
  bucket plus an LSM-style remap log, so an update WRITES only its own
  delta segment and a tiny remap delta, and a probe READS only the
  buckets its ids hash to. The corpus-sized base mapping is rewritten
  only at compaction, off the query path. The canonical store
  (operators/canonicalize.py) is this store over rep-order label keys:
  its min root is the canonical representative and its remap log is
  the log of dethroned representatives.
- ``streaming/structured.streaming_component_ingest`` — the streaming
  twin: alias edges arrive as microbatches, each folded with the same
  keyed-overwrite idempotency contract as the dedup/IVF twins.

Invariant maintained throughout: ``component`` is the MINIMUM vertex id
of the component (numeric or lexicographic, matching
``connected_components``). Each stored root is the minimum of its part,
so a merge's new root — the min over touched roots and new vertex ids —
is the min of the union; induction keeps resumed/incremental results
byte-equal to a from-scratch run (pinned by tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nous_spark.localrel import local_df
from nous_spark.operators.graph import connected_components


def _flatten_remap(rows) -> list[tuple]:
    """Path-compress a remap edge list driver-side. Safe because every
    entry maps old root -> strictly smaller new root (min-root
    invariant), so chains are acyclic; entries are bounded by the
    number of component MERGES since the last compaction (zeroed by
    ``compact_component_store``), not by corpus size."""
    d = {r[0]: r[1] for r in rows}
    out = {}
    for k in d:
        v = d[k]
        while v in d:
            v = d[v]
        out[k] = v
    return sorted(out.items())


def _apply_remap(mapping: DataFrame, remap_rows,
                 comp_col: str = "component") -> DataFrame:
    """One broadcast left join applying a flattened remap to a mapping.
    The remap side is tiny (merges since compaction); the mapping side
    streams through untouched — no corpus shuffle."""
    if not remap_rows:
        return mapping
    spark = mapping.sparkSession
    typ = dict(mapping.dtypes)[comp_col]
    r = local_df(spark, _flatten_remap(remap_rows),
                 schema=f"{comp_col} {typ}, __new {typ}")
    return (
        mapping.join(F.broadcast(r), comp_col, "left")
        .withColumn(comp_col, F.coalesce("__new", comp_col))
        .drop("__new")
    )


def _delta(new_edges: DataFrame, src: str, dst: str):
    """(x, y) self-loop-free delta edges and their distinct ``id``
    endpoints."""
    e = (
        new_edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .filter(F.col("x") != F.col("y"))
    )
    verts = (
        e.select(F.col("x").alias("id"))
        .unionAll(e.select(F.col("y").alias("id")))
        .distinct()
    )
    return e, verts


def _contract(e: DataFrame, verts: DataFrame, mapping: DataFrame):
    """The delta contraction shared by ``update_components`` and
    ``update_component_store``. Returns ``(roots, remap_rows)``:

    - ``roots`` (id, root): each delta endpoint's current root in the
      (id, component) ``mapping``, itself when absent;
    - ``remap_rows``: (root, merged min root) for every root that
      connected components over the delta contracted to root-root
      edges moves — at most one node per distinct delta endpoint, so
      the inner run never sees the corpus."""
    roots = (
        verts.join(mapping, "id", "left")
        .select("id", F.coalesce("component", "id").alias("root"))
        .localCheckpoint(eager=True)
    )
    contracted = (
        e.join(roots.withColumnRenamed("id", "x")
               .withColumnRenamed("root", "rx"), "x")
        .join(roots.withColumnRenamed("id", "y")
              .withColumnRenamed("root", "ry"), "y")
        .select("rx", "ry")
        .filter(F.col("rx") != F.col("ry"))
        .dropDuplicates(["rx", "ry"])
        .localCheckpoint(eager=True)  # feeds isEmpty + the CC run
    )
    if contracted.isEmpty():
        return roots, []
    cc_small = connected_components(contracted, "rx", "ry")
    # Arrow collect: a bulk delta's merge set is root-count-sized (1.5M
    # rows on an initial load) — Row-object collect() measured ~10 s
    # there, toPandas ~1 s
    rm = cc_small.filter(F.col("id") != F.col("component")).toPandas()
    return roots, list(zip(rm["id"].tolist(), rm["component"].tolist()))


def update_components(
    mapping: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    stats: dict | None = None,
) -> DataFrame:
    """Fold ``new_edges`` into an existing (id, component) ``mapping``
    and return the updated mapping — equal, row for row, to
    ``connected_components(old_edges UNION new_edges)`` (pinned by
    tests against the full recompute), at delta cost:

    1. the delta's endpoints look up their current roots (one join of
       the SMALL side against the mapping — Catalyst broadcasts the
       endpoint set when it fits, and at 100 TB the persisted-store
       variant prunes this lookup to the touched id-buckets);
    2. the delta contracts to root-root edges — at most one node per
       distinct delta endpoint, so the inner ``connected_components``
       run never sees the corpus;
    3. the resulting root remap (old root -> merged min root) is tiny —
       bounded by merges, not members — and applies to the mapping as
       one broadcast join. Rows of untouched components pass through
       the join unchanged; nothing corpus-sized shuffles.

    New vertices (endpoints absent from the mapping) enter with their
    merged component, or themselves when isolated; a new vertex with an
    id below the old root correctly becomes the new root (min-root
    invariant, see module docstring).
    """
    e, verts = _delta(new_edges, src, dst)
    roots, remap_rows = _contract(e, verts, mapping)
    if stats is not None:
        stats["touched_roots"] = roots.count()
        stats["merged_roots"] = len(remap_rows)

    updated = _apply_remap(mapping, remap_rows)
    new_rows = (
        roots.join(mapping.select("id"), "id", "left_anti")
        .select("id", F.col("root").alias("component"))
    )
    new_rows = _apply_remap(new_rows, remap_rows)
    return updated.unionByName(new_rows)


# ---------------------------------------------------------------------------
# Persisted component store: bucket-partitioned mapping + LSM remap log
# ---------------------------------------------------------------------------


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop Path, its FileSystem) for ``path``."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _fs_exists(spark: SparkSession, path: str) -> bool:
    p, fs = _fs_path(spark, path)
    return fs.exists(p)


def _fs_delete(spark: SparkSession, path: str) -> None:
    p, fs = _fs_path(spark, path)
    fs.delete(p, True)


def swap_dir(spark: SparkSession, tmp: str, live: str) -> None:
    """The compaction swap: delete ``live``, rename the freshly written
    ``tmp`` into its place. Only this delete+rename is a non-atomic
    window; a crash inside it leaves ``tmp`` to be renamed back by hand.
    Raises IOError if the rename fails."""
    p_live, fs = _fs_path(spark, live)
    fs.delete(p_live, True)
    if not fs.rename(_fs_path(spark, tmp)[0], p_live):
        raise IOError(f"compaction swap failed: {tmp} -> {live}")


def _read_remap(spark: SparkSession, path: str, id_type: str,
                exclude_segs: tuple[str, ...] = ()) -> list[tuple]:
    """The remap log's rows, excluding the named segments. Small by
    contract (merges since last compaction); collected once per
    resolve/update and flattened driver-side. Schema-explicit so a log
    dir holding only no-merge (empty) segments still reads."""
    rd = f"{path}/remap"
    if not _fs_exists(spark, rd):
        return []
    df = spark.read.schema(
        f"component {id_type}, new_component {id_type}, seg STRING"
    ).parquet(rd)
    if exclude_segs:
        df = df.filter(~F.col("seg").isin(*exclude_segs))
    return [(r.component, r.new_component) for r in df.collect()]


def build_component_store(
    mapping: DataFrame,
    path: str,
    buckets: int = 64,
) -> None:
    """Persist an (id, component) mapping as an incrementally
    updatable store:

    - ``{path}/mapping`` — rows partitioned by ``bucket =
      pmod(xxhash64(id), buckets)`` and a ``seg`` level (``seg=base``
      for builds/compactions, ``seg=u<k>`` per update's NEW vertices).
      Bucketing by id — which never changes — means a probe for a set
      of ids prunes to their buckets at the file level, and an update's
      new-vertex rows land in their own segment without touching base.
    - ``{path}/remap`` — the LSM-style merge log: (component,
      new_component) per update segment. Root changes are RECORDED, not
      applied to the corpus-sized base; readers fold the log (tiny,
      bounded by merges since compaction) over the mapping with one
      broadcast join. ``compact_component_store`` folds the log into
      base off the query path.
    - ``{path}/meta`` — pins ``buckets`` and the id type so updates
      cannot silently hash into a different layout.

    Same meta discipline as the MinHash index (dedup.py:850): the meta
    row is a JVM literal select, never a Python-backed one-row frame.
    """
    spark = mapping.sparkSession
    id_type = dict(mapping.dtypes)["id"]
    (
        mapping.select(
            "id", "component",
            F.pmod(F.xxhash64("id"), F.lit(buckets)).alias("bucket"),
        )
        .withColumn("seg", F.lit("base"))
        .repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket", "seg")
        .parquet(f"{path}/mapping")
    )
    spark.range(1).select(
        F.lit(int(buckets)).cast("int").alias("buckets"),
        F.lit(id_type).alias("id_type"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


_META_SCHEMA = "buckets INT, id_type STRING"


def _read_meta(spark: SparkSession, path: str):
    return spark.read.schema(_META_SCHEMA).parquet(f"{path}/meta").collect()[0]


def _mapping_schema(id_type: str) -> str:
    return (f"id {id_type}, component {id_type}, "
            "bucket BIGINT, seg STRING")


def _mapping_with_prune(spark: SparkSession, path: str, buckets: int,
                        id_type: str, ids: DataFrame | None,
                        exclude_segs: tuple[str, ...]) -> DataFrame:
    # explicit schema: a freshly built EMPTY store (no part files yet)
    # must still read, and the bucket partition column must come back
    # BIGINT rather than dir-name-inferred INT
    m = spark.read.schema(_mapping_schema(id_type)).parquet(
        f"{path}/mapping")
    if exclude_segs:
        m = m.filter(~F.col("seg").isin(*exclude_segs))
    if ids is not None:
        # ≤ `buckets` distinct values — a bounded control-plane collect
        # that turns the probe into a partition-pruned read
        bks = [
            r.b for r in ids.select(
                F.pmod(F.xxhash64("id"), F.lit(buckets)).alias("b")
            ).distinct().collect()
        ]
        m = m.filter(F.col("bucket").isin(bks)).join(ids, "id")
    return m


def resolve_component_store(
    spark: SparkSession,
    path: str,
    ids: DataFrame | None = None,
    exclude_segs: tuple[str, ...] = (),
) -> DataFrame:
    """Current (id, component) view of the store: mapping segments plus
    the folded remap log. ``ids`` (a one-column ``id`` frame) prunes
    the read to the buckets those ids hash to — the point of the
    layout; ``None`` reads the full mapping (reports, compaction)."""
    meta = _read_meta(spark, path)
    m = _mapping_with_prune(spark, path, meta.buckets, meta.id_type,
                            ids, exclude_segs)
    remap = _read_remap(spark, path, meta.id_type, exclude_segs)
    return _apply_remap(m.select("id", "component"), remap)


def update_component_store(
    spark: SparkSession,
    new_edges: DataFrame,
    path: str,
    update_id: int,
    src: str = "src",
    dst: str = "dst",
) -> dict:
    """Fold a delta edge set into the store under segment
    ``u<update_id>``. Writes are keyed by the segment with dynamic
    partition overwrite and every read EXCLUDES the update's own
    segment, so a torn attempt (all writes landed, commit lost) is
    replaced byte-for-byte by the replay — the idempotency contract of
    the streaming dedup/IVF folds (streaming/structured.py:600).

    Cost ∝ delta: the root lookup reads only the delta ids' buckets
    (partition-pruned), the contracted CC run sees at most one node per
    delta endpoint, and the writes are the delta's new vertices plus a
    remap delta bounded by merges. The corpus-sized base mapping is
    neither read nor written.

    Returns {"touched_roots", "merged_roots", "new_vertices"}.
    """
    meta = _read_meta(spark, path)
    seg = f"u{update_id}"

    e, verts = _delta(new_edges, src, dst)
    verts = verts.localCheckpoint(eager=True)
    looked_up = _mapping_with_prune(
        spark, path, meta.buckets, meta.id_type, verts,
        exclude_segs=(seg,)
    ).select("id", "component").localCheckpoint(eager=True)
    prior_remap = _read_remap(spark, path, meta.id_type,
                              exclude_segs=(seg,))
    if looked_up.isEmpty():
        # bulk/fresh fast path: no delta vertex exists in the store, so
        # roots are self, the contracted graph IS the delta, and the
        # update degenerates to one connected-components run written as
        # the segment — identical rows to the general path (old_roots is
        # empty, so the remap delta is empty and every vertex lands with
        # its component root), minus the contraction joins, the remap
        # flatten/broadcast and the per-root bookkeeping the general
        # path pays. This is the initial-load shape of every streaming
        # ingest.
        comp = connected_components(e, "x", "y")
        rdf0 = local_df(
            spark, [],
            schema=f"component {meta.id_type}, new_component {meta.id_type}")
        (
            rdf0.withColumn("seg", F.lit(seg))
            .coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("seg")
            .parquet(f"{path}/remap")
        )
        n_new = comp.count()
        n_merged = comp.filter(F.col("id") != F.col("component")).count()
        (
            comp.select(
                "id", "component",
                F.pmod(F.xxhash64("id"), F.lit(meta.buckets)).alias("bucket"),
            )
            .withColumn("seg", F.lit(seg))
            .repartition(F.col("bucket"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket", "seg")
            .parquet(f"{path}/mapping")
        )
        return {
            "touched_roots": n_new,
            "merged_roots": n_merged,
            "new_vertices": n_new,
        }
    looked_up = _apply_remap(looked_up, prior_remap)
    roots, remap_rows = _contract(e, verts, looked_up)

    # remap delta: only entries whose OLD root predates this update —
    # a new vertex that merges is written directly with its final
    # component below, so logging it here would be redundant state
    orp = (roots.join(looked_up.select("id"), "id", "left_semi")
           .select(F.col("root").alias("id")).distinct().toPandas())
    old_roots = set(orp["id"].tolist())
    remap_delta = [(a, b) for a, b in remap_rows if a in old_roots]
    typ = meta.id_type
    rdf = local_df(spark, remap_delta,
                   schema=f"component {typ}, new_component {typ}")
    (
        rdf.withColumn("seg", F.lit(seg))
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("seg")
        .parquet(f"{path}/remap")
    )

    new_rows = _apply_remap(
        roots.join(looked_up.select("id"), "id", "left_anti")
        .select("id", F.col("root").alias("component")),
        remap_rows,
    )
    n_new = new_rows.count()
    (
        new_rows.select(
            "id", "component",
            F.pmod(F.xxhash64("id"), F.lit(meta.buckets)).alias("bucket"),
        )
        .withColumn("seg", F.lit(seg))
        .repartition(F.col("bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket", "seg")
        .parquet(f"{path}/mapping")
    )
    return {
        "touched_roots": roots.count(),
        "merged_roots": len(remap_rows),
        "new_vertices": n_new,
    }


def compact_component_store(
    spark: SparkSession,
    path: str,
    exclude_segs: tuple[str, ...] = (),
) -> dict:
    """Fold the remap log into the base mapping: resolve every mapping
    row through the log, rewrite as ``seg=base``, drop the log. LSM
    maintenance, run off the query path when the log (or the segment
    file count) has grown enough to hurt — the same trade as
    ``compact_minhash_index`` (dedup.py:891), with the same crash-safe
    sibling-temp + delete/rename swap.

    Order matters for crash-safety: the mapping swaps FIRST, the remap
    log clears SECOND. A crash between the two leaves the folded log
    still present — harmless, because applying a remap to an
    already-resolved mapping is a no-op (no row still carries an old
    root), so the next reader and the next compaction both converge.

    ``exclude_segs`` keeps the named update segments out of the fold
    (their mapping rows keep their ``seg``, their remap rows survive) —
    the streaming ingest excludes the possibly-torn in-flight batch so
    its replay can still replace its own segment.
    """
    meta = _read_meta(spark, path)
    m = spark.read.schema(_mapping_schema(meta.id_type)).parquet(
        f"{path}/mapping")
    n_files = m.select(F.input_file_name()).distinct().count()
    # excluded (in-flight) segments stay OUT of the fold on both sides:
    # their mapping rows keep their seg, their remap rows survive in the
    # log, so their replay still replaces its own segments wholesale.
    # Excluding the log's LAST segment cannot break chains: an update's
    # entries only reference roots that predate it, never later ones.
    remap_fold = _read_remap(spark, path, meta.id_type,
                             exclude_segs=exclude_segs)
    keep = m.filter(F.col("seg").isin(*exclude_segs)) if exclude_segs \
        else None
    fold = m.filter(~F.col("seg").isin(*exclude_segs)) if exclude_segs \
        else m
    folded = _apply_remap(fold.select("id", "component"), remap_fold)
    out = folded.select(
        "id", "component",
        F.pmod(F.xxhash64("id"), F.lit(meta.buckets)).alias("bucket"),
    ).withColumn("seg", F.lit("base"))
    if keep is not None:
        out = out.unionByName(
            keep.select("id", "component", "bucket", "seg"))
    out.repartition(F.col("bucket")).write.mode("overwrite").partitionBy(
        "bucket", "seg").parquet(f"{path}/mapping_compact_tmp")
    swap_dir(spark, f"{path}/mapping_compact_tmp", f"{path}/mapping")

    typ = meta.id_type
    kept_remap = []
    if exclude_segs and _fs_exists(spark, f"{path}/remap"):
        kept_remap = [
            (r.component, r.new_component, r.seg)
            for r in spark.read.schema(
                f"component {typ}, new_component {typ}, seg STRING"
            ).parquet(f"{path}/remap")
            .filter(F.col("seg").isin(*exclude_segs)).collect()
        ]
    if kept_remap:
        local_df(
            spark, kept_remap,
            schema=f"component {typ}, new_component {typ}, seg STRING",
        ).coalesce(1).write.mode("overwrite").partitionBy("seg").parquet(
            f"{path}/remap_compact_tmp")
        swap_dir(spark, f"{path}/remap_compact_tmp", f"{path}/remap")
    else:
        _fs_delete(spark, f"{path}/remap")
    return {
        "mapping_files_before": n_files,
        "mapping_files_after": spark.read.schema(
            _mapping_schema(typ)).parquet(f"{path}/mapping")
        .select(F.input_file_name()).distinct().count(),
        "remap_entries_folded": len(remap_fold),
    }
