"""Reference-exact streaming frequent-pattern miner (DatatoPatternGraph).

Reproduces the reference Mining algorithm's *semantics* with DataFrames so
its WSJ example outputs can be compared line-for-line
(Mining/output/frequentPatterns{,PerBatch}.tsv):

  * temporal int-quad load, batch id = epochMillis / 31556952000 ("1y",
    getBatchSizerInMillSeconds DatatoPatternGraph.scala:994-1003;
    ReadHugeGraph.getTemporalGraphInt :227-297)
  * type augmentation from typePred edges; pattern edge =
    (srcType.head, pred, dstType.head) (getTypedGraph :1157-1170,
    getGIPVerticesNoMap :1106-1154)
  * sliding window eviction ts > currentBatchId − window (:1173-1182)
  * min-image support keyed by (pattern, TYPE) — the reference counts
    distinct bound nodes per *type value*, not per variable position
    (computeMinImageSupport :1237-1298)
  * per-batch frequent log = pre-join supports; window-level totals =
    Σ over batches of the post-join frequent supports
    (updateFrequentPatternInWindow :513-522, main loop :325-477)
  * pattern growth: instances adjacent in the GIP joined into
    concatenated patterns, one side in the current batch (:744-879);
    instance timestamp of a join = max of parts (getMinTripleTime —
    despite the name, :987-992)
  * closed/redundant marking over the dependency lattice, redundant
    (support equal to some superpattern) removed before carrying the
    window forward (updateGDepStatus :600-680, :453-466)

KNOWN NONDETERMINISM IN THE REFERENCE (documented, not reproduced):
  * multi-typed vertices take `types.head` whose order is GraphX
    partition-order dependent (8,400 such vertices in the WSJ example) —
    we take the first type in entities-file order;
  * GIP edge generation truncates to 2 edges per (node, i) over a
    partition-ordered list (:825-859, :1089-1099) — we generate all
    shared-node pairs in both orientations (the untruncated semantics).
Because of these, WSJ parity is measured as set overlap, not equality —
see scripts/wsj_mining_parity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MS_IN_YEAR = 31556952000


def read_int_quads(spark: SparkSession, path: str, batch_ms: int = MS_IN_YEAR) -> DataFrame:
    """S9 exact: tab-separated int quads; timestamp lowercased ('T'→'t'→' ')
    then parsed; batch id = millis / batch_ms."""
    lines = spark.read.text(path).withColumnRenamed("value", "line")
    parts = F.split(F.lower(F.col("line")), "\t")
    raw = lines.select(
        parts.getItem(0).try_cast("long").alias("src"),
        parts.getItem(1).try_cast("long").alias("pred"),
        parts.getItem(2).try_cast("long").alias("dst"),
        F.try_to_timestamp(
            F.regexp_replace(parts.getItem(3), "t", " "),
            F.lit("yyyy-MM-dd HH:mm:ss.SSS"),
        ).alias("ts"),
    ).filter(
        F.col("src").isNotNull() & F.col("pred").isNotNull()
        & F.col("dst").isNotNull() & F.col("ts").isNotNull()
    )
    return raw.withColumn(
        "batch_id", F.floor(F.unix_millis("ts") / F.lit(batch_ms)).cast("long")
    ).withColumn(
        # file-position hint: monotonically_increasing_id over a single-file
        # text read approximates source line order — used as an optional
        # truncation order (the reference truncates a partition-ordered
        # list, which in its local run followed file order)
        "order_hint", F.monotonically_increasing_id()
    ).drop("ts")


def first_types(quads: DataFrame, type_pred: int = 0,
                head: str = "min") -> DataFrame:
    """(id, vtype): first type per vertex. 'First' is a deterministic
    stand-in for the reference's partition-order head:
    ``head="min"`` → smallest type id; ``head="file_order"`` → the type
    edge appearing earliest in the source file (order_hint)."""
    typed = quads.filter(F.col("pred") == type_pred)
    if head == "file_order" and "order_hint" in quads.columns:
        return typed.groupBy(F.col("src").alias("id")).agg(
            F.min_by("dst", "order_hint").alias("vtype")
        )
    return typed.groupBy(F.col("src").alias("id")).agg(
        F.min("dst").alias("vtype")
    )


def _render(col_arr, fields):
    """Render array<struct> to the reference's customPrintList format:
    '(a,b,c), (d,e,f)' (DatatoPatternGraph.scala:509-512)."""
    return F.concat_ws(
        ", ",
        F.transform(
            col_arr,
            lambda e: F.concat(
                F.lit("("),
                F.concat_ws(",", *[e[f].cast("string") for f in fields]),
                F.lit(")"),
            ),
        ),
    )


def one_edge_instances_exact(
    quads: DataFrame, vtypes: DataFrame, type_pred: int = 0
) -> DataFrame:
    """1-edge GIP instances (getGIPVerticesNoMap): non-type edges whose both
    endpoints are typed."""
    ts = vtypes.select(F.col("id").alias("src"), F.col("vtype").alias("src_t"))
    td = vtypes.select(F.col("id").alias("dst"), F.col("vtype").alias("dst_t"))
    typed = (
        quads.filter(F.col("pred") != type_pred)
        .join(ts, "src")
        .join(td, "dst")
    )
    inst = typed.select(
        F.array(F.struct(
            F.col("src_t").alias("a"), F.col("pred").alias("b"),
            F.col("dst_t").alias("c"),
        )).alias("pat"),
        F.array(F.struct(
            F.col("src").alias("x"), F.col("pred").alias("y"),
            F.col("dst").alias("z"),
        )).alias("ins"),
        F.col("batch_id").cast("long").alias("ts"),
        (F.col("order_hint") if "order_hint" in quads.columns
         else F.lit(0)).alias("order_hint"),
    )
    inst = inst.withColumn("pat_str", _render(F.col("pat"), ["a", "b", "c"]))
    inst = inst.withColumn("ins_str", _render(F.col("ins"), ["x", "y", "z"]))
    inst = inst.withColumn("inst_id", F.xxhash64("pat_str", "ins_str"))
    # Graph() dedups vertices by id — identical (pattern, instance) collapse
    from pyspark.sql import Window

    w = Window.partitionBy("inst_id").orderBy("order_hint")
    return (
        inst.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("inst_id", "pat_str", "ins_str", "pat", "ins", "ts", "order_hint")
    )


def _limited_pairs(pts: DataFrame, key: str, edge_limit: int = 2,
                   order_cols: list | None = None) -> DataFrame:
    """The reference's edgeLimit truncation (getGIPEdges :1089-1099,
    :825-861): per key, for the i-th list element connect it to the next
    ``edge_limit`` elements only. The reference's list order is GraphX
    partition order; ours is a deterministic stand-in chosen by
    ``order_cols``. Measured on the WSJ golden (orientation-normalized
    recall): edge_dst 0.802 > inst_id 0.738 > file order 0.714 >
    entities-file type heads 0.530 — none can reproduce GraphX partition
    order exactly, so parity is reported as overlap."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(*(order_cols or ["inst_id"]))
    ranked = pts.withColumn("__rn", F.row_number().over(w))
    l = ranked.alias("l")
    r = ranked.alias("r")
    return (
        l.join(
            r,
            (F.col(f"l.{key}") == F.col(f"r.{key}"))
            & (F.col("r.__rn") > F.col("l.__rn"))
            & (F.col("r.__rn") <= F.col("l.__rn") + edge_limit),
        )
        .select(F.col("l.inst_id").alias("src"), F.col("r.inst_id").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _order_cols_for(mode: str, have_hint: bool) -> list[str]:
    if mode == "order_hint" and have_hint:
        return ["order_hint", "inst_id"]
    if mode == "edge_dst":
        return ["__edz", "inst_id"]
    return ["inst_id"]


def gip_edges_shared_node(instances: DataFrame, edge_limit: int | None = 2,
                          limit_order: str = "edge_dst") -> DataFrame:
    """GIP edges among 1-edge instances sharing a data vertex
    (getGIPEdges :1035-1104). ``edge_limit=None`` → all pairs in both
    orientations (the untruncated semantics; a superset of any
    partition-order truncation, so golden frequent patterns are a subset
    of ours by support monotonicity)."""
    have_hint = "order_hint" in instances.columns
    cols = ["inst_id"] + (["order_hint"] if have_hint else [])
    pts = instances.select(
        *cols,
        F.col("ins")[0]["z"].alias("__edz"),
        F.explode(F.array(F.col("ins")[0]["x"], F.col("ins")[0]["z"])).alias("node"),
    ).dropDuplicates(["inst_id", "node"])
    if edge_limit is None:
        l = pts.alias("l")
        r = pts.alias("r")
        return (
            l.join(r, "node")
            .filter(F.col("l.inst_id") != F.col("r.inst_id"))
            .select(F.col("l.inst_id").alias("src"), F.col("r.inst_id").alias("dst"))
            .dropDuplicates(["src", "dst"])
        )
    return _limited_pairs(pts, "node", edge_limit,
                          _order_cols_for(limit_order, have_hint))


def gip_edges_shared_instance_edge(new_instances: DataFrame,
                                   edge_limit: int = 2) -> DataFrame:
    """Join-stage GIP edges among NEW joined instances sharing an instance
    edge (:825-861), edgeLimit-truncated."""
    cols = ["inst_id"] + (["order_hint"] if "order_hint" in new_instances.columns else [])
    pts = new_instances.select(
        *cols, F.explode("ins").alias("e")
    ).select(
        *cols,
        F.concat_ws(",", F.col("e.x"), F.col("e.y"), F.col("e.z")).alias("ekey"),
    ).dropDuplicates(["inst_id", "ekey"])
    return _limited_pairs(pts, "ekey", edge_limit)


def min_image_support_exact(instances: DataFrame) -> DataFrame:
    """computeMinImageSupport (:1237-1298): distinct (pattern, TYPE, node)
    over both endpoints of every pattern/instance edge pair; count per
    (pattern, type); min over types."""
    z = instances.select(
        "pat_str", F.explode(F.arrays_zip("pat", "ins")).alias("pi")
    )
    melted = z.select(
        "pat_str",
        F.explode(F.array(
            F.struct(F.col("pi.pat.a").alias("t"), F.col("pi.ins.x").alias("n")),
            F.struct(F.col("pi.pat.c").alias("t"), F.col("pi.ins.z").alias("n")),
        )).alias("tn"),
    ).select("pat_str", "tn.t", "tn.n").distinct()
    per_type = melted.groupBy("pat_str", "t").agg(F.count("*").alias("cnt"))
    return per_type.groupBy("pat_str").agg(F.min("cnt").alias("support"))


class ExactPatternMiner:
    """Driver loop replicating DatatoPatternGraph.main's bookkeeping."""

    def __init__(self, spark: SparkSession, mis_support: int = 2,
                 window_batches: int = 3, max_pattern_size: int = 2,
                 type_pred: int = 0, edge_limit: int | None = 2,
                 type_head: str = "min", limit_order: str = "edge_dst"):
        self.spark = spark
        self.mis = mis_support
        self.window = window_batches
        import math
        self.max_iter = max(1, int(math.log2(max_pattern_size)))
        self.type_pred = type_pred
        self.edge_limit = edge_limit
        self.type_head = type_head
        self.limit_order = limit_order
        self.vertices: DataFrame | None = None   # instance nodes
        self.edges: DataFrame | None = None      # GIP edges
        self.freq_window: DataFrame | None = None  # Σ post-join frequent
        self.per_batch: list[DataFrame] = []     # (batch_id, pat_str, support)

    # ------------------------------------------------------------- helpers
    def _persist(self, df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    def _filter_to_patterns(self, verts: DataFrame, patterns: DataFrame) -> DataFrame:
        return verts.join(
            F.broadcast(patterns.select("pat_str").distinct()), "pat_str",
            "left_semi",
        )

    def _surviving_edges(self, verts: DataFrame) -> DataFrame:
        ids = verts.select(F.col("inst_id").alias("src"))
        e = self.edges.join(ids, "src", "left_semi")
        ids2 = verts.select(F.col("inst_id").alias("dst"))
        return e.join(ids2, "dst", "left_semi")

    # ---------------------------------------------------------------- main
    def process_batch(self, quads: DataFrame, current_batch_id: int) -> DataFrame:
        """One loop iteration; returns this batch's pre-join frequent set
        (the per-batch log rows)."""
        vtypes = first_types(quads, self.type_pred, head=self.type_head)
        incoming = self._persist(one_edge_instances_exact(quads, vtypes, self.type_pred))
        incoming_edges = self._persist(
            gip_edges_shared_node(incoming, self.edge_limit,
                                  limit_order=self.limit_order)
        )

        if self.vertices is None:
            self.vertices = incoming
            self.edges = incoming_edges
        else:
            # eviction: keep ts > cutoff (maintainWindow :1173-1182)
            cutoff = current_batch_id - self.window
            kept = self.vertices.filter(F.col("ts") > cutoff)
            self.vertices = self._persist(
                kept.unionByName(incoming).dropDuplicates(["inst_id"])
            )
            self.edges = self._persist(
                self._surviving_edges(kept).unionByName(incoming_edges)
                .dropDuplicates(["src", "dst"])
            )

        # pre-join supports → per-batch frequent log
        supports = min_image_support_exact(self.vertices)
        freq = self._persist(supports.filter(F.col("support") >= self.mis))
        self.per_batch.append(
            freq.select(F.lit(current_batch_id).alias("batch_id"), "pat_str",
                        "support")
        )

        # keep only frequent-pattern instances (getMISFrequentGraph)
        self.vertices = self._persist(self._filter_to_patterns(self.vertices, freq))
        self.edges = self._persist(self._surviving_edges(self.vertices))

        dep_edges_all = None
        last_freq = freq
        for _ in range(self.max_iter):
            # join along GIP edges, one side in the current batch
            v = self.vertices.alias("v")
            u = self.vertices.alias("u")
            trip = (
                self.edges.alias("e")
                .join(v, F.col("e.src") == F.col("v.inst_id"))
                .join(u, F.col("e.dst") == F.col("u.inst_id"))
            )
            # dependency lattice from ALL pre-join triplets (:692-742)
            dep = trip.select(
                F.col("v.pat_str").alias("parent1"),
                F.col("u.pat_str").alias("parent2"),
            ).distinct()
            dep_edges = dep.select(
                F.col("parent1").alias("parent"),
                F.concat_ws(", ", "parent1", "parent2").alias("child"),
            ).unionAll(dep.select(
                F.col("parent2").alias("parent"),
                F.concat_ws(", ", "parent1", "parent2").alias("child"),
            )).distinct()
            dep_edges_all = dep_edges if dep_edges_all is None else \
                self._persist(dep_edges_all.unionByName(dep_edges).distinct())

            recent = trip.filter(
                (F.col("v.ts") == current_batch_id)
                | (F.col("u.ts") == current_batch_id)
            )
            joined = recent.select(
                F.concat(F.col("v.pat"), F.col("u.pat")).alias("pat"),
                F.concat(F.col("v.ins"), F.col("u.ins")).alias("ins"),
                F.greatest(F.col("v.ts"), F.col("u.ts")).alias("ts"),
                F.least(F.col("v.order_hint"), F.col("u.order_hint")).alias("order_hint"),
                F.concat_ws(", ", F.col("v.pat_str"), F.col("u.pat_str")).alias("pat_str"),
                F.concat_ws(", ", F.col("v.ins_str"), F.col("u.ins_str")).alias("ins_str"),
            ).withColumn("inst_id", F.xxhash64("pat_str", "ins_str")) \
             .select("inst_id", "pat_str", "ins_str", "pat", "ins", "ts", "order_hint") \
             .dropDuplicates(["inst_id"])
            joined = self._persist(joined)
            if joined.limit(1).count() == 0:
                break

            new_edges = gip_edges_shared_instance_edge(joined)
            self.vertices = self._persist(
                self.vertices.unionByName(joined).dropDuplicates(["inst_id"])
            )
            self.edges = self._persist(
                self.edges.unionByName(new_edges).dropDuplicates(["src", "dst"])
            )

            supports2 = min_image_support_exact(self.vertices)
            freq2 = self._persist(supports2.filter(F.col("support") >= self.mis))
            last_freq = freq2

            # redundancy over the dependency lattice (updateGDepStatus)
            ps = freq2.select(F.col("pat_str").alias("parent"),
                              F.col("support").alias("psup"))
            cs = freq2.select(F.col("pat_str").alias("child"),
                              F.col("support").alias("csup"))
            marked = (
                dep_edges_all.join(ps, "parent").join(cs, "child")
                .groupBy("parent")
                .agg(
                    F.min((F.col("csup") == F.col("psup")).cast("int")).alias("all_eq"),
                    F.max((F.col("csup") == F.col("psup")).cast("int")).alias("any_eq"),
                )
            )
            redundant = marked.filter(F.col("all_eq") == 1).select(
                F.col("parent").alias("pat_str")
            )
            nonredundant = freq2.join(redundant, "pat_str", "left_anti")
            self.vertices = self._persist(
                self._filter_to_patterns(self.vertices, nonredundant)
            )
            self.edges = self._persist(self._surviving_edges(self.vertices))

        # window totals: Σ over batches of the post-join frequent supports
        if self.freq_window is None:
            self.freq_window = self._persist(last_freq)
        else:
            self.freq_window = self._persist(
                self.freq_window.unionByName(last_freq)
                .groupBy("pat_str").agg(F.sum("support").alias("support"))
            )
        return freq

    def frequent_patterns(self) -> DataFrame:
        return self.freq_window

    def per_batch_frequent(self) -> DataFrame:
        out = self.per_batch[0]
        for df in self.per_batch[1:]:
            out = out.unionByName(df)
        return out
