"""Structured Streaming form of the ingestion pipeline (SURVEY.md §2.9).

The reference's "streaming" is a driver for-loop over batch files; the
batch-driver form (batch_driver.py / plans/pipeline.py) matches those
semantics exactly and is what the parity tests exercise. This module is
the real-streaming capability: a file-source readStream over the source
table directory, per-microbatch triple extraction via foreachBatch (reusing
the SAME extraction + StateStore code, so checkpoints/lineage are shared
with the batch pipeline), and a windowed watermark aggregation for
triple-rate monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nous_spark.operators.extraction import extract_triples_normalized
from nous_spark.schemas import SOURCE_SCHEMA
from nous_spark.sources.sinks import write_triples


def stream_source(spark: SparkSession, source_dir: str,
                  max_files_per_trigger: int = 16) -> DataFrame:
    """File-source stream over the (repo, path, commit, lang, content)
    table directory — each new parquet file becomes part of a microbatch."""
    return (
        spark.readStream.schema(SOURCE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def start_extraction_stream(
    spark: SparkSession,
    source_dir: str,
    out_root: str,
    checkpoint_dir: str | None = None,
):
    """readStream → foreachBatch(extract + salted append) → exactly-once
    via the streaming checkpoint. Returns the StreamingQuery."""
    checkpoint_dir = checkpoint_dir or f"{out_root}/_stream_checkpoint"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        triples, docs = extract_triples_normalized(batch_df)
        write_triples(triples, f"{out_root}/triples/batch={batch_id}",
                      mode="overwrite")
        docs.write.mode("overwrite").parquet(f"{out_root}/docs/batch={batch_id}")

    return (
        stream_source(spark, source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


_WSTATE_OUT = "pattern_key STRING, upto_batch LONG, window_support LONG"
_WSTATE_STATE = "batch_ids ARRAY<LONG>, supports ARRAY<LONG>"


def stateful_window_support(per_batch_stream: DataFrame,
                            window_batches: int = 3) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: the
    reference's cross-batch sliding-window pattern bookkeeping
    (DatatoPatternGraph.scala:513-522 window union + :580-588 eviction,
    held in driver maps there) as per-key state inside the stream.

    Input stream rows: (pattern_key, batch_id, support). State per
    pattern_key = the per-batch supports still inside the window; each
    update evicts batches older than ``window_batches`` behind the newest
    and emits (pattern_key, upto_batch, window_support). Works on any
    grouped stream; eviction keys off batch_id carried IN the data, so
    microbatch boundaries and arrival order don't change the result.
    """
    import pandas as pd  # noqa: F401 (worker-side import)

    def update(key, pdfs, state):
        ids, sups = ([], []) if not state.exists else [
            list(x) for x in state.get
        ]
        acc = dict(zip(ids, sups))
        for pdf in pdfs:
            for b, s in zip(pdf["batch_id"], pdf["support"]):
                acc[int(b)] = acc.get(int(b), 0) + int(s)
        hi = max(acc)
        acc = {b: s for b, s in acc.items() if b > hi - window_batches}
        state.update((sorted(acc), [acc[b] for b in sorted(acc)]))
        yield pd.DataFrame(
            {"pattern_key": [key[0]], "upto_batch": [hi],
             "window_support": [sum(acc.values())]}
        )

    return per_batch_stream.groupBy("pattern_key").applyInPandasWithState(
        update, _WSTATE_OUT, _WSTATE_STATE, "update",
        "NoTimeout",
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming-compatible windowed aggregation with late-data watermark:
    works identically on a static frame (tests) and a readStream frame."""
    # watermarks require TIMESTAMP (tz) — parquet event times are often NTZ
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "cnt", "sum_value")
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup for a document stream: keep the FIRST
    occurrence of each content hash, dropping re-crawls/replays that
    arrive within the watermark horizon.

    State is the set of 128-bit md5 hashes seen inside the watermark —
    bounded and evicted by Spark (dropDuplicatesWithinWatermark), never
    the document text; at web scale that is GBs of state for TBs of
    stream. The batch counterpart is operators/dedup.py::exact_duplicates
    (same hash, groupBy form)."""
    return (
        stream.withColumn("text_hash", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
        .select(id_col, ts_col, "text_hash", text_col)
    )


def await_input_drained(q, timeout: float = 120.0,
                        idle_commits: int = 1, poll: float = 0.5) -> bool:
    """Wait for an ``availableNow`` query to consume ALL its input, then
    stop it. Returns True once drained (or self-terminated).

    Needed because a stateful operator with a processing-time TTL
    (``streaming_minhash_candidates``) never self-terminates under
    availableNow: after the data batches, the micro-batch engine keeps
    committing empty 'No new data but cleaning up state' batches until
    the TTL fires — hours later — so a bare ``awaitTermination(t)``
    always burns its full budget (measured: ~124 s wall for ~4 s of real
    work at both sf0.01 and sf0.1, clean host probes). The output set is
    complete once ``idle_commits`` zero-input batches have committed
    after at least one data batch; stopping there is exact for
    non-watermarked stateful ops (emission happens in the data batches).
    Watermark-closing queries should keep using awaitTermination — they
    self-terminate."""
    import time as _time

    deadline = _time.monotonic() + timeout
    while _time.monotonic() < deadline:
        if q.awaitTermination(poll):
            return True
        seen_data, trailing_idle = False, 0
        for p in (q.recentProgress or []):  # chronological, oldest first
            n = p["numInputRows"] if isinstance(p, dict) else p.numInputRows
            if n and int(n) > 0:
                seen_data, trailing_idle = True, 0
            else:
                trailing_idle += 1
        if seen_data and trailing_idle >= idle_commits:
            q.stop()
            q.awaitTermination(30)
            return True
    return not q.isActive


_MHSTATE_OUT = ("band INT, a BIGINT, b BIGINT, est_jaccard DOUBLE")
_MHSTATE_STATE = "ids ARRAY<LONG>, sigs ARRAY<ARRAY<LONG>>"


def streaming_minhash_candidates(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    state_cap: int = 256,
    bucket_ttl_ms: int = 6 * 3600 * 1000,
) -> DataFrame:
    """Streaming MinHash near-dup candidates: cross-batch LSH-bucket state
    via applyInPandasWithState.

    Batch dedup (operators/dedup.py::minhash_near_duplicates) sees the
    whole corpus at once; a crawl stream does not — a near-duplicate can
    arrive hours after its original. Here each (band, band_hash) bucket
    keeps the (id, signature) pairs previously routed to it; a new
    arrival is compared against them and emits (a, b, est_jaccard) where
    est_jaccard = fraction of equal minhash components (the standard
    unbiased Jaccard estimator) — no shingle sets in state, just
    num_hashes longs per doc per band. State per bucket is capped at
    ``state_cap`` entries (FIFO eviction) so one degenerate bucket cannot
    grow without bound, and buckets idle longer than ``bucket_ttl_ms``
    are dropped via a processing-time timeout — without the TTL the
    NUMBER of buckets (not their size) grows for the lifetime of a
    long-running stream; a pair colliding in several bands is emitted
    once per band — downstream dedups on (a, b) (within a watermark when
    streaming).

    Signature computation reuses the batch column expressions (shingles →
    single-aggregate minhash), so the hash family matches the batch
    operator exactly."""
    import pandas as pd  # noqa: F401 (worker-side import)

    from nous_spark.operators.dedup import minhash_signatures, shingles

    rows_per_band = num_hashes // bands
    sig = minhash_signatures(shingles(stream, text_col, id_col), num_hashes)
    banded = sig.select(
        F.col("id"),
        F.col("signature"),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.concat_ws(",", F.transform(
                    F.slice("signature", b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ))).alias("band_hash"),
            )
            for b in range(bands)
        ])).alias("bh"),
    ).select("id", "signature", "bh.band", "bh.band_hash")

    def update(key, pdfs, state):
        if state.hasTimedOut:
            # bucket saw no arrivals for bucket_ttl_ms — drop its state;
            # a later arrival simply re-creates the bucket empty
            state.remove()
            return
        ids, sigs = ([], []) if not state.exists else [
            list(x) for x in state.get
        ]
        sigs = [list(s) for s in sigs]
        out_a, out_b, out_j = [], [], []
        for pdf in pdfs:
            for rid, rsig in zip(pdf["id"], pdf["signature"]):
                rid = int(rid)
                rsig = [int(x) for x in rsig]
                for oid, osig in zip(ids, sigs):
                    if oid == rid:
                        continue
                    est = sum(x == y for x, y in zip(rsig, osig)) / len(rsig)
                    if est >= threshold:
                        a, b = sorted((oid, rid))
                        out_a.append(a)
                        out_b.append(b)
                        out_j.append(est)
                if rid not in ids:
                    ids.append(rid)
                    sigs.append(rsig)
        if len(ids) > state_cap:
            ids, sigs = ids[-state_cap:], sigs[-state_cap:]
        state.update((ids, sigs))
        state.setTimeoutDuration(bucket_ttl_ms)
        if out_a:
            yield pd.DataFrame(
                {"band": int(key[0]), "a": out_a, "b": out_b,
                 "est_jaccard": out_j}
            )

    return banded.groupBy("band", "band_hash").applyInPandasWithState(
        update, _MHSTATE_OUT, _MHSTATE_STATE, "append",
        "ProcessingTimeTimeout",
    )


def streaming_contamination_matches(
    stream: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    eval_id_col: str = "eval_id",
    n: int = 13,
) -> DataFrame:
    """Train/eval decontamination on a document STREAM: each arriving
    doc's word n-gram shingles are joined against the (static,
    broadcast) benchmark gram set; a match row (doc_id, eval_id, gram)
    means the doc shares that 13-gram with that benchmark item.

    Stream-static inner joins are STATELESS in Structured Streaming —
    no watermark, no state store, every microbatch probes the broadcast
    table independently — so this scales exactly like the batch
    operator (dedup.py::contamination_check) whose shingle expressions
    it reuses; aggregate matches to per-pair collision counts downstream
    (foreachBatch or over the sink table)."""
    from nous_spark.operators.dedup import shingles

    d = shingles(stream, text_col, id_col, n).select(
        F.col("id").alias(id_col),
        F.explode("shingle_hashes").alias("gram"),
    )
    e = shingles(eval_set, eval_text_col, eval_id_col, n).select(
        F.col("id").alias(eval_id_col),
        F.explode("shingle_hashes").alias("gram"),
    )
    return d.join(F.broadcast(e), "gram").select(id_col, eval_id_col, "gram")


def streaming_session_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming twin of operators/sessions.py::session_stats: per-user
    session rollups over an event STREAM via Spark's native
    ``session_window`` — sessions merge across microbatches through the
    state store, and append mode emits a session once the watermark
    passes its close (last event + gap), giving exactly-once session
    rows with bounded state.

    Boundary nuance vs the batch operator: ``session_window`` is
    half-open (an event exactly ``gap`` after the last one starts a NEW
    session) while the batch gaps-and-islands form lets an exact-gap
    event continue the session — indistinguishable on microsecond event
    time, but documented for synthetic integer-second inputs.

    Works identically on a static frame (tests) and a readStream frame.
    """
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"),
            F.col(user_col),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        )
        .select(
            user_col, "session_start", "session_end", "n_events",
            (F.unix_micros(F.col("session_end"))
             - F.unix_micros(F.col("session_start"))).alias("duration_us"),
            "sum_value",
        )
    )


def streaming_corpus_report(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    spread_partitions: int | None = None,
) -> DataFrame:
    """Streaming twin of operators/curation.py::corpus_report for
    COMPLETE output mode: per-source volume and quality-signal means
    over a document stream — the always-current curation dashboard.

    Only the ALGEBRAIC aggregates are kept — ``n_docs``,
    ``n_chars_total``, ``mean_tokens``, ``mean_top_bigram_frac``,
    ``pct_en`` — each a constant-size running (sum, count) pair per
    group in the state store, so state is O(#sources) for the life of
    the stream. The batch report's exact ``dup_rate`` and token
    PERCENTILES stay batch-only on purpose: both need per-distinct-value
    state (the set of content hashes / the full length distribution),
    which grows with the corpus, not with the group count — unbounded
    streaming state. The per-document signal pass is the same
    stateless column pipeline the batch report uses (one scan, no
    joins), so batch and stream agree signal-for-signal.

    Works identically on a static frame (tests/oracles) and a
    readStream frame (complete-mode dashboard).

    ``spread_partitions``: the regex-heavy signal pass runs in the
    SOURCE partitions (pre-shuffle); a stream whose microbatches arrive
    as one file each runs it single-core. Setting this repartitions each
    batch before the signals — one text shuffle per batch buys
    cluster-wide parallelism on the pass, worth it exactly when source
    parallelism < cores. Leave None in production, where a trigger
    spans many source files (the batch twin's ``_spread`` can't be used
    here: partition counts are unknowable on an unstarted stream).
    """
    from nous_spark.operators.textstats import (
        language_id,
        repetition_scores,
        token_counts,
    )

    if spread_partitions:
        docs = docs.repartition(spread_partitions)
    d = token_counts(
        repetition_scores(language_id(docs, text_col), text_col), text_col
    )
    return d.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length(text_col)).alias("n_chars_total"),
        F.round(F.avg("n_tokens"), 6).alias("mean_tokens"),
        F.round(F.avg("top_bigram_frac"), 6).alias("mean_top_bigram_frac"),
        F.round(
            F.avg(F.when(F.col("lang_pred") == "en", 1.0).otherwise(0.0)),
            6,
        ).alias("pct_en"),
    )


def streaming_funnel_counts(
    events: DataFrame,
    steps: list[str],
    max_gap_minutes: int | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming first-touch funnel (twin of sessions.py::funnel_counts):
    emits one row per (user, step) ADVANCEMENT — ``(user, step,
    step_name, step_ts_us)`` — as a user's event stream reaches each
    successive funnel step. Per-step conversion counts are a downstream
    count of the emitted transitions.

    State per user is exactly two scalars (current step index + that
    step's event time) via ``applyInPandasWithState`` in append mode —
    bounded by the user population, independent of event volume, the
    same state the batch funnel carries per user inside its aggregates.

    Semantics match the batch operator (earliest qualifying event per
    step, strictly increasing times, optional first-touch gap cap)
    EXACTLY when events arrive in event-time order across microbatches;
    each microbatch is sorted internally, and a late cross-batch
    straggler advances the funnel on arrival — first-touch attribution
    over what the stream has seen so far, the standard streaming
    relaxation (an already-passed step is never reopened).
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    import pandas as pd

    gap_us = (int(max_gap_minutes) * 60 * 1_000_000
              if max_gap_minutes is not None else None)
    n_steps = len(steps)
    step_names = list(steps)

    prepared = events.select(
        F.col(user_col).alias("user_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
        F.col(type_col).alias("etype"),
    )

    def update(key, pdfs, state):
        if state.exists:
            step, step_ts = state.get
        else:
            step, step_ts = 0, 0
        evs = []
        for pdf in pdfs:
            evs.extend(zip(pdf["ts_us"].tolist(), pdf["etype"].tolist()))
        evs.sort()
        out_steps, out_ts = [], []
        for ts_us, etype in evs:
            if step >= n_steps:
                break
            if etype != step_names[step]:
                continue
            if step > 0:
                if ts_us <= step_ts:
                    continue
                if gap_us is not None and ts_us - step_ts > gap_us:
                    continue
            step += 1
            step_ts = ts_us
            out_steps.append(step)
            out_ts.append(ts_us)
        state.update((step, step_ts))
        if out_steps:
            yield pd.DataFrame({
                "user_id": [key[0]] * len(out_steps),
                "step": out_steps,
                "step_name": [step_names[s - 1] for s in out_steps],
                "step_ts_us": out_ts,
            })

    id_type = dict(prepared.dtypes)["user_id"]
    return prepared.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(f"user_id {id_type}, step long, "
                          "step_name string, step_ts_us long"),
        stateStructType="step long, step_ts long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_index_dedup(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    out_dir: str,
    schema: str = "doc_id BIGINT, text STRING",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    update_index: bool = True,
    within_batch: bool = True,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
    compact_every_n_batches: int | None = None,
):
    """Continuous incremental near-dedup of an ingest stream against the
    persisted MinHash index (operators/dedup.py::build_minhash_index) —
    the production shape of corpus dedup: a daily/hourly delta must be
    checked against the WHOLE historical corpus without ever rescanning
    it, then folded into the index so later deltas see it too.

    foreachBatch per microbatch:
      1. ``dedup_against_index(batch)`` — band-join against the stored
         banded table (per-band file pruning), exact-Jaccard verify on
         candidates; cost scales with the batch + its candidates.
      2. ``within_batch=True`` adds the batch's INTERNAL near-dup pairs
         (two replicas arriving in the same delta would otherwise both
         survive) via the same banded self-join, with the index's pinned
         (n, num_hashes, bands) parameters; emitted in arrival
         convention: later id as ``new_id``, earlier as ``index_id``.
      3. write pairs under ``{out_dir}/batch_id=<k>``.
      4. ``update_index=True`` folds the batch into the index under
         segment ``seg=b<k>``, so batch k+1 dedups against corpus ∪
         batches 1..k.

    Net contract over a drained stream: the sink holds EXACTLY the pairs
    (a, b, jaccard >= threshold) where b is a streamed doc and a precedes
    it (in the index, an earlier batch, or the same batch with a smaller
    id) — i.e. every pair the batch pipeline would find on the union
    corpus that involves at least one streamed doc (pinned in the
    VALUES-oracle verifier + pytest).

    Effectively-once under replay: every write is keyed by the batch id
    and REPLACES its own partition with dynamic partition overwrite —
    pairs land under ``batch_id=<k>``, the index fold under ``seg=b<k>``
    — and the probe reads the index THROUGH a ``seg != b<k>`` filter, so
    a batch replayed after a mid-batch crash (pairs written but the fold
    or the checkpoint commit torn) recomputes against exactly the
    pre-batch index state and overwrites, never duplicates, its own
    output (pinned by the torn-batch replay test). The deterministic
    pipeline makes the replacement byte-stable.

    ``compact_every_n_batches=n`` folds the accumulated delta segments
    into ``seg=base`` at the START of every n-th batch (off the probe
    path), bounding index file count at ~1 file/band/segment × n instead
    of growing one segment per batch forever. The current batch's own
    (possibly torn, uncommitted) segment is excluded from the fold so
    its replay can still replace it; compaction itself is an idempotent
    full rewrite (temp-dir + swap, see compact_minhash_index).

    Returns the started StreamingQuery.

    Per-batch plan: the batch is shingled and banded ONCE (two
    checkpoints) feeding all four consumers — the index band-join, the
    within-batch band self-join, the Jaccard-verify arms, and the
    fold-in appends — instead of calling the three standalone batch
    functions, each of which re-shingles the batch from scratch
    (measured same-session A/B at sf0.1, two batches: composed
    8.6/6.2 s vs shared 6.1/3.9 s — ~35% off the per-batch cost).
    """
    from nous_spark.operators.dedup import (
        _banded,
        _read_meta,
        minhash_signatures,
        shingles,
    )

    checkpoint_dir = checkpoint_dir or f"{out_dir}/_stream_checkpoint"
    m = _read_meta(spark, index_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _index_dedup_batch(
            spark, batch_df, batch_id, index_path, out_dir, m,
            text_col=text_col, id_col=id_col, threshold=threshold,
            update_index=update_index, within_batch=within_batch,
            compact_every_n_batches=compact_every_n_batches,
        )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _index_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    out_dir: str,
    m,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    update_index: bool = True,
    within_batch: bool = True,
    compact_every_n_batches: int | None = None,
) -> None:
    """One microbatch of ``streaming_index_dedup``, module-level so the
    torn-batch fault-injection test can run an attempt DIRECTLY (all
    writes land, no checkpoint commit) and then let the stream replay
    it. Every write is keyed by ``batch_id`` and replaces its own
    partition (dynamic overwrite); the probe excludes the batch's own
    ``seg`` so a replay recomputes against the pre-batch index state —
    together these make a replayed batch a byte-stable overwrite."""
    from nous_spark.operators.dedup import (
        _banded,
        minhash_signatures,
        shingles,
    )

    if batch_df.isEmpty():
        return
    seg = f"b{batch_id}"
    if (compact_every_n_batches and batch_id > 0
            and batch_id % compact_every_n_batches == 0):
        # off the probe path; exclude this batch's own segment (a torn
        # previous attempt may have written it) so the replay below can
        # still replace it wholesale
        from nous_spark.operators.dedup import compact_minhash_index
        compact_minhash_index(spark, index_path, exclude_segs=(seg,))

    def _verify(cand, sh_map, new_col, pred_col, pred_sh):
        return (
            cand.join(sh_map.select(F.col("id").alias(new_col),
                                    F.col("shingle_hashes").alias("sh_a")),
                      new_col)
            .join(pred_sh, pred_col)
            .withColumn(
                "jaccard",
                F.round(
                    F.size(F.array_intersect("sh_a", "sh_b"))
                    / F.greatest(F.size(F.array_union("sh_a", "sh_b")),
                                 F.lit(1)).cast("double"),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select(F.col(new_col).alias("new_id"),
                    F.col(pred_col).alias("index_id"), "jaccard")
        )

    sh = shingles(batch_df, text_col, id_col, m.n) \
        .localCheckpoint(eager=True)
    sig = minhash_signatures(sh, m.num_hashes)
    banded = _banded(sig, m.bands, m.num_hashes // m.bands) \
        .localCheckpoint(eager=True)
    # seg filter: a replayed batch must probe the PRE-batch index state,
    # not its own half-folded delta (which would self-match every doc
    # at jaccard 1.0)
    banded_old = spark.read.parquet(f"{index_path}/banded") \
        .filter(F.col("seg") != seg)
    cand_idx = (
        banded.alias("l").join(banded_old.alias("r"),
                               ["band", "band_hash"])
        .select(F.col("l.id").alias("new_id"),
                F.col("r.id").alias("index_id"))
        .dropDuplicates(["new_id", "index_id"])
    )
    sh_old = spark.read.parquet(f"{index_path}/shingles") \
        .filter(F.col("seg") != seg).select(
        F.col("id").alias("index_id"),
        F.col("shingle_hashes").alias("sh_b"))
    pairs = _verify(cand_idx, sh, "new_id", "index_id", sh_old)
    if within_batch:
        cand_in = (
            banded.alias("l").join(banded.alias("r"),
                                   ["band", "band_hash"])
            .filter(F.col("l.id") < F.col("r.id"))
            .select(F.col("r.id").alias("new_id"),
                    F.col("l.id").alias("index_id"))
            .dropDuplicates(["new_id", "index_id"])
        )
        pairs = pairs.unionByName(_verify(
            cand_in, sh, "new_id", "index_id",
            sh.select(F.col("id").alias("index_id"),
                      F.col("shingle_hashes").alias("sh_b"))))
    pairs.withColumn("batch_id", F.lit(batch_id)).write.mode(
        "overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy("batch_id").parquet(out_dir)
    if update_index:
        sh.withColumn("seg", F.lit(seg)).write.mode(
            "overwrite").option("partitionOverwriteMode", "dynamic") \
            .partitionBy("seg").parquet(f"{index_path}/shingles")
        banded.withColumn("seg", F.lit(seg)).repartition(
            m.bands, "band").write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic").partitionBy(
            "band", "seg").parquet(f"{index_path}/banded")


def streaming_ivf_ingest(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    schema: str = "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats_dir: str | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
):
    """Continuous embedding ingest into a SAVED IVF index — the
    vector-side twin of ``streaming_index_dedup``: a stream of new
    embeddings (fresh crawl batches, nightly re-embeds) is assigned to
    the EXISTING centroids and folded into the by-cell store, so every
    later ``ivf_query`` probe sees it; no retrain, no store rewrite.

    Effectively-once under replay, by the same keyed-overwrite contract
    as the dedup twin: each microbatch's fold lands under ``seg=b<k>``
    with dynamic partition overwrite, so a batch replayed after a torn
    write replaces — never duplicates — its own delta (the assignment
    is deterministic given the pinned centroids, making the replacement
    byte-stable).

    ``stats_dir`` (optional) writes one occupancy-stats row per batch
    under ``batch_id=<k>`` — the rebuild-on-drift signal
    (``ivf_add_vectors`` docstring): computed as an aggregate DataFrame
    over the store's cell partition column, never a driver collect.

    Centroid drift remains the operator's trade: when the stats show
    skew rising, rebuild with ``ivf_build_index`` offline and swap.
    Returns the started StreamingQuery."""
    from nous_spark.operators.ann import ivf_load_index

    checkpoint_dir = checkpoint_dir or f"{index_path}/_stream_checkpoint"
    cents, _ = ivf_load_index(spark, index_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _ivf_ingest_batch(spark, batch_df, batch_id, index_path, cents,
                          id_col=id_col, vec_col=vec_col,
                          stats_dir=stats_dir)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _ivf_ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    cents,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats_dir: str | None = None,
) -> None:
    """One microbatch of ``streaming_ivf_ingest`` — module-level so the
    torn-batch test can run an attempt directly (fold lands, no
    checkpoint commit) and let the stream replay it."""
    from nous_spark.operators.ann import _assign_cells

    if batch_df.isEmpty():
        return
    seg = f"b{batch_id}"
    _assign_cells(batch_df, cents, id_col, vec_col).withColumn(
        "seg", F.lit(seg)).repartition(len(cents), "cell").write.mode(
        "overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy("cell", "seg").parquet(f"{index_path}/vectors")
    if stats_dir:
        occ = (
            spark.read.parquet(f"{index_path}/vectors")
            .groupBy("cell").agg(F.count("*").alias("n"))
            .agg(F.sum("n").cast("long").alias("n_vectors"),
                 F.max("n").cast("long").alias("max_cell"),
                 F.count("*").cast("long").alias("occupied_cells"))
            .withColumn("n_cells", F.lit(len(cents)))
            .withColumn("cell_skew", F.round(
                F.col("max_cell") * F.col("n_cells")
                / F.col("n_vectors"), 3))
            .withColumn("batch_id", F.lit(batch_id))
        )
        occ.coalesce(1).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic").partitionBy(
            "batch_id").parquet(stats_dir)


def streaming_asof_enrich(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Streaming twin of ``operators/joins.py::asof_join`` (backward,
    non-strict): enrich a stream of left events with the most recent
    right row per key — the Flink "temporal table join" shape with
    single-version state.

    State per key is ONE right row (its event time + payload columns)
    via ``applyInPandasWithState`` in append mode: bounded by the key
    population, independent of stream volume. Within each microbatch
    both sides merge in event-time order (right before left at equal
    instants, the batch operator's non-strict ordering), so results
    equal the batch as-of join EXACTLY when batches are event-time
    ordered. Cross-batch stragglers take the standard streaming
    relaxation: a late LEFT row is enriched with the latest right state
    (not the historical version — single-version state cannot time
    travel), and a late RIGHT row older than the retained one is
    ignored (state keeps the event-time max).

    Output: left's columns with the timestamp as ``ts_us`` (micros),
    right payload columns (suffixed ``_r`` on collision, nulls before
    the first right row), and ``matched_ts_us``.
    """
    import pandas as pd

    lcols = [c for c in left.columns if c not in (on, left_ts)]
    pcols = [c for c in right.columns if c not in (on, right_ts)]
    if not pcols:
        raise ValueError("right side has no payload columns")
    ldt, rdt = dict(left.dtypes), dict(right.dtypes)
    out_p = {c: (c + "_r" if c in left.columns else c) for c in pcols}

    lhs = left.select(
        F.col(on).alias("k"),
        F.unix_micros(F.col(left_ts).cast("timestamp")).alias("ts_us"),
        F.lit(1).alias("tag"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(rdt[c]).alias(f"__p_{c}") for c in pcols],
    )
    rhs = right.select(
        F.col(on).alias("k"),
        F.unix_micros(F.col(right_ts).cast("timestamp")).alias("ts_us"),
        F.lit(0).alias("tag"),
        *[F.lit(None).cast(ldt[c]).alias(c) for c in lcols],
        *[F.col(c).alias(f"__p_{c}") for c in pcols],
    )
    u = lhs.unionByName(rhs)

    _INT_TYPES = ("tinyint", "smallint", "int", "bigint", "long")

    def _coerce(dtype):
        """Pandas renders a nullable integer column as float64; a float
        written into a long-typed state field round-trips as null, so
        state values must be coerced back to their declared types."""
        if dtype in _INT_TYPES:
            return lambda v: None if v is None or v != v else int(v)
        if dtype in ("double", "float"):
            return lambda v: None if v is None or v != v else float(v)
        return lambda v: v

    p_coerce = [_coerce(rdt[c]) for c in pcols]
    l_coerce = [_coerce(ldt[c]) for c in lcols]

    def update(key, pdfs, state):
        cur = list(state.get) if state.exists else None  # [ts, p1..pn]
        rows = []  # (ts_us, tag, left-values tuple, payload tuple)
        for pdf in pdfs:
            # no itertuples: pandas mangles leading-underscore names
            ts_l = pdf["ts_us"].tolist()
            tag_l = pdf["tag"].tolist()
            lv = [pdf[c].tolist() for c in lcols]
            pv = [pdf[f"__p_{c}"].tolist() for c in pcols]
            for i in range(len(ts_l)):
                rows.append((
                    int(ts_l[i]), int(tag_l[i]),
                    tuple(f(col[i]) for f, col in zip(l_coerce, lv)),
                    tuple(f(col[i]) for f, col in zip(p_coerce, pv)),
                ))
        # (ts_us, tag): right (0) sorts before left (1) at equal instants
        rows.sort(key=lambda t: (t[0], t[1]))
        out = {c: [] for c in
               ["ts_us", *lcols, *[f"__p_{c}" for c in pcols],
                "matched_ts_us"]}
        for ts, tag, lvals, pvals in rows:
            if tag == 0:
                if cur is None or ts >= cur[0]:
                    cur = [ts, *pvals]
            else:
                out["ts_us"].append(ts)
                for c, v in zip(lcols, lvals):
                    out[c].append(v)
                for i, c in enumerate(pcols):
                    out[f"__p_{c}"].append(
                        cur[1 + i] if cur is not None else None)
                out["matched_ts_us"].append(
                    cur[0] if cur is not None else None)
        if cur is not None:
            state.update(tuple(cur))
        if out["ts_us"]:
            yield pd.DataFrame(
                {"k": [key[0]] * len(out["ts_us"]), **out})

    out_schema = ", ".join(
        [f"k {dict(u.dtypes)['k']}", "ts_us long"]
        + [f"{c} {ldt[c]}" for c in lcols]
        + [f"__p_{c} {rdt[c]}" for c in pcols]
        + ["matched_ts_us long"]
    )
    state_schema = ", ".join(
        ["r_ts long"] + [f"p{i} {rdt[c]}" for i, c in enumerate(pcols)]
    )
    res = u.groupBy("k").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    sel = [F.col("k").alias(on), "ts_us", *lcols]
    sel += [F.col(f"__p_{c}").alias(out_p[c]) for c in pcols]
    sel.append(F.col("matched_ts_us"))
    return res.select(*sel)


def streaming_component_ingest(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    schema: str = "src BIGINT, dst BIGINT",
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
    compact_every_n_batches: int | None = None,
):
    """Continuous canonicalization: a stream of alias edges (new
    crawl's mention->entity merges) folds into a persisted COMPONENT
    STORE (operators/graph_inc.py), so every later probe resolves ids
    to their up-to-date canonical root — the graph-side twin of
    ``streaming_index_dedup`` / ``streaming_ivf_ingest``, closing the
    north rule's canonicalization stage for the incremental case: no
    full connected-components re-run per increment.

    Effectively-once under replay by the shared keyed-overwrite
    contract: each microbatch is ``update_component_store(update_id=
    batch_id)``, whose writes land under ``seg=u<batch_id>`` with
    dynamic partition overwrite and whose reads exclude that segment —
    a torn attempt is replaced byte-for-byte by the replay (the update
    is deterministic given the pre-batch store state).

    ``compact_every_n_batches`` folds the remap log into the base
    mapping at the START of every n-th batch, off the probe path,
    excluding the current batch's own (possibly torn) segment so its
    replay can still replace it — the streaming index's auto-compaction
    pattern. Returns the started StreamingQuery."""
    from nous_spark.operators.graph_inc import (
        compact_component_store,
        update_component_store,
    )

    checkpoint_dir = checkpoint_dir or f"{store_path}/_stream_checkpoint"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if (compact_every_n_batches and batch_id > 0
                and batch_id % compact_every_n_batches == 0):
            compact_component_store(spark, store_path,
                                    exclude_segs=(f"u{batch_id}",))
        update_component_store(spark, batch_df, store_path,
                               update_id=batch_id, src=src, dst=dst)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_mis_ingest(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    schema: str = "subj STRING, pred STRING, obj STRING",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
    compact_every_n_batches: int | None = None,
):
    """Continuous frequent-pattern support maintenance: a stream of
    triples (a crawl's extracted edges) folds into a persisted MIS
    STORE (operators/mining_inc.py), so pattern supports stay current
    as the graph grows — the mining-side twin of
    ``streaming_component_ingest``, replacing the reference's
    re-mine-the-window loop (DatatoPatternGraph.scala:513-588) with a
    delta-cost fold. The store (and its pattern universe) must exist:
    ``build_mis_store`` runs once before the stream starts.

    Effectively-once under replay by the shared keyed-overwrite
    contract: each microbatch is ``update_mis_store(update_id=
    batch_id)``, whose writes land under ``seg=u<batch_id>`` with
    dynamic partition overwrite and whose reads exclude that segment.
    ``compact_every_n_batches`` folds history into ``seg=base`` at the
    START of every n-th batch, off the support-read path, excluding the
    current batch's own (possibly torn) segment. Returns the started
    StreamingQuery."""
    from nous_spark.operators.mining_inc import (
        compact_mis_store,
        update_mis_store,
    )

    checkpoint_dir = checkpoint_dir or f"{store_path}/_stream_checkpoint"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if (compact_every_n_batches and batch_id > 0
                and batch_id % compact_every_n_batches == 0):
            compact_mis_store(spark, store_path,
                              exclude_segs=(f"u{batch_id}",))
        update_mis_store(spark, batch_df, store_path,
                         update_id=batch_id)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_triple_ingest(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    schema: str = "subj STRING, pred STRING, obj STRING",
    edge_fn=None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
):
    """Continuous knowledge-graph materialization: a stream of
    extracted triples folds into the incremental TRIPLE STORE
    (operators/triple_store.py) — each microbatch's alias edges fold
    into the canonical store, dethroned representatives land in the
    patch log, and the batch's triples materialize under their own
    segment. This is the last stage of the north rule's pipeline run
    as a service: extract → canonicalize → materialize per crawl
    increment, with a merge costing a patch row instead of a corpus
    rewrite.

    ``edge_fn(batch_df) -> DataFrame[a, b]`` derives the batch's alias
    delta; the default treats `same_as` triples as alias edges and
    materializes the rest — the common shape when the extractor emits
    coreference links inline. The store must exist
    (``build_triple_store`` runs once before the stream starts).

    Effectively-once under replay by the shared keyed-overwrite
    contract: each microbatch is ``update_triple_store(update_id=
    batch_id)``, whose three writes are segment-keyed overwrites
    derived deterministically from the pre-batch store state. Returns
    the started StreamingQuery."""
    from nous_spark.operators.triple_store import update_triple_store

    checkpoint_dir = checkpoint_dir or f"{store_path}/_stream_checkpoint"

    def default_edge_fn(batch_df: DataFrame) -> DataFrame:
        return batch_df.filter(F.col("pred") == "same_as").select(
            F.col("subj").alias("a"), F.col("obj").alias("b"))

    derive = edge_fn or default_edge_fn

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        edges = derive(batch_df)
        triples = batch_df
        if edge_fn is None:
            triples = batch_df.filter(F.col("pred") != "same_as")
        update_triple_store(spark, triples, edges, store_path,
                            update_id=batch_id)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_pattern_watch(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    matches_path: str,
    pair: tuple,
    schema: str = "subj STRING, pred STRING, obj STRING",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
):
    """Standing query over the growing graph: a registered two-edge
    pattern whose NEW matches are emitted per ingest microbatch —
    incremental view maintenance as a stream. Each batch runs the
    exact bag-semantics delta rule (``watch_pattern_delta``: Δ⋈E ∪
    E⋈Δ ∪ Δ⋈Δ against the pre-batch edge set), lands the new matches
    under ``batch_id=<k>`` with dynamic overwrite, then folds the
    batch's edges into the MIS store — so supports AND the standing
    query advance together, and the union of all match partitions
    equals the from-scratch bag join at every point.

    Replay contract as everywhere else: the match write is keyed by
    batch_id and the delta rule reads exclude the batch's own segment,
    so a torn attempt is replaced byte-for-byte. The store (with the
    pattern pinned in its meta) must exist before the stream starts."""
    from nous_spark.operators.mining_inc import (
        update_mis_store,
        watch_pattern_delta,
    )

    checkpoint_dir = checkpoint_dir or f"{store_path}/_watch_checkpoint"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new_matches = watch_pattern_delta(
            spark, batch_df, store_path, pair,
            exclude_segs=(f"u{batch_id}",))
        # no coalesce: a delta against a hot stored side can emit many
        # matches — the write keeps the join's parallelism
        (
            new_matches.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(matches_path)
        )
        update_mis_store(spark, batch_df, store_path,
                         update_id=batch_id)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
