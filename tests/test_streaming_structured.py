"""Structured Streaming capability tests: file-source stream →
foreachBatch extraction with exactly-once checkpointing; watermarked
windowed aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nous_spark.corpus import corpus_df
from nous_spark.streaming.structured import (
    start_extraction_stream,
    windowed_event_counts,
)


def test_extraction_stream_available_now(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    corpus_df(spark, n_files=30, seed=9).repartition(3).write.parquet(src_dir)

    out = str(tmp_path / "out")
    q = start_extraction_stream(spark, src_dir, out)
    q.awaitTermination(120)
    assert not q.isActive

    triples = spark.read.parquet(f"{out}/triples/batch=*")
    docs = spark.read.parquet(f"{out}/docs/batch=*")
    assert triples.count() > 0
    assert docs.count() == 30
    # restart with same checkpoint: no new data → no duplicate output
    n_before = triples.count()
    q2 = start_extraction_stream(spark, src_dir, out)
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out}/triples/batch=*").count() == n_before


def test_windowed_event_counts_static(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_counts(ev)
    rows = out.collect()
    assert len(rows) > 0
    total = sum(r.cnt for r in rows)
    assert total == ev.count()


def test_windowed_event_counts_streaming(spark, tmp_path, sf_dir):
    """Same aggregation over an actual readStream (memory sink)."""
    src = str(tmp_path / "ev")
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
    )
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows the watermark has closed; the final
    # windows stay open, so assert a prefix of the static result appeared
    got = spark.sql("select * from win_counts").collect()
    static = windowed_event_counts(
        spark.read.parquet(src)
    ).collect()
    assert len(got) <= len(static)
    static_keys = {(r.window_start, r.event_type, r.cnt) for r in static}
    assert all((r.window_start, r.event_type, r.cnt) in static_keys for r in got)


def test_stateful_window_support(spark, tmp_path):
    """applyInPandasWithState sliding-window support: state evicts batches
    older than the window; final emission equals a batch recomputation."""
    import pandas as pd
    from nous_spark.streaming.structured import stateful_window_support

    src = str(tmp_path / "pb")
    import os

    os.makedirs(src, exist_ok=True)
    rows = []
    # pattern A in every batch, B only early, C only late
    for b in range(5):
        rows.append(("A", b, 10 + b))
        if b < 2:
            rows.append(("B", b, 5))
        if b >= 3:
            rows.append(("C", b, 7))
    for b in range(5):
        pd.DataFrame(
            [r for r in rows if r[1] == b],
            columns=["pattern_key", "batch_id", "support"],
        ).to_parquet(f"{src}/batch_{b:03d}.parquet")

    stream = (
        spark.readStream.schema("pattern_key STRING, batch_id LONG, support LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_window_support(stream, window_batches=3)
        .writeStream.format("memory")
        .queryName("wsup")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from wsup").collect()
    # last state per pattern (highest upto_batch wins)
    final = {}
    for r in sorted(out, key=lambda r: r.upto_batch):
        final[r.pattern_key] = (r.upto_batch, r.window_support)
    # window = batches {2,3,4}: A = 12+13+14; B evicted entirely; C = 7+7
    assert final["A"] == (4, 39)
    assert final["C"] == (4, 14)
    # B's last update was at batch 1 with batches {0,1} in window
    assert final["B"] == (1, 10)


def test_streaming_exact_dedup(spark, tmp_path):
    """First occurrence of each text survives; replays within the
    watermark are dropped — over a real readStream."""
    import datetime as dt

    from nous_spark.streaming.structured import streaming_exact_dedup

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(20):
        rows.append((i, t0 + dt.timedelta(seconds=i), f"doc body {i % 8}"))
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "ts", "text"]).repartition(
        2
    ).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = (
        streaming_exact_dedup(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM dedup_out").collect()
    # 8 distinct texts → exactly 8 survivors, one per hash
    assert len(out) == 8
    assert len({r.text_hash for r in out}) == 8
    assert {r.text for r in out} == {f"doc body {k}" for k in range(8)}


def test_streaming_minhash_cross_batch(spark, tmp_path):
    """A near-duplicate arriving in a LATER micro-batch must still pair
    with its original: bucket state carries (id, signature) across
    batches (maxFilesPerTrigger=1 forces one batch per file)."""
    from nous_spark.streaming.structured import streaming_minhash_candidates

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep dark forest tonight")
    variant = base + " again"
    other = ("completely different content about spark structured "
             "streaming state stores and watermarks for dedup")
    d1 = str(tmp_path / "in" / "f1.parquet")
    d2 = str(tmp_path / "in" / "f2.parquet")
    spark.createDataFrame([(1, base), (2, other)], ["doc_id", "text"]) \
        .coalesce(1).write.parquet(d1)
    spark.createDataFrame([(3, variant)], ["doc_id", "text"]) \
        .coalesce(1).write.parquet(d2)
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in" / "*.parquet"))
    )
    q = (
        streaming_minhash_candidates(stream, threshold=0.5)
        .writeStream.format("memory")
        .queryName("mh_cand")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    from nous_spark.streaming.structured import await_input_drained
    await_input_drained(q, timeout=180)
    rows = spark.sql("SELECT * FROM mh_cand").collect()
    pairs = {(r.a, r.b) for r in rows}
    assert (1, 3) in pairs, rows
    assert all(p == (1, 3) for p in pairs), pairs  # no false pairs
    assert all(r.est_jaccard >= 0.5 for r in rows)


def test_streaming_near_dup_filter_decisions(spark, tmp_path):
    """Cross-batch first-arrival keeper + within-batch min-id keeper +
    idempotent replay + TTL expiry of the frontier."""
    from nous_spark.streaming.batch_driver import StreamingNearDupFilter

    base = ("the quick brown fox jumps over the lazy dog near the"
            " riverbank every single morning")
    nd = StreamingNearDupFilter(spark, str(tmp_path / "nd"), threshold=0.7)
    b1 = spark.createDataFrame(
        [(0, base),
         (1, "completely different content about spark plans and shuffles"
             " at scale here"),
         (2, base + " extra")],           # within-batch near-dup of 0
        ["doc_id", "text"])
    assert sorted(r.doc_id for r in nd.process_batch(b1, 0).collect()) \
        == [0, 1]
    b2 = spark.createDataFrame(
        [(10, base + " today"),           # cross-batch near-dup of kept 0
         (11, "fresh unrelated text with nothing shared between any"
              " earlier documents at all")],
        ["doc_id", "text"])
    assert sorted(r.doc_id for r in nd.process_batch(b2, 1).collect()) \
        == [11]
    # replay of a done batch recomputes the same decision (frontier
    # excludes the current batch id)
    assert sorted(r.doc_id for r in nd.process_batch(b2, 1).collect()) \
        == [11]

    # TTL: with a 1-batch frontier horizon, a batch-0 keeper no longer
    # blocks a near-dup arriving at batch 2
    nd2 = StreamingNearDupFilter(spark, str(tmp_path / "nd2"),
                                 threshold=0.7, ttl_batches=1)
    nd2.process_batch(b1, 0)
    nd2.process_batch(spark.createDataFrame(
        [(20, "middle batch with entirely unrelated words about graphs")],
        ["doc_id", "text"]), 1)
    late = spark.createDataFrame([(30, base + " again")], ["doc_id", "text"])
    assert [r.doc_id for r in nd2.process_batch(late, 2).collect()] == [30]


def test_session_window_matches_batch_sessionize(spark):
    """streaming_session_stats on a STATIC frame must agree with the
    batch gaps-and-islands rollup (same gap, no watermark cutoff in
    static mode) — pins the session_window semantics to the batch
    contract on microsecond-grain data."""
    import datetime as dt

    from nous_spark.operators.sessions import session_stats
    from nous_spark.streaming.structured import streaming_session_stats

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid in range(5):
        t = t0
        for k in range(40):
            # gaps cycle through 1..50 minutes with odd microseconds, so
            # several sessions per user and no exact-boundary gaps
            t = t + dt.timedelta(minutes=1 + (k * 7) % 50,
                                 microseconds=123 + k)
            rows.append((eid, uid, t, float(k % 9)))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])

    got = {
        (r.user_id, r.session_start): (
            r.session_end, r.n_events, r.duration_us, r.sum_value)
        for r in streaming_session_stats(df).collect()
    }
    want = {
        (r.user_id, r.session_start): (
            r.session_end, r.n_events, r.duration_us, r.sum_value)
        for r in session_stats(df).collect()
    }
    assert got == want


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """Two time-split microbatches fed in event-time order: per-step
    counts of the emitted transitions must equal the batch funnel,
    including a conversion that STRADDLES the batch boundary (state
    store carries step index + time across microbatches)."""
    import datetime as dt
    import os

    from nous_spark.operators.sessions import funnel_counts
    from nous_spark.streaming.structured import streaming_funnel_counts

    t0 = dt.datetime(2024, 6, 1)

    def ev(u, minutes, typ):
        return (u, t0 + dt.timedelta(minutes=minutes), typ)

    rows = [
        # u1 converts fully, click lands in batch 2 (straddle)
        ev(1, 0, "view"), ev(1, 50, "click"), ev(1, 70, "purchase"),
        # u2 views then clicks too late (gap 60 exceeded)
        ev(2, 0, "view"), ev(2, 100, "click"),
        # u3 clicks before viewing — step order must gate it
        ev(3, 0, "click"), ev(3, 10, "view"), ev(3, 20, "click"),
        # u4 never starts
        ev(4, 5, "purchase"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    steps, gap = ["view", "click", "purchase"], 60

    cut = t0 + dt.timedelta(minutes=45)
    src = str(tmp_path / "src")
    os.makedirs(src)
    import pyspark.sql.functions as F
    for i, b in enumerate([df.filter(F.col("ts") < cut),
                           df.filter(F.col("ts") >= cut)]):
        d = str(tmp_path / f"b{i}")
        b.coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        os.rename(f"{d}/{part}", f"{src}/batch{i}.parquet")
        os.utime(f"{src}/batch{i}.parquet", (1_000_000 + i, 1_000_000 + i))

    stream = spark.readStream.schema(
        "user_id LONG, ts TIMESTAMP, event_type STRING"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_funnel_counts(stream, steps, max_gap_minutes=gap)
        .writeStream.format("memory").queryName("t_strfunnel")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("t_strfunnel").collect()

    # per-user transitions are exactly the batch first-touch times
    trans = {(r.user_id, r.step): r.step_ts_us for r in got}
    us = lambda minutes: int((t0 + dt.timedelta(minutes=minutes)
                              - dt.datetime(1970, 1, 1)).total_seconds()
                             * 1_000_000)
    assert trans == {
        (1, 1): us(0), (1, 2): us(50), (1, 3): us(70),
        (2, 1): us(0),
        (3, 1): us(10), (3, 2): us(20),
    }
    # and the per-step counts equal the batch operator's
    batch = {r.step: r.n_users
             for r in funnel_counts(df, steps, max_gap_minutes=gap).collect()}
    from collections import Counter
    stream_counts = Counter(r.step for r in got)
    assert {s: stream_counts.get(s, 0) for s in batch} == batch


def test_streaming_corpus_report_matches_batch_subset(spark):
    """On a static frame the complete-mode report must equal the batch
    corpus_report's algebraic columns exactly (same signal pass)."""
    from nous_spark.operators.curation import corpus_report
    from nous_spark.streaming.structured import streaming_corpus_report

    rows = [
        (1, "the cat and the dog and the cat", "web"),
        (2, "der hund ist mit der katze und", "web"),
        (3, "completely unique english text with the and of", "book"),
        (4, "", "book"),
        (5, "the the the the the the", "web"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    cols = ["source", "n_docs", "n_chars_total", "mean_tokens",
            "mean_top_bigram_frac", "pct_en"]
    got = {tuple(r) for r in streaming_corpus_report(df).select(*cols).collect()}
    want = {tuple(r) for r in corpus_report(df).select(*cols).collect()}
    assert got == want


def test_streaming_index_dedup_incremental(spark, tmp_path):
    """Two microbatches against a persisted index: the drained sink must
    hold EXACTLY the pairs involving a streamed doc — vs the original
    index, vs the previously-folded batch, and within one batch — and
    the index must contain every streamed doc afterwards."""
    import os

    from nous_spark.operators.dedup import build_minhash_index
    from nous_spark.streaming.structured import streaming_index_dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    corpus = [(1, base), (2, "completely unrelated corpus filler text")]
    b1 = [(10, base + " phi"),                  # near-dup of 1 (index arm)
          (11, "another standalone document about spark plans")]
    b2 = [(20, base + " phi chi"),              # near-dup of 1 AND 10
          (21, "more filler that matches nothing else"),
          (22, "more filler that matches nothing else too")]  # ~dup of 21
    idx = str(tmp_path / "idx")
    build_minhash_index(spark.createDataFrame(corpus, ["doc_id", "text"]),
                        idx)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate([b1, b2]):
        d = f"{src}/b{i}"
        spark.createDataFrame(rows, ["doc_id", "text"]) \
            .coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.rename(f"{d}/{f}", f"{src}/batch{i}.parquet")
                os.utime(f"{src}/batch{i}.parquet",
                         (1_000_000 + i, 1_000_000 + i))
    out = str(tmp_path / "out")
    q = streaming_index_dedup(spark, src, idx, f"{out}/pairs",
                              threshold=0.5)
    q.awaitTermination(120)
    got = {(r.new_id, r.index_id) for r in
           spark.read.parquet(f"{out}/pairs").collect()}
    assert (10, 1) in got                 # batch 1 vs index
    assert (20, 1) in got                 # batch 2 vs index
    assert (20, 10) in got                # batch 2 vs FOLDED batch 1
    assert (22, 21) in got                # within-batch, greatest/least
    assert all(a > b or a > 2 for a, b in got)
    # every streamed doc is now in the index's shingle store
    ids = {r.id for r in
           spark.read.parquet(f"{idx}/shingles").select("id").collect()}
    assert {1, 2, 10, 11, 20, 21, 22} <= ids


def test_streaming_index_dedup_restart_is_exactly_once(spark, tmp_path):
    """Restarting the drained stream with the SAME checkpoint must be a
    no-op: no re-emitted pairs, no double-folded index rows — the
    exactly-once contract the docstring claims."""
    import os

    from nous_spark.operators.dedup import build_minhash_index
    from nous_spark.streaming.structured import streaming_index_dedup

    base = ("quick brown fox jumps over the lazy dog beside a quiet "
            "river bank at dawn while birds sing softly overhead")
    idx = str(tmp_path / "idx")
    build_minhash_index(
        spark.createDataFrame([(1, base)], ["doc_id", "text"]), idx)
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame([(10, base + " again"), (11, "nothing shared")],
                          ["doc_id", "text"]) \
        .coalesce(1).write.parquet(f"{src}/b0")
    for f in os.listdir(f"{src}/b0"):
        if f.endswith(".parquet"):
            os.rename(f"{src}/b0/{f}", f"{src}/batch0.parquet")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):  # second run: same checkpoint, no new files
        q = streaming_index_dedup(spark, src, idx, f"{out}/pairs",
                                  threshold=0.5, checkpoint_dir=ckpt)
        q.awaitTermination(120)
    pairs = spark.read.parquet(f"{out}/pairs").collect()
    assert [(r.new_id, r.index_id) for r in pairs] == [(10, 1)]
    sh_ids = [r.id for r in
              spark.read.parquet(f"{idx}/shingles").collect()]
    assert sorted(sh_ids) == [1, 10, 11]  # folded exactly once


def test_streaming_index_dedup_torn_batch_replay_is_idempotent(
        spark, tmp_path):
    """The mid-batch crash window: all of a batch's writes landed (pairs
    AND index fold) but the checkpoint commit never did, so restart
    REPLAYS the batch. Simulated by running the batch worker DIRECTLY
    (same writes, no commit) and then letting the stream process the
    same file as its batch 0. The replay must (a) not duplicate sink
    pairs, (b) not double-fold shingle/banded rows, and (c) not
    self-match the batch against its own half-folded index segment (no
    id==id jaccard-1.0 rows) — the seg != b<k> probe filter plus
    dynamic partition overwrite on batch_id/seg are what make it an
    overwrite instead of an append."""
    import os

    from nous_spark.operators.dedup import build_minhash_index
    from nous_spark.streaming.structured import (
        _index_dedup_batch,
        streaming_index_dedup,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    idx = str(tmp_path / "idx")
    build_minhash_index(
        spark.createDataFrame([(1, base)], ["doc_id", "text"]), idx)
    src = str(tmp_path / "src")
    os.makedirs(src)
    batch = spark.createDataFrame(
        [(10, base + " phi"), (11, "standalone filler nothing shared"),
         (12, base + " phi")],  # 12 ~ 10: within-batch arm too
        ["doc_id", "text"])
    batch.coalesce(1).write.parquet(f"{src}/b0")
    for f in os.listdir(f"{src}/b0"):
        if f.endswith(".parquet"):
            os.rename(f"{src}/b0/{f}", f"{src}/batch0.parquet")
    out = str(tmp_path / "out")
    # torn attempt: batch 0's full write set lands, no checkpoint commit
    m = spark.read.parquet(f"{idx}/meta").collect()[0]
    _index_dedup_batch(spark, batch, 0, idx, f"{out}/pairs", m,
                       threshold=0.5)
    torn = sorted((r.new_id, r.index_id, r.jaccard) for r in
                  spark.read.parquet(f"{out}/pairs")
                  .select("new_id", "index_id", "jaccard").collect())
    assert {(a, b) for a, b, _ in torn} >= {(10, 1), (12, 10)}
    # fresh checkpoint: the stream replays the same file as batch 0
    q = streaming_index_dedup(spark, src, idx, f"{out}/pairs",
                              threshold=0.5,
                              checkpoint_dir=str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    q.stop()
    replay = sorted((r.new_id, r.index_id, r.jaccard) for r in
                    spark.read.parquet(f"{out}/pairs")
                    .select("new_id", "index_id", "jaccard").collect())
    assert replay == torn  # overwrite, not append
    assert all(a != b for a, b, _ in replay)  # no self-matches
    sh = spark.read.parquet(f"{idx}/shingles").select("id").collect()
    assert sorted(r.id for r in sh) == [1, 10, 11, 12]  # folded once
    banded = spark.read.parquet(f"{idx}/banded")
    dup_banded = (banded.groupBy("id", "band").count()
                  .filter("count > 1").count())
    assert dup_banded == 0  # no double-folded banded rows



def test_streaming_index_dedup_auto_compaction(spark, tmp_path):
    """compact_every_n_batches must bound index file growth without
    changing results: a 4-batch stream with n=2 ends with the pre-batch
    segments folded into seg=base, the SAME sink pairs as an
    uncompacted run, and a final off-path compaction collapses the
    banded store to one file per band with byte-identical probes."""
    import os

    from nous_spark.operators.dedup import (
        build_minhash_index,
        compact_minhash_index,
        dedup_against_index,
    )
    from nous_spark.streaming.structured import streaming_index_dedup

    base = ("one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen sixteen seventeen")
    corpus = [(1, base), (2, "unrelated corpus filler text entirely")]

    def run(idx, out, ckpt, n):
        build_minhash_index(
            spark.createDataFrame(corpus, ["doc_id", "text"]), idx)
        src = str(tmp_path / f"src{n or 0}")
        os.makedirs(src)
        batches = [[(10, base + " tail0"), (11, "filler a")],
                   [(20, base + " tail1")],
                   [(30, base + " tail0"), (31, "filler b")],
                   [(40, base + " tail1 extra")]]
        for i, rows in enumerate(batches):
            d = f"{src}/b{i}"
            spark.createDataFrame(rows, ["doc_id", "text"]) \
                .coalesce(1).write.parquet(d)
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    os.rename(f"{d}/{f}", f"{src}/batch{i}.parquet")
                    os.utime(f"{src}/batch{i}.parquet",
                             (1_000_000 + i, 1_000_000 + i))
        q = streaming_index_dedup(spark, src, idx, out, threshold=0.5,
                                  checkpoint_dir=ckpt,
                                  compact_every_n_batches=n)
        assert q.awaitTermination(180)
        q.stop()
        return sorted((r.new_id, r.index_id, r.jaccard) for r in
                      spark.read.parquet(out)
                      .select("new_id", "index_id", "jaccard").collect())

    idx_c = str(tmp_path / "idx_c")
    got = run(idx_c, str(tmp_path / "out_c"), str(tmp_path / "ck_c"), 2)
    idx_p = str(tmp_path / "idx_p")
    plain = run(idx_p, str(tmp_path / "out_p"), str(tmp_path / "ck_p"),
                None)
    assert got == plain and len(got) >= 4
    # the in-stream compaction (start of batch 2) folded base+b0+b1;
    # segments from batch 2 on remain their own partitions
    segs = {d for d in os.listdir(f"{idx_c}/shingles")
            if d.startswith("seg=")}
    assert segs == {"seg=base", "seg=b2", "seg=b3"}, segs
    probe = spark.createDataFrame([(100, base + " tail0")],
                                  ["doc_id", "text"])
    before = sorted((r.new_id, r.index_id, r.jaccard) for r in
                    dedup_against_index(probe, idx_c, threshold=0.5)
                    .collect())
    stats = compact_minhash_index(spark, idx_c)
    bands = spark.read.parquet(f"{idx_c}/meta").collect()[0].bands
    assert stats["banded_files_after"] <= bands
    after = sorted((r.new_id, r.index_id, r.jaccard) for r in
                   dedup_against_index(probe, idx_c, threshold=0.5)
                   .collect())
    assert after == before and {(a, b) for a, b, _ in after} >= {
        (100, 10), (100, 30)}


def test_streaming_ivf_ingest_folds_batches_idempotently(spark, tmp_path):
    """Two embedding microbatches folded into a saved IVF index must
    leave the store identical to the batch ivf_add_vectors path (same
    centroids, same assignment), queries must recover added vectors,
    per-batch occupancy stats must land, and a torn-batch replay (fold
    written, no checkpoint commit) must replace its own segment, not
    duplicate it."""
    import os

    from nous_spark.operators.ann import (
        _assign_cells,
        ivf_load_index,
        ivf_query,
        ivf_save_index,
    )
    from nous_spark.streaming.structured import (
        _ivf_ingest_batch,
        streaming_ivf_ingest,
    )

    cents = [[100.0 * (c == d) for d in range(4)] + [1.0, 1.0]
             for c in range(4)]
    base = [(c * 10 + i,
             [100.0 * (c == d) + 0.1 * i for d in range(4)] + [1.0, 1.0])
            for c in range(4) for i in range(3)]
    base_df = spark.createDataFrame(
        base, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivf")
    ivf_save_index(cents, _assign_cells(base_df, cents), idx)

    # 7.5+i offsets keep streamed vectors NON-parallel to every base
    # vector (an exact duplicate would tie at cosine 1.0 and lose the
    # vec_id tie-break to the older copy)
    b1 = [(100 + i, [100.0, 7.5 + i, 0.0, 0.0, 1.0, 1.0])
          for i in range(4)]
    b2 = [(200 + i, [0.0, 100.0, 7.5 + i, 0.0, 1.0, 1.0])
          for i in range(4)]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate([b1, b2]):
        d = f"{src}/b{i}"
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>") \
            .coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.rename(f"{d}/{f}", f"{src}/batch{i}.parquet")
                os.utime(f"{src}/batch{i}.parquet",
                         (1_000_000 + i, 1_000_000 + i))
    # torn attempt: batch 0's fold lands with NO checkpoint commit
    _ivf_ingest_batch(spark, spark.createDataFrame(
        b1, "vec_id long, embedding array<double>"), 0, idx, cents)
    stats_dir = str(tmp_path / "stats")
    q = streaming_ivf_ingest(spark, src, idx, stats_dir=stats_dir,
                             checkpoint_dir=str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    q.stop()
    cents2, assigned = ivf_load_index(spark, idx)
    got = sorted((r.vec_id, r.cell) for r in
                 assigned.select("vec_id", "cell").collect())
    union = base_df.unionByName(spark.createDataFrame(
        b1 + b2, "vec_id long, embedding array<double>"))
    expect = sorted((r.vec_id, r.cell) for r in
                    _assign_cells(union, cents).collect())
    assert got == expect  # replay replaced seg=b0 — no duplicates
    res = ivf_query(cents2, assigned,
                    spark.createDataFrame(
                        [(100, b1[0][1]), (200, b2[0][1])],
                        "query_id long, embedding array<double>"),
                    k=3, n_probe=2).collect()
    top1 = {r.query_id: r.vec_id for r in res if r.rank == 1}
    assert top1 == {100: 100, 200: 200}  # streamed vectors recovered
    stats = {r.batch_id: r.asDict() for r in
             spark.read.parquet(stats_dir).collect()}
    assert set(stats) == {0, 1}
    assert stats[1]["n_vectors"] == 20 and stats[1]["n_cells"] == 4


def test_streaming_asof_enrich_matches_batch_asof(spark, tmp_path):
    """Two event-time-split microbatches fed in order: every left event
    must carry exactly the batch asof_join's match, including left rows
    in batch 2 whose matching right row arrived in batch 1 (the state
    store carries the latest right version across the boundary) and a
    key whose right row never arrives (null enrichment)."""
    import datetime as dt
    import os

    import pyspark.sql.functions as F

    from nous_spark.operators.joins import asof_join
    from nous_spark.streaming.structured import streaming_asof_enrich

    t0 = dt.datetime(2024, 6, 1)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    def us(minutes):
        return int((ts(minutes) - dt.datetime(1970, 1, 1))
                   .total_seconds() * 1_000_000)

    # side, k, ts, lid (left-only), p (right-only)
    rows = [
        ("R", 1, ts(0), None, 10.0),
        ("L", 1, ts(5), 100, None),    # batch 1: enriched by R@0
        ("R", 1, ts(40), None, 20.0),
        ("L", 1, ts(50), 101, None),   # batch 2: R@40 from batch 1 state
        ("R", 1, ts(60), None, 30.0),
        ("L", 1, ts(70), 102, None),   # batch 2: same-batch R@60
        ("L", 2, ts(10), 200, None),   # key 2: no right row ever -> null
        ("L", 3, ts(80), 300, None),   # key 3: right arrives batch 2,
        ("R", 3, ts(75), None, 40.0),  # before it in event time
    ]
    df = spark.createDataFrame(
        rows, "side string, k long, ts timestamp, lid long, p double")
    cut = ts(45)
    src = str(tmp_path / "asrc")
    os.makedirs(src)
    for i, b in enumerate([df.filter(F.col("ts") < cut),
                           df.filter(F.col("ts") >= cut)]):
        d = str(tmp_path / f"ab{i}")
        b.coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        os.rename(f"{d}/{part}", f"{src}/batch{i}.parquet")
        os.utime(f"{src}/batch{i}.parquet", (1_000_000 + i, 1_000_000 + i))

    stream = spark.readStream.schema(
        "side STRING, k LONG, ts TIMESTAMP, lid LONG, p DOUBLE"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    left_s = stream.where("side = 'L'").select("k", "ts", "lid")
    right_s = stream.where("side = 'R'").select("k", "ts", "p")
    q = (
        streaming_asof_enrich(left_s, right_s, on="k")
        .writeStream.format("memory").queryName("t_strasof")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r.k, r.lid): (r.ts_us, r.p, r.matched_ts_us)
           for r in spark.table("t_strasof").collect()}
    assert got == {
        (1, 100): (us(5), 10.0, us(0)),
        (1, 101): (us(50), 20.0, us(40)),
        (1, 102): (us(70), 30.0, us(60)),
        (2, 200): (us(10), None, None),
        (3, 300): (us(80), 40.0, us(75)),
    }
    # and row-for-row parity with the batch operator
    lb = df.filter("side = 'L'").select("k", "ts", "lid")
    rb = df.filter("side = 'R'").select("k", "ts", "p")
    batch = {
        (r.k, r.lid): (
            r.p,
            None if r.ts_r is None else
            int((r.ts_r - dt.datetime(1970, 1, 1)).total_seconds()
                * 1_000_000),
        )
        for r in asof_join(lb, rb, on=["k"]).collect()
    }
    assert {k: (v[1], v[2]) for k, v in got.items()} == batch


def test_streaming_asof_enrich_long_payload_survives_state(spark, tmp_path):
    """Regression: pandas renders a nullable BIGINT payload column as
    float64; un-coerced, the float written into the long-typed state
    field round-tripped as NULL, so cross-batch matches kept the double
    payload but lost the long one. A long payload matched from batch 1
    state must come back intact in batch 2."""
    import datetime as dt
    import os

    import pyspark.sql.functions as F

    from nous_spark.streaming.structured import streaming_asof_enrich

    t0 = dt.datetime(2024, 6, 1)
    ts = lambda m: t0 + dt.timedelta(minutes=m)
    rows = [
        ("R", 1, ts(0), None, 777),   # long payload, batch 1
        ("L", 1, ts(50), 100, None),  # batch 2: enriched from state
    ]
    df = spark.createDataFrame(
        rows, "side string, k long, ts timestamp, lid long, q long")
    src = str(tmp_path / "qsrc")
    os.makedirs(src)
    cut = ts(45)
    for i, b in enumerate([df.filter(F.col("ts") < cut),
                           df.filter(F.col("ts") >= cut)]):
        d = str(tmp_path / f"qb{i}")
        b.coalesce(1).write.parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        os.rename(f"{d}/{part}", f"{src}/batch{i}.parquet")
        os.utime(f"{src}/batch{i}.parquet", (1_000_000 + i, 1_000_000 + i))
    stream = spark.readStream.schema(
        "side STRING, k LONG, ts TIMESTAMP, lid LONG, q LONG"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_asof_enrich(
            stream.where("side = 'L'").select("k", "ts", "lid"),
            stream.where("side = 'R'").select("k", "ts", "q"),
            on="k")
        .writeStream.format("memory").queryName("t_strasof_q")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("t_strasof_q").collect()
    assert len(got) == 1 and got[0].q == 777 and got[0].lid == 100
