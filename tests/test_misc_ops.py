"""Tests: sources, mining aggs, textstats."""

from __future__ import annotations

import pytest

from nous_spark.operators.mining import min_image_support
from nous_spark.operators.textstats import fingerprint, language_id
from nous_spark.sources.readers import read_lg_graph, read_temporal_quads, read_triples_tsv
from nous_spark.sources.sinks import write_triples


def test_min_image_support_semantics(spark):
    # pattern p1: positions (a,b); a-bindings {1,2}, b-bindings {5} → support 1
    inst = spark.createDataFrame(
        [("p1", 1, 5), ("p1", 2, 5), ("p2", 1, 2), ("p2", 3, 4)],
        ["pattern_key", "b0", "b1"],
    )
    sup = {r.pattern_key: r.support
           for r in min_image_support(inst, ["b0", "b1"]).collect()}
    assert sup == {"p1": 1, "p2": 2}


def test_read_triples_tsv(spark, tmp_path):
    p = tmp_path / "g.txt"
    p.write_text("<A>\t<knows>\t<B> .\n# comment\n@prefix x\nC\tlikes\tD\n")
    out = read_triples_tsv(spark, str(p)).collect()
    got = {(r.subj, r.pred, r.obj) for r in out}
    assert got == {("a", "knows", "b"), ("c", "likes", "d")}


def test_read_temporal_quads(spark, tmp_path):
    p = tmp_path / "q.txt"
    p.write_text("1\t2\t3\t2010-01-01 05:01:00\nbad\trow\n4\t5\t6\t2011-06-01 00:00:00\n")
    out = read_temporal_quads(spark, str(p), batch_ms=365 * 24 * 3600 * 1000)
    rows = out.collect()
    assert len(rows) == 2
    assert rows[0].batch_id != rows[1].batch_id


def test_read_lg_graph(spark, tmp_path):
    p = tmp_path / "g.lg"
    p.write_text("v 1 foo\nv 2 bar\ne 1 2 rel\n")
    v, e = read_lg_graph(spark, str(p))
    assert v.count() == 2 and e.collect()[0].pred == "rel"


def test_write_triples_salted(spark, tmp_path):
    t = spark.createDataFrame(
        [(f"s{i}", "p" if i % 2 else "q", f"o{i}") for i in range(100)],
        ["subj", "pred", "obj"],
    )
    write_triples(t, str(tmp_path / "out"), salt_buckets=8)
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 100
    assert "salt" in back.columns
    import os
    assert sorted(d for d in os.listdir(tmp_path / "out") if d.startswith("pred=")) \
        == ["pred=p", "pred=q"]


def test_language_id(spark):
    docs = spark.createDataFrame(
        [(1, "the cat and the dog went to the market"),
         (2, "der Hund und die Katze ist mit von"),
         (3, "le chat et les chiens est avec"),
         (4, "xyzzy plugh")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang_pred for r in language_id(docs).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr"
    assert out[4] == "unknown"


def test_fingerprint_normalizes(spark):
    docs = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.fingerprint for r in fingerprint(docs).collect()}
    assert out[1] == out[2] != out[3]


def test_read_topic_matrix(spark, tmp_path):
    p = tmp_path / "topics.txt"
    p.write_text("1\t0.5,0.25,0.25\n2\t1.0,0.0,0.0\n")
    from nous_spark.sources.readers import read_topic_matrix

    out = {r.vid: r.topic for r in read_topic_matrix(spark, str(p)).collect()}
    assert out[1] == [0.5, 0.25, 0.25] and out[2] == [1.0, 0.0, 0.0]


def test_best_prefix_match(spark):
    from nous_spark.operators.linking import best_prefix_match

    targets = spark.createDataFrame([("barack",), ("albert",)], ["query"])
    labels = spark.createDataFrame(
        [("barack obama",), ("barack obama sr",), ("alan turing",)], ["label"]
    )
    out = {r.query: r.best_match for r in best_prefix_match(targets, labels).collect()}
    assert out == {"barack": "barack obama"}


def test_embedding_near_duplicates(spark):
    from nous_spark.operators.dedup import embedding_near_duplicates

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (4, [0.0, 0.99, 0.01, 0.0]),    # near-dup of 3
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r.a, r.b): r.cosine
             for r in embedding_near_duplicates(df, dim=4, threshold=0.95,
                                                n_bits=4, n_tables=8).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert (3, 4) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_read_triples_las_munging(spark, tmp_path):
    from nous_spark.sources.readers import read_triples_las

    p = tmp_path / "las.txt"
    p.write_text(
        "drones\tcarries,payload\tcamera, lens\n"
        "drones\tcarries,payload\tcamera, lens\n"   # duplicate line dropped
        "base\tlaunches\tdrones\n"
        "# comment\n"
        "3210#counter\n"                             # reference validity :99
        "too\tfew\n"                                 # -> None sentinel triple
        "<Drones>\tSEES\ttarget .\n"                 # lowercase + <> + ' .'
        "  pad  \t one \tx\n"                        # strip ONE space/side
        "a\tb\tc\t\t\n"                              # Java trailing-split
        "Case\td\te\n"
        "case\td\te\n"                               # raw-distinct keeps both
    )
    got = sorted(
        (r.subj, r.pred, r.obj) for r in read_triples_las(spark, str(p)).collect()
    )
    # getFieldsFromLine (ReadHugeGraph.scala:54-56): lowercase, strip <>,
    # remove ' .', one-space strip; then ','→';', drones→drone; non-3/4-col
    # lines emit the reference's ('None','None','None') sentinel
    assert got == sorted([
        ("drone", "carries;payload", "camera; lens"),
        ("base", "launches", "drone"),
        ("None", "None", "None"),
        ("drone", "sees", "target"),
        (" pad ", "one", "x"),
        ("a", "b", "c"),
        ("case", "d", "e"),
        ("case", "d", "e"),
    ])


def test_read_source_table_resolution(spark, tmp_path):
    """North-rule source loader: parquet paths scan directly; non-path
    refs resolve through the Iceberg reader when present, else the
    session catalog (temp views stand in for catalog tables here)."""
    from nous_spark.sources.readers import read_source_table

    df = spark.createDataFrame(
        [("r", "a.py", "c" * 40, "python", "x = 1")],
        ["repo", "path", "commit", "lang", "content"],
    )
    p = str(tmp_path / "src.parquet")
    df.write.parquet(p)
    assert read_source_table(spark, p).count() == 1
    df.createOrReplaceTempView("nr_source_tbl")
    got = read_source_table(spark, "nr_source_tbl")
    assert got.count() == 1 and got.columns == df.columns


def test_repetition_scores(spark):
    """Repetitive docs score high on the Gopher-style signals; varied
    prose scores low; NumPy-free Python recompute is the oracle."""
    from nous_spark.operators.textstats import repetition_scores

    spam = "buy now\n" * 6 + "limited offer\n"
    mantra = "foo bar " * 10 + "end"
    clean = ("first line here\n\nsecond paragraph entirely different\n\n"
             "third one with other words again")
    docs = spark.createDataFrame(
        [(1, spam), (2, mantra), (3, clean)], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in repetition_scores(docs).collect()}
    # spam: 7 non-empty lines, 2 distinct -> 5/7 duplicated
    assert abs(out[1].dup_line_frac - 5 / 7) < 1e-6
    # mantra: bigram "foo bar" (and "bar foo") dominates
    assert out[2].top_bigram_frac > 0.4
    assert out[2].dup_line_frac == 0.0  # single line
    assert out[3].dup_line_frac == 0.0
    assert out[3].dup_para_frac == 0.0
    assert out[3].top_bigram_frac <= 0.2

    def py_top_bigram(text):
        toks = text.strip().lower().split()
        grams = [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]
        if not grams:
            return 0.0
        return round(max(grams.count(g) for g in set(grams)) / len(grams), 6)

    for did, text in [(1, spam), (2, mantra), (3, clean)]:
        assert abs(out[did].top_bigram_frac - py_top_bigram(text)) < 1e-6


def test_token_entropy(spark):
    """Matches a plain-Python entropy recompute; template text scores far
    below varied prose."""
    import math
    from collections import Counter

    from nous_spark.operators.textstats import token_entropy

    template = "item ok item ok item ok item ok item ok"
    varied = "the quick brown fox jumps over one lazy dog near riverbanks"
    docs = spark.createDataFrame(
        [(1, template), (2, varied), (3, "")], ["doc_id", "text"]
    )
    out = {r.doc_id: r.token_entropy for r in token_entropy(docs).collect()}

    def py_entropy(text):
        toks = text.strip().lower().split()
        if not toks:
            return 0.0
        n = len(toks)
        return round(
            math.log(n) - sum(c * math.log(c) for c in Counter(toks).values()) / n,
            6,
        )

    for did, t in [(1, template), (2, varied)]:
        assert abs(out[did] - py_entropy(t)) < 1e-6, (did, out[did], py_entropy(t))
    assert out[3] == 0.0
    assert out[1] < 1.0 < out[2]


def test_clean_corpus_funnel(spark):
    """clean_corpus: language + min-token + exact-dup keeper + near-dup
    drop compose into one keep set; dropped docs are absent, survivors
    carry the keep_reason trail."""
    from pyspark.sql import functions as F

    from nous_spark.operators.curation import clean_corpus

    rows = [
        (0, "the cat is on the mat and the dog is here with it now ok"),
        (1, "the cat is on the mat and the dog is here with it now ok"),
        (2, "der hund ist mit der katze und das haus von der stadt da"),
        (3, "short text"),
        (4, "the sun was bright and the sky is blue with the wind today"),
        (5, "the sun was bright and the sky is blue with the rain today"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = spark.createDataFrame([(4, 5)], ["a", "b"])
    kept = clean_corpus(
        docs, langs=("en",), min_tokens=5, near_dup_pairs=pairs
    )
    ids = {r.doc_id for r in kept.collect()}
    # 1 = exact dup of 0 (min-id keeper wins), 2 = german, 3 = too short,
    # 5 = near-dup cluster non-keeper
    assert ids == {0, 4}
    reasons = {r.keep_reason for r in kept.collect()}
    assert reasons == {"lang+quality+repetition+exact_keeper+near_dup_keeper"}


def test_clean_corpus_keeper_recomputed_among_survivors(spark):
    """A near-dup cluster whose global min-id member fails an upstream
    filter must still keep exactly one representative — the min id among
    the FILTER SURVIVORS — instead of silently losing the whole cluster
    (round-5 ADVICE, curation.py keeper bug)."""
    from nous_spark.operators.curation import clean_corpus

    rows = [
        # doc 10: German -> dropped by the language filter, but it is the
        # min-id member of near-dup component {10, 11, 12}
        (10, "der hund ist mit der katze und das haus von der stadt da"),
        (11, "the sun was bright and the sky is blue with the wind today"),
        (12, "the sun was bright and the sky is blue with the rain today"),
        (13, "the cat is on the mat and the dog is here with it now ok"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = spark.createDataFrame([(10, 11), (11, 12)], ["a", "b"])
    kept = clean_corpus(
        docs, langs=("en",), min_tokens=5, near_dup_pairs=pairs
    )
    ids = {r.doc_id for r in kept.collect()}
    # 10 out (lang), 11 kept (min SURVIVING id of the component),
    # 12 out (non-keeper), 13 kept (not in any cluster)
    assert ids == {11, 13}, ids


def test_unigram_logprob_ranks_typicality(spark):
    """The perplexity proxy must score common-token text above text made
    of corpus-rare tokens, and empty docs land at the 0.0 sentinel."""
    from nous_spark.operators.textstats import unigram_logprob_scores

    rows = [(0, "the the the the"), (1, "qzx vbn wrt plm"), (2, "")]
    # pad the corpus so "the" is genuinely common
    rows += [(10 + i, "the cat and the dog") for i in range(5)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.avg_logprob for r in unigram_logprob_scores(docs).collect()}
    assert out[0] > out[1], out
    assert out[2] == 0.0


def test_mask_pii_kinds_and_density(spark):
    from nous_spark.operators.curation import mask_pii

    rows = [
        (0, "mail me at jo.doe+x@corp.io or call +1 (555) 123-4567"),
        (1, "card 4111-1111-1111-1111 ssn 123-45-6789 host 10.0.0.7"),
        (2, "no pii here at all"),
    ]
    out = {r.doc_id: r for r in mask_pii(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert "<PII:email>" in out[0].masked and "<PII:phone>" in out[0].masked
    assert "jo.doe" not in out[0].masked
    # the leading '+' of an international number is consumed by the mask,
    # not left dangling in front of the sentinel
    assert "+<PII:phone>" not in out[0].masked
    for k in ("cc", "ssn", "ipv4"):
        assert f"<PII:{k}>" in out[1].masked, out[1].masked
    assert "4111" not in out[1].masked
    assert out[2].masked == rows[2][1] and out[2].n_pii == 0
    assert out[0].n_pii == 2 and out[1].n_pii == 3


def test_normalize_urls_and_chunking(spark):
    from pyspark.sql import functions as F

    from nous_spark.operators.curation import normalize_urls
    from nous_spark.operators.textstats import chunk_documents

    urls = [
        (0, "HTTPS://A.COM:443/P?utm_a=1&utm_b=2&id=3#frag"),
        (1, "http://b.org:80/x"),
        (2, "no-scheme/path?gclid=z&keep=1"),
        (3, "https://c.net/q?utm_only=1"),
        (4, "https://D.io:80/y"),   # NON-default port: must be preserved
        (5, "http://E.io:443/z"),   # NON-default port: must be preserved
    ]
    out = {r.doc_id: r.url_norm for r in normalize_urls(
        spark.createDataFrame(urls, ["doc_id", "url"])).collect()}
    assert out[0] == "https://a.com/P?id=3"        # case, port, utm x2, frag
    assert out[1] == "http://b.org/x"
    assert out[2] == "no-scheme/path?keep=1"       # scheme-less still filtered
    assert out[3] == "https://c.net/q"             # all params dropped -> no '?'
    assert out[4] == "https://d.io:80/y"           # :80 is not https default
    assert out[5] == "http://e.io:443/z"           # :443 is not http default

    docs = spark.createDataFrame(
        [(0, " ".join(str(i) for i in range(20))), (1, "one"), (2, "")],
        ["doc_id", "text"])
    ch = chunk_documents(docs, chunk_tokens=8, overlap=2).collect()
    by_doc = {}
    for r in ch:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 20 tokens, step 6 -> starts 0,6,12,18 -> 4 chunks, last has 2 tokens
    assert [r.n_chunk_tokens for r in sorted(by_doc[0], key=lambda r: r.chunk_id)] == [8, 8, 8, 2]
    assert by_doc[0][0].chunk.startswith("0 1 2")
    assert len(by_doc[1]) == 1 and by_doc[1][0].chunk == "one"
    assert 2 not in by_doc  # empty doc emits no chunks


def test_clean_corpus_model_quality_stage(spark):
    """min_quality_prob engages the broadcast linear classifier as an
    extra column filter: gibberish that passes lang/min-token/repetition
    is dropped, fluent text survives, and keep_reason records the stage."""
    from nous_spark.operators.curation import clean_corpus

    fluent = ("the cat is on the mat and the dog was with it for a walk"
              " in the park that day")
    gibber = ("qwertyuiopa asdfghjklzx zxcvbnmqwer poiuytrewqa"
              " lkjhgfdsamnb mnbvcxzlkjh qazwsxedcrf tgbyhnujmik"
              " olpqazwsxed crfvtgbyhnu the of is")
    docs = spark.createDataFrame(
        [(0, fluent), (1, gibber)], ["doc_id", "text"])
    plain = clean_corpus(docs, langs=("en",), min_tokens=5)
    assert {r.doc_id for r in plain.collect()} == {0, 1}
    gated = clean_corpus(
        docs, langs=("en",), min_tokens=5, min_quality_prob=0.4)
    rows = gated.collect()
    assert {r.doc_id for r in rows} == {0}, rows
    assert rows[0].keep_reason == \
        "lang+quality+repetition+model_quality+exact_keeper"


def test_encoded_triple_sink_roundtrip(spark, tmp_path):
    """write_triples_encoded must be lossless: decoding the int-encoded
    store through the dictionary recovers exactly the input triples,
    and the encoded store holds only int ids (two longs per row where
    the plain sink repeats full entity strings)."""
    from nous_spark.sources.sinks import (
        read_triples_encoded,
        write_triples_encoded,
    )

    rows = [("entity:alpha", "calls", "entity:beta", 0.9),
            ("entity:alpha", "imports", "entity:gamma", 0.8),
            ("entity:beta", "calls", "entity:alpha", 0.7),
            ("entity:gamma", "rdf:type", "Class", 1.0)]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj", "conf"])
    path = str(tmp_path / "enc")
    write_triples_encoded(t, path, salt_buckets=2)
    got = {tuple(r) for r in read_triples_encoded(spark, path)
           .select("subj", "pred", "obj", "conf").collect()}
    assert got == set(rows)
    enc = spark.read.parquet(f"{path}/triples")
    kinds = dict(enc.dtypes)
    assert kinds["subj"] == "bigint" and kinds["o"] == "bigint"
    dic = spark.read.parquet(f"{path}/dict")
    assert dic.count() == 4  # alpha, beta, gamma, Class — each once
