"""Triple extraction as a Spark operator (flagship stage, SURVEY.md §3.1).

Replaces the reference's per-file CoreNLP flatMap (GraphBuilder.scala:34-57,
TripleParser.scala:339-402) with one ``mapInArrow`` pass: Arrow batches of
content blobs in, exploded triple rows out. No per-row Python, no JVM NLP
dependency, no double file read, no pandas round-trip.

Two provenance layouts:

* ``extract_triples`` (wide): every triple row carries
  (repo, path, commit, src, content_sha) — convenient for small jobs and
  the driver contract.
* ``extract_triples_normalized`` (narrow + sidecar): triples carry only a
  64-bit ``doc_id``; one ``docs`` row per file holds
  (doc_id, repo, path, commit, lang, content_sha). At 10^12-file scale the
  wide layout duplicates ~150 bytes of strings onto every one of ~70
  triples per file — normalization cuts the shuffle/write volume ~4-5×,
  which measurably improves scaling (BASELINE.md BENCH).

Scale notes:
  * sha256 is computed JVM-side (``F.sha2``) before the UDF — the invariant
    column is born at the scan, never recomputed in Python.
  * The longest-object purge (N6) runs inside the UDF per document — its
    grouping keys never span documents, so map-side purge removes an
    entire shuffle. A window variant lives in operators/filters.py.
  * Output is partition-preserving: scan → triples with zero shuffles
    before the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nous_spark.schemas import TRIPLE_SCHEMA

NARROW_TRIPLE_SCHEMA = (
    "subj string, pred string, obj string, conf double, kind string, doc_id long"
)


def with_content_sha(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Attach the per-row invariant column sha256(content), JVM-side."""
    return df.withColumn("content_sha", F.sha2(F.col(content_col), 256))


def with_doc_id(df: DataFrame) -> DataFrame:
    """Deterministic 64-bit document id from (repo, path, commit)."""
    return df.withColumn("doc_id", F.xxhash64("repo", "path", "commit"))


def _run_extraction(d: dict, fancy: bool, code_mode: bool, coref: bool = False):
    """Yield (mentions, triples, index) per document of a pydict batch."""
    from nous_spark.nlp.code_extract import extract_code_document
    from nous_spark.nlp.relations import extract_document

    n = len(d["content"])
    repos = d.get("repo", [""] * n)
    paths = d.get("path", [""] * n)
    langs = d.get("lang", [""] * n)
    for i in range(n):
        content = d["content"][i] or ""
        if code_mode:
            yield extract_code_document(
                repos[i], paths[i], (langs[i] or "").lower(), content, fancy
            ), i
        else:
            yield extract_document(content, fancy=fancy, coref=coref), i


def _wide_batches(batches, fancy: bool, code_mode: bool, coref: bool = False):
    import pyarrow as pa

    names = ["subj", "pred", "obj", "conf", "kind",
             "repo", "path", "commit", "src", "content_sha"]
    for batch in batches:
        d = batch.to_pydict()
        cols: dict[str, list] = {k: [] for k in names}
        for (mentions, triples), i in _run_extraction(d, fancy, code_mode, coref):
            repo, path = d["repo"][i], d["path"][i]
            commit, sha = d["commit"][i], d["content_sha"][i]
            src = f"{repo}/{path}" if repo or path else ""
            for tag, phrase in mentions:
                cols["subj"].append(phrase)
                cols["pred"].append("rdf:type")
                cols["obj"].append(tag)
                cols["conf"].append(1.0)
                cols["kind"].append("type")
                cols["repo"].append(repo)
                cols["path"].append(path)
                cols["commit"].append(commit)
                cols["src"].append(src)
                cols["content_sha"].append(sha)
            for t in triples:
                cols["subj"].append(t.subj)
                cols["pred"].append(t.pred)
                cols["obj"].append(t.obj)
                cols["conf"].append(t.conf)
                cols["kind"].append("rel")
                cols["repo"].append(repo)
                cols["path"].append(path)
                cols["commit"].append(commit)
                cols["src"].append(src)
                cols["content_sha"].append(sha)
        yield pa.RecordBatch.from_pydict(
            cols, schema=pa.schema(
                [(n2, pa.float64() if n2 == "conf" else pa.string())
                 for n2 in names]
            )
        )


def _narrow_batches(batches, fancy: bool, code_mode: bool, coref: bool = False):
    import pyarrow as pa

    for batch in batches:
        d = batch.to_pydict()
        subj: list = []
        pred: list = []
        obj: list = []
        conf: list = []
        kind: list = []
        did: list = []
        for (mentions, triples), i in _run_extraction(d, fancy, code_mode, coref):
            docid = d["doc_id"][i]
            for tag, phrase in mentions:
                subj.append(phrase)
                pred.append("rdf:type")
                obj.append(tag)
                conf.append(1.0)
                kind.append("type")
                did.append(docid)
            for t in triples:
                subj.append(t.subj)
                pred.append(t.pred)
                obj.append(t.obj)
                conf.append(t.conf)
                kind.append("rel")
                did.append(docid)
        yield pa.RecordBatch.from_pydict(
            {"subj": subj, "pred": pred, "obj": obj, "conf": conf,
             "kind": kind, "doc_id": did},
            schema=pa.schema([
                ("subj", pa.string()), ("pred", pa.string()),
                ("obj", pa.string()), ("conf", pa.float64()),
                ("kind", pa.string()), ("doc_id", pa.int64()),
            ]),
        )


def _apply_lang_filter(df: DataFrame, lang_filter) -> DataFrame:
    if lang_filter is None:
        return df
    langs = [lang_filter] if isinstance(lang_filter, str) else list(lang_filter)
    return df.filter(F.col("lang").isin(langs))


def extract_triples(
    source: DataFrame,
    fancy: bool = False,
    code_mode: bool = True,
    lang_filter: str | list[str] | None = None,
    coref: bool = False,
) -> DataFrame:
    """source(repo,path,commit,lang,content[,content_sha]) → wide triples DF.

    ``lang_filter`` applies the S6 language filter declaratively (pushed to
    the parquet scan by Catalyst).

    The source is spread to cluster parallelism before the Python stage
    when it arrives as fewer scan partitions than cores (dedup._spread —
    a compacted corpus increment lands as one file, and the whole
    extraction then runs in ONE task; measured 7.4 s -> 0.6 s on a 50k-doc
    single-file input at local[32]). A web-scale input with >= parallelism
    files passes through untouched.
    """
    from nous_spark.operators.dedup import _spread

    df = _spread(_apply_lang_filter(source, lang_filter))
    if "content_sha" not in df.columns:
        df = with_content_sha(df)
    for c in ("repo", "path", "commit"):
        if c not in df.columns:
            df = df.withColumn(c, F.lit(""))
    return df.mapInArrow(
        lambda it: _wide_batches(it, fancy, code_mode, coref), schema=TRIPLE_SCHEMA
    )


def extract_triples_normalized(
    source: DataFrame,
    fancy: bool = False,
    code_mode: bool = True,
    lang_filter: str | list[str] | None = None,
    coref: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Normalized-provenance extraction: returns (triples, docs).

    triples(subj, pred, obj, conf, kind, doc_id);
    docs(doc_id, repo, path, commit, lang, content_sha) — one row per file,
    carrying the sha256 invariant.
    """
    from nous_spark.operators.dedup import _spread

    df = _spread(_apply_lang_filter(source, lang_filter))
    if "content_sha" not in df.columns:
        df = with_content_sha(df)
    if "doc_id" not in df.columns:
        df = with_doc_id(df)
    docs = df.select("doc_id", "repo", "path", "commit", "lang", "content_sha")
    triples = df.mapInArrow(
        lambda it: _narrow_batches(it, fancy, code_mode, coref),
        schema=NARROW_TRIPLE_SCHEMA,
    )
    return triples, docs
