"""One benchmark run in a fresh Spark session (the child process that
``run.py`` starts).

Usage (normally through run.py, which sets the host-fit environment):

    PYTHONPATH=. python kgbench/workloads.py --workload construct_code --seed 1 \
        --seconds 10 --trace 0 --out-dir <scratch dir> --result <file.json>

Workloads (see README.md for why each was chosen):

- ``construct_code``: one ``run_pipeline(link=True)`` over a seeded
  mixed-language corpus into a fresh root, then a closed-loop client runs
  the query mix over the materialized table until ``--seconds`` have passed.
- ``store_serve``: the triple store over a seeded code corpus extracted
  during set-up: time ``build_triple_store`` (warm: set-up builds the same
  store once elsewhere), then a closed-loop client runs the query mix
  through ``match_pattern_store``/``match_path_store`` until ``--seconds``
  have passed. ``update_triple_store`` is left out: on code-corpus
  increments its view differs from the full recompute (README.md "Known
  defect"), so no run of it could be checked correct.

End-to-end metrics are measured with tracing off. With ``--trace 1`` the
same run is traced (spans, job groups and Spark's event log) and the
per-layer metrics are reported instead.
"""

from __future__ import annotations

import argparse
import collections
import glob
import json
import os
import statistics
import sys
import time
import traceback

from kgbench.tracing import STAGES, Tracer, instrument

# sizes: fixed cost dominates every Spark call at these sizes, so larger
# inputs mostly add run time, not signal (README.md "Sizing")
CODE_DOCS = 120
STORE_DOCS = 320
STORE_BUILDS = 3              # timed store builds; write_s is their median
QUERY_ROUNDS = 8              # query-mix rounds after the timed write, at least
# untimed query-mix rounds in the warm-up: a round's latency falls by about
# a third over the first few rounds in a JVM
WARM_ROUNDS = 3

QUERIES = ("calls", "def_calls", "imports_filter", "calls_path")
TRIPLE_COLS = ["subj", "pred", "obj", "conf", "kind", "doc_id"]

WORKLOADS = ("construct_code", "store_serve")


class Run:
    """Counts attempted and failed operations; the first failure ends the
    workload (a dead JVM would fail everything after it)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, fn, *args, **kwargs):
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=6))
            raise

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"correctness check failed: {name}")


# ----------------------------------------------------------------- queries

def _pattern_mix():
    return {
        "calls": ([("?f", "calls", "?g")], None),
        "def_calls": ([("?m", "defines_function", "?f"),
                       ("?f", "calls", "?g")], None),
        "imports_filter": ([("?f", "imports", "?m")], ["m > 'l'"]),
    }


def table_query(view, name):
    from nous_spark.operators.bgp import match_path, match_pattern

    if name == "calls_path":
        return match_path(view, "calls", 1, 3)
    pats, filters = _pattern_mix()[name]
    return match_pattern(view, pats, filters=filters)


def store_query(spark, path, name):
    from nous_spark.operators.bgp import match_path_store, match_pattern_store

    if name == "calls_path":
        return match_path_store(spark, path, "calls", 1, 3)
    pats, filters = _pattern_mix()[name]
    return match_pattern_store(spark, path, pats, filters=filters)


def run_queries(run, tracer, plan_fn, lat, results):
    """One closed-loop round of the query mix: each query is planned
    (the entry-point call) and collected before the next is sent."""
    for name in QUERIES:
        with tracer.span(f"bgp.{name}"):
            t0 = time.perf_counter()
            with tracer.span(f"bgp.{name}.plan"):
                df = run.op(plan_fn, name)
            t1 = time.perf_counter()
            with tracer.span(f"bgp.{name}.exec"):
                rows = run.op(df.collect)
            t2 = time.perf_counter()
        lat.append((name, (t1 - t0) * 1e3, (t2 - t1) * 1e3))
        results[name] = sorted(tuple(r) for r in rows)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------------------- construct

def _counter(df, cols):
    return collections.Counter(tuple(r) for r in df.select(cols).collect())


def construct_code(spark, run, tracer, seed, seconds, out, info):
    from pyspark.sql import functions as F

    from nous_spark.corpus import generate_corpus
    from nous_spark.operators.canonicalize import canonicalize
    from nous_spark.operators.extraction import extract_triples_normalized
    from nous_spark.plans.lineage import StateStore
    from nous_spark.plans.pipeline import run_pipeline
    from nous_spark.schemas import SOURCE_SCHEMA

    t0 = time.perf_counter()
    pdf = generate_corpus(CODE_DOCS, seed)
    spark.createDataFrame(pdf, schema=SOURCE_SCHEMA).write.parquet(f"{out}/source")
    src = spark.read.parquet(f"{out}/source")
    info["corpus.gen_s"] = time.perf_counter() - t0
    info["corpus.docs"] = len(pdf)
    info["corpus.mb"] = pdf["content"].str.len().sum() / 1024.0 / 1024.0

    # warm-up, untimed: the one-shot oracle over the same corpus (the
    # pipeline's extraction and canonicalization in one pass) and the
    # query mix over it, kept for the checks; then a few more rounds of
    # the mix
    triples, docs = extract_triples_normalized(src)
    canon, _ = canonicalize(triples, docs=docs)
    run.op(canon.select(TRIPLE_COLS).write.parquet, f"{out}/oracle")
    oracle = spark.read.parquet(f"{out}/oracle")
    want = {q: run.op(_rows, table_query(oracle, q)) for q in QUERIES}
    for _ in range(WARM_ROUNDS):
        run_queries(run, tracer, lambda q: table_query(oracle, q), [], {})
    setup_end = time.perf_counter()
    tracer.start()

    # one pipeline call a run: a second call in the same JVM is warmer
    # than the first, so a varying number of calls would split write_s
    root = f"{out}/construct"
    t_start = time.perf_counter()
    with tracer.span("pipeline"):
        final = run.op(run_pipeline, spark, src, root, n_batches=1, link=True)
    write_s = time.perf_counter() - t_start
    view = spark.read.parquet(f"{root}/state/materialize/batch=0")
    lat, got = [], {}
    rounds = 0
    while rounds < QUERY_ROUNDS or time.perf_counter() - t_start < seconds:
        run_queries(run, tracer, lambda q: table_query(view, q), lat, got)
        rounds += 1

    if tracer.enabled:
        with tracer.span("lineage.resume", leaf=True):
            run.op(run_pipeline, spark, src, root, n_batches=1, link=True)
        with tracer.span("post"):
            info.update(_construct_layer_facts(spark, root, len(pdf)))

    # correctness, outside timing
    lin = StateStore(spark, root).lineage()
    run.check("every lineage row is sha_ok",
              lin.filter(~F.col("sha_ok")).count() == 0)
    pairs = {(r.stage, r.batch_id) for r in
             lin.select("stage", "batch_id").distinct().collect()}
    run.check("every (stage, batch) pair has lineage",
              pairs == {(st, 0) for st in STAGES})
    final_rows = _counter(final, TRIPLE_COLS)
    run.check("final triples == one-shot canonicalize(extract)",
              final_rows == _counter(oracle, TRIPLE_COLS))
    for q in QUERIES:
        run.check(f"{q} rows == rows over the oracle", got[q] == want[q])
    info["pipeline.triples_out"] = sum(final_rows.values())
    return {"setup_end": setup_end, "write": write_s, "query": lat}


def _construct_layer_facts(spark, root, n_docs):
    from pyspark.sql import functions as F

    ext = spark.read.parquet(f"{root}/state/extract/batch=0").count()
    link = spark.read.parquet(f"{root}/state/link/batch=0")
    n_links = link.count()
    resolved = link.filter(~F.col("entity_label").startswith("nous: ")).count()
    cmap = spark.read.parquet(f"{root}/state/canonical_map")
    labels = cmap.count()
    merged = cmap.filter(F.col("label") != F.col("canonical_label")).count()
    return {
        "extraction.triples_per_doc": ext / n_docs,
        "linking.mentions": n_links,
        "linking.resolved_ratio": resolved / n_links if n_links else 0.0,
        "canonicalize.labels": labels,
        "canonicalize.merged_ratio": merged / labels if labels else 0.0,
    }


# ----------------------------------------------------------------- store

def _extract_store_inputs(spark, pdf, path):
    """Extract every doc once and keep its triples and its code alias
    edges (``alias_edges_from_code``: callee short names resolved within
    their repo), the inputs the store is built from."""
    from nous_spark.operators.canonicalize import alias_edges_from_code
    from nous_spark.operators.extraction import extract_triples_normalized
    from nous_spark.schemas import SOURCE_SCHEMA

    src = spark.createDataFrame(pdf, schema=SOURCE_SCHEMA)
    triples, docs = extract_triples_normalized(src)
    # written once, so that the edges below do not run the extraction again
    triples.write.parquet(f"{path}/extracted")
    triples = spark.read.parquet(f"{path}/extracted")
    triples.select("subj", "pred", "obj").write.parquet(f"{path}/triples")
    alias_edges_from_code(triples, docs).write.parquet(f"{path}/edges")


def store_serve(spark, run, tracer, seed, seconds, out, info):
    from nous_spark.corpus import generate_corpus
    from nous_spark.operators.canonicalize import (
        canonical_mapping,
        rewrite_triples,
    )
    from nous_spark.operators.triple_store import (
        build_triple_store,
        read_triple_store,
    )

    t0 = time.perf_counter()
    pdf = generate_corpus(STORE_DOCS, seed)
    inputs = f"{out}/inputs"
    run.op(_extract_store_inputs, spark, pdf, inputs)
    info["corpus.gen_s"] = time.perf_counter() - t0
    info["corpus.docs"] = len(pdf)
    info["corpus.mb"] = pdf["content"].str.len().sum() / 1024.0 / 1024.0

    def store_inputs():
        return (spark.read.parquet(f"{inputs}/triples"),
                spark.read.parquet(f"{inputs}/edges"))

    # warm-up, untimed: the full-recompute oracle (the kg_triple_store
    # gate's shape) and the query mix over it, both kept for the checks,
    # then a build of the same store elsewhere and a few rounds of the mix
    # over it, so that the timed calls run plans the JVM has already run
    triples, edges = store_inputs()
    run.op(rewrite_triples(triples, canonical_mapping(edges)).write.parquet,
           f"{out}/oracle")
    oracle = spark.read.parquet(f"{out}/oracle")
    want = {q: run.op(_rows, table_query(oracle, q)) for q in QUERIES}
    run.op(build_triple_store, *store_inputs(), f"{out}/warm")
    for _ in range(WARM_ROUNDS):
        run_queries(run, tracer,
                    lambda q: store_query(spark, f"{out}/warm", q), [], {})
    setup_end = time.perf_counter()
    tracer.start()

    # one build is a few seconds of mostly per-job cost, so write_s is the
    # median of several, each into a fresh path; the last one is served
    builds = []
    t_start = time.perf_counter()
    for i in range(STORE_BUILDS):
        path = f"{out}/store{i}"
        t1 = time.perf_counter()
        with tracer.span("triple_store.build"):
            run.op(build_triple_store, *store_inputs(), path)
        builds.append(time.perf_counter() - t1)
    write_s = statistics.median(builds)
    lat, got = [], {}
    rounds = 0
    while rounds < QUERY_ROUNDS or time.perf_counter() - t_start < seconds:
        run_queries(run, tracer, lambda q: store_query(spark, path, q),
                    lat, got)
        rounds += 1
    info["triple_store.files"] = len(
        glob.glob(f"{path}/triples/**/*.parquet", recursive=True))

    # correctness, outside timing: the store's view against the full
    # recompute, and the last round's query results against the same
    # queries over it
    cols = ["subj", "pred", "obj"]
    view = _counter(read_triple_store(spark, path), cols)
    run.check("store view == rewrite(triples, canonical_mapping(edges))",
              view == _counter(oracle, cols))
    for q in QUERIES:
        run.check(f"{q} rows == rows over the oracle", got[q] == want[q])
    info["pipeline.triples_out"] = sum(view.values())
    return {"setup_end": setup_end, "write": write_s, "query": lat}


# ----------------------------------------------------------------- main

def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args(argv)

    out = os.path.abspath(a.out_dir)
    extra = {}
    if a.trace:
        os.makedirs(f"{out}/eventlog", exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{out}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    # -XX:-UsePerfData: the JVM would otherwise keep a file under /tmp,
    # outside the run directory
    extra["spark.driver.extraJavaOptions"] = (
        f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={out}/tmp")
    os.makedirs(f"{out}/tmp", exist_ok=True)

    run = Run()
    info: dict[str, float] = {}
    res: dict = {"attempted": 0, "failed": 0, "errors": []}
    t_setup = time.perf_counter()
    spark, cores = None, 0
    try:
        from nous_spark.session import get_spark

        spark = run.op(get_spark, app_name=f"kgbench-{a.workload}",
                       extra_conf=extra)
        info["session.start_s"] = time.perf_counter() - t_setup
        cores = spark.sparkContext.defaultParallelism
        tracer = Tracer(spark.sparkContext, enabled=bool(a.trace))
        undo = instrument(tracer) if a.trace else (lambda: None)
        fn = construct_code if a.workload == "construct_code" else store_serve
        try:
            got = fn(spark, run, tracer, a.seed, a.seconds, out, info)
        finally:
            undo()
        res["setup_s"] = got["setup_end"] - t_setup
        res["write"] = got["write"]
        res["query"] = got["query"]
        res["spans"] = tracer.spans
        info["session.jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
    except Exception:
        if not run.errors:
            run.errors.append(traceback.format_exc(limit=6))
    finally:
        if spark is not None:
            try:
                spark.stop()
            except Exception:
                run.errors.append(traceback.format_exc(limit=3))
    res.update(attempted=run.attempted, failed=run.failed, errors=run.errors,
               info=info, cores=cores)
    if a.trace:
        logs = [p for p in glob.glob(f"{out}/eventlog/*")
                if not p.endswith(".inprogress")]
        res["eventlog"] = logs[0] if len(logs) == 1 else None
    with open(a.result, "w", encoding="utf-8") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
