"""Tests of the benchmark's own code: the event-log fold on a canned log,
the launcher's refusal to run without the program, a tiny-size traced
smoke run of every workload, and the store defect that keeps
``update_triple_store`` out of the benchmark.

    python -m pytest kgbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from kgbench import run, workloads
from kgbench.tracing import fold_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_fold_event_log_on_canned_log():
    with open(os.path.join(HERE, "testdata", "eventlog.jsonl")) as f:
        fold = fold_event_log(f)
    link = fold["lineage.link"]
    # stage 0 carries the group in its own properties; stage 1 submits
    # without one and is charged to its job's group
    assert link["jobs"] == 1 and link["tasks"] == 3
    assert link["task_run_s"] == pytest.approx(3.0)
    assert link["task_cpu_s"] == pytest.approx(1.75)
    assert link["gc_s"] == pytest.approx(0.1)
    assert link["shuffle_write_mb"] == pytest.approx(3.0)
    assert link["spill_mb"] == pytest.approx(1.0)
    assert link["output_mb"] == pytest.approx(3.0)
    # untagged job; the killed task has no metrics and is not counted
    assert fold[""]["jobs"] == 1 and fold[""]["tasks"] == 1
    assert fold[""]["task_run_s"] == pytest.approx(0.25)
    check = fold["lineage.link.check"]
    assert (check["jobs"], check["tasks"]) == (1, 1)
    assert check["gc_s"] == pytest.approx(0.02)


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.E2E_UNITS)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def test_launcher_refuses_without_the_program(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "construct_code", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_tiny_traced_smoke_run(workload, tmp_path, monkeypatch):
    """Both workloads at a few docs, traced: the run completes, every
    per-layer metric is computed, and the workload's layers are non-zero."""
    monkeypatch.setattr(workloads, "CODE_DOCS", 12)
    monkeypatch.setattr(workloads, "STORE_DOCS", 16)
    monkeypatch.setattr(workloads, "STORE_BUILDS", 2)
    monkeypatch.setattr(workloads, "QUERY_ROUNDS", 1)
    monkeypatch.setattr(workloads, "WARM_ROUNDS", 1)
    result = tmp_path / "result.json"
    assert workloads.main([
        "--workload", workload, "--seed", "3", "--seconds", "0",
        "--trace", "1", "--out-dir", str(tmp_path / "out"),
        "--result", str(result)]) == 0
    res = json.loads(result.read_text())
    assert res["attempted"] > 0 and res["eventlog"]
    res["fold"] = run.read_event_log(res["eventlog"])
    e2e = run.end_to_end(res)
    assert set(e2e) == set(run.E2E_UNITS) and all(v > 0 for v in e2e.values())
    m = run.per_layer(res)
    assert set(m) == set(run.PER_LAYER)
    assert res["failed"] == 0, res["errors"]
    if workload == "construct_code":
        assert m["lineage.link.jobs"] > 0 and m["lineage.extract.check_s"] > 0
        assert m["pipeline.jobs_outside_stages"] > 0
        assert m["lineage.resume_jobs"] > 0
    else:
        assert m["triple_store.build.jobs"] > 0
        assert m["triple_store.build.output_mb"] > 0
        assert m["triple_store.files"] > 0
    assert m["bgp.jobs_per_query"] > 0


@pytest.mark.xfail(strict=True, reason=(
    "update_triple_store does not patch stored triples whose label joins "
    "an alias component after they were stored (README.md, Known defect)"))
def test_update_triple_store_patches_a_label_that_joins_a_component(tmp_path):
    from nous_spark.operators.triple_store import (
        build_triple_store,
        read_triple_store,
        update_triple_store,
    )
    from nous_spark.session import get_spark

    spark = get_spark(cores=2, app_name="kgbench-store-defect")
    try:
        def triples(rows):
            return spark.createDataFrame(rows, "subj string, pred string, obj string")

        def edges(rows):
            return spark.createDataFrame(rows, "a string, b string")

        path = str(tmp_path / "store")
        build_triple_store(triples([("f", "calls", "parse_row")]),
                           edges([("x", "xy")]), path)
        update_triple_store(spark, triples([("g", "calls", "h")]),
                            edges([("parse_row", "lib.py::parse_row")]),
                            path, update_id=1)
        got = sorted(tuple(r) for r in read_triple_store(spark, path)
                     .select("subj", "pred", "obj").collect())
    finally:
        spark.stop()
    # the full recompute, rewrite_triples(union, canonical_mapping(union
    # edges)), maps parse_row to its longer alias
    assert got == [("f", "calls", "lib.py::parse_row"), ("g", "calls", "h")]
