"""Knowledge-graph benchmark: one command per workload.

    python3 kgbench/run.py --workload construct_code --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The launcher sizes the Spark session to
the host (``SPARK_GRAFT_CPUS`` = usable cores, ``NOUS_DRIVER_MEM`` = a quarter
of MemTotal clamped to 1-6 GiB), gives the run a fresh scratch directory
under ``.kgbench_run/`` for Spark's local dirs, temp files and outputs, and
starts the workload in a child process (``workloads.py``) so every run gets
a fresh JVM. The scratch directory is removed afterwards and every process
the run started is waited for.

With ``--trace 0`` the last stdout line is the JSON result with the
end-to-end metrics. With ``--trace 1`` the run is traced instead: its spans
and Spark event log give the per-layer metrics. The line before the result,
``kgbench run {...}``, records the host (cores, MemTotal, heap, loadavg
before and after) and the run's wall time. A failed correctness check makes
``correct`` false and counts in ``failed``; the metrics are still reported.

The exit code is not 0, and no result is printed, when the program is not
there to run or the child ends without a complete measurement.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from kgbench.tracing import (  # noqa: E402
    FOLD_KEYS,
    STAGES,
    read_event_log,
    span_count,
    span_wall,
    sum_groups,
)
from kgbench.workloads import QUERIES, WORKLOADS  # noqa: E402

RUN_DEADLINE_S = 165          # the child's limit; a run stays under 3 minutes

E2E_UNITS = {"setup_s": "s", "write_s": "s", "query_ms": "ms"}

_STAGE_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count",
                "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s",
                "shuffle_write_mb": "MB", "spill_mb": "MB", "output_mb": "MB",
                "core_util": "ratio", "check_s": "s"}

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "corpus.gen_s": "s",
    "corpus.docs": "count",
    "corpus.mb": "MB",
    "pipeline.wall_s": "s",
    "pipeline.docs_per_s": "docs/s",
    "pipeline.triples_out": "count",
    "pipeline.jobs_total": "count",
    "pipeline.self_s": "s",
    "pipeline.jobs_outside_stages": "count",
    **{f"lineage.{st}.{k}": u for st in STAGES for k, u in _STAGE_UNITS.items()},
    "lineage.resume_s": "s",
    "lineage.resume_jobs": "count",
    "extraction.triples_per_doc": "ratio",
    "extraction.docs_per_task_s": "docs/s",
    "linking.mentions": "count",
    "linking.resolved_ratio": "ratio",
    "canonicalize.labels": "count",
    "canonicalize.merged_ratio": "ratio",
    "triple_store.build.wall_s": "s",
    "triple_store.build.jobs": "count",
    "triple_store.build.tasks": "count",
    "triple_store.build.task_run_s": "s",
    "triple_store.build.shuffle_write_mb": "MB",
    "triple_store.build.output_mb": "MB",
    "triple_store.files": "count",
    "bgp.plan_ms": "ms",
    "bgp.exec_ms": "ms",
    "bgp.jobs_per_query": "count",
    **{f"bgp.{q}.p50_ms": "ms" for q in QUERIES},
}


# ------------------------------------------------------------------ host

def host_facts() -> dict:
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    cores = len(os.sched_getaffinity(0))
    # the Python workers (one per core) and the page cache need the rest
    heap_mb = max(1024, min(6144, mem_kb // 1024 // 4))
    return {"nproc": cores, "mem_total_mb": mem_kb // 1024, "heap_mb": heap_mb}


def loadavg() -> float:
    with open("/proc/loadavg", encoding="ascii") as f:
        return float(f.read().split()[0])


# ------------------------------------------------------------- children

def _wait_group(pgid: int, timeout: float) -> None:
    """SIGKILL whatever is left of the child's process group (the Spark
    JVM is in it) and wait until the group is gone."""
    end = time.monotonic() + timeout
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    while time.monotonic() < end:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_child(root: str, env: dict, args, run_dir: str) -> dict | None:
    """Run ``workloads.py`` in its own process group; return its result,
    or None when it did not finish in time or wrote no result."""
    out_dir = os.path.join(run_dir, "out")
    result = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "child.log")
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out-dir", out_dir, "--result", result]
    with open(log, "w", encoding="utf-8") as lf:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=lf,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=RUN_DEADLINE_S)
        except subprocess.TimeoutExpired:
            print("kgbench: the run passed its deadline", file=sys.stderr)
        finally:
            _wait_group(proc.pid, 15.0)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log, encoding="utf-8", errors="replace") as lf:
            sys.stderr.write(lf.read()[-4000:])
        return None
    with open(result, encoding="utf-8") as f:
        res = json.load(f)
    if res.get("errors"):
        sys.stderr.write("\n".join(res["errors"])[-4000:] + "\n")
    if res.get("eventlog"):
        res["fold"] = read_event_log(res["eventlog"])
    return res


# --------------------------------------------------------------- metrics

def query_medians(lat) -> dict[str, float]:
    """Median latency (plan + collect) of each query of the mix."""
    return {q: statistics.median(p + e for n, p, e in lat if n == q)
            for q in QUERIES}


def end_to_end(res: dict) -> dict[str, float]:
    # the mix's latencies are far apart, so a median over all samples
    # jumps between query kinds; the mean of per-query medians does not
    return {
        "setup_s": res["setup_s"],
        "write_s": res["write"],
        "query_ms": statistics.mean(query_medians(res["query"]).values()),
    }


def per_layer(res: dict) -> dict[str, float]:
    """Per-layer metrics from a traced child's spans and folded event log.
    A layer the workload does not run reports 0."""
    spans, fold, info = res["spans"], res["fold"], res["info"]
    cores = res["cores"]
    m = dict.fromkeys(PER_LAYER, 0.0)
    for k in ("session.start_s", "session.jvm_peak_rss_mb", "corpus.gen_s",
              "corpus.docs", "corpus.mb", "pipeline.triples_out",
              "extraction.triples_per_doc", "linking.mentions",
              "linking.resolved_ratio", "canonicalize.labels",
              "canonicalize.merged_ratio", "triple_store.files"):
        m[k] = info.get(k, 0.0)

    if span_count(spans, "pipeline"):
        wall = span_wall(spans, "pipeline")
        stage_wall = 0.0
        stage_jobs = 0.0
        for st in STAGES:
            g = sum_groups(fold, [f"lineage.{st}", f"lineage.{st}.check"])
            w = span_wall(spans, f"lineage.{st}")
            stage_wall += w
            stage_jobs += g["jobs"]
            for k in FOLD_KEYS:
                m[f"lineage.{st}.{k}"] = g[k]
            m[f"lineage.{st}.wall_s"] = w
            m[f"lineage.{st}.check_s"] = span_wall(spans, f"lineage.{st}.check")
            m[f"lineage.{st}.core_util"] = (
                g["task_run_s"] / (w * cores) if w else 0.0)
        outside = fold.get("pipeline", {}).get("jobs", 0.0)
        m["pipeline.wall_s"] = wall
        m["pipeline.docs_per_s"] = info["corpus.docs"] / wall
        m["pipeline.self_s"] = wall - stage_wall
        m["pipeline.jobs_outside_stages"] = outside
        m["pipeline.jobs_total"] = outside + stage_jobs
        m["lineage.resume_s"] = span_wall(spans, "lineage.resume")
        m["lineage.resume_jobs"] = fold.get("lineage.resume", {}).get("jobs", 0)
        run_s = m["lineage.extract.task_run_s"]
        m["extraction.docs_per_task_s"] = (
            info["corpus.docs"] / run_s if run_s else 0.0)

    n_builds = span_count(spans, "triple_store.build")
    if n_builds:
        # per build: the workload times several builds of the same store
        g = fold.get("triple_store.build", dict.fromkeys(FOLD_KEYS, 0.0))
        m["triple_store.build.wall_s"] = (
            span_wall(spans, "triple_store.build") / n_builds)
        for k in ("jobs", "tasks", "task_run_s", "shuffle_write_mb",
                  "output_mb"):
            m[f"triple_store.build.{k}"] = g[k] / n_builds

    lat = res["query"]
    if lat:
        m["bgp.plan_ms"] = statistics.median(p for _, p, _ in lat)
        m["bgp.exec_ms"] = statistics.median(e for _, _, e in lat)
        bgp_jobs = sum(g["jobs"] for name, g in fold.items()
                       if name.startswith("bgp."))
        m["bgp.jobs_per_query"] = bgp_jobs / len(lat)
        for q, v in query_medians(lat).items():
            m[f"bgp.{q}.p50_ms"] = v
    return m


# ------------------------------------------------------------------ main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated launcher still kills the child's process group and
    # removes the run directory (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "nous_spark", "__init__.py")):
        print("kgbench: no nous_spark package in the current directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2

    t0 = time.monotonic()
    host = host_facts()
    host["loadavg_before"] = loadavg()
    run_dir = os.path.join(root, ".kgbench_run",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "NOUS_DRIVER_MEM": f"{host['heap_mb']}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })
    try:
        for d in ("local", "tmp"):
            os.makedirs(os.path.join(run_dir, d))
        res = run_child(root, env, args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    host["loadavg_after"] = loadavg()
    host["run_wall_s"] = round(time.monotonic() - t0, 1)
    print("kgbench run " + json.dumps(host))
    if res is None or "write" not in res or not res.get("query") or (
            args.trace and res.get("fold") is None):
        print("kgbench: the run ended without a complete measurement",
              file=sys.stderr)
        return 1
    if args.trace:
        values, units = per_layer(res), PER_LAYER
    else:
        values, units = end_to_end(res), E2E_UNITS
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
