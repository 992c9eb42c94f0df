"""Steadiness check: run the benchmark on several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) as a share
of the median, next to the bound in BENCHMARK.json.

    python3 kgbench/steady.py --workload construct_code --seeds 1-10
    python3 kgbench/steady.py --workload store_serve --seeds 1-3 --trace 1

With ``--trace 1`` each seed runs untraced, then traced; it reports the
tracing overhead (traced over untraced wall of the timed write) and, for
each count metric (jobs, tasks, files, triples, ...), whether it
repeated exactly across the runs. Runs are sequential: concurrent runs
would contend for the same cores.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


# the traced run's wall of the same write call that write_s times
TRACED_WRITE = {"construct_code": "pipeline.wall_s",
                "store_serve": "triple_store.build.wall_s"}


def run_once(bench, workload, seed, trace):
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    host = next((json.loads(line.split(" ", 2)[2]) for line in lines
                 if line.startswith("kgbench run ")), {})
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return p.returncode, host, res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    with open("BENCHMARK.json", encoding="utf-8") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs, overhead = [], []
    for seed in seeds(args.seeds):
        if args.trace:
            _, _, plain = run_once(bench, args.workload, seed, 0)
        rc, host, res = run_once(bench, args.workload, seed, args.trace)
        runs.append((seed, host, res))
        vals = ""
        if res and not args.trace:
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        elif res and plain:
            overhead.append(res["metrics"][TRACED_WRITE[args.workload]]["value"]
                            / plain["metrics"]["write_s"]["value"])
            vals = f"overhead={overhead[-1]:.3f}"
        print(f"seed={seed} rc={rc} correct={res and res['correct']} "
              f"wall={host.get('run_wall_s')} "
              f"load={host.get('loadavg_before')} {vals}", flush=True)
    ok = [r for _, _, r in runs if r]
    if len(ok) < 2:
        return 1
    for name in ok[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in ok]
        if args.trace:
            if ok[0]["metrics"][name]["unit"] == "count":
                same = len(set(vals)) == 1
                print(f"{name}: {'repeats' if same else 'VARIES'} {vals}")
            continue
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        bound = bounds.get(name)
        print(f"{name}: median={med:.4f} spread={spread:.4f} bound={bound}"
              f" {'OK' if bound is None or spread < bound / 3 else 'WIDE'}")
    if overhead:
        print(f"trace overhead ratio: median={statistics.median(overhead):.3f}"
              f" of {len(overhead)}")
    walls = [h.get("run_wall_s", 0) for _, h, _ in runs]
    print(f"run wall: median={statistics.median(walls)} max={max(walls)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
