#!/usr/bin/env python
"""Rounds-vs-diameter table for G8 connected components (VERDICT r5 #7).

Measures the executed round count of the large-star/small-star CC on
label-scrambled paths of increasing diameter (the worst case for
min-propagation algorithms) plus a star and a 2-level tree control (the
shape the real alias-graph gates have). Writes BENCH_cc_rounds.json with
rounds + wall per shape; the 100 TB claim is that rounds grows like
log2(diameter), not diameter.

Usage: python scripts/cc_rounds_probe.py  (from /root/repo, idle host)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from nous_spark.operators import graph
    from nous_spark.operators.graph import connected_components
    from nous_spark.session import get_spark

    # no input fits a cap of -1: every shape runs the distributed
    # star/star loop, the one whose rounds this probe counts
    graph.DRIVER_EDGE_CAP = -1

    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
                      app_name="cc_rounds_probe")
    results = []

    def run(name, edges, n_expect, diameter):
        df = spark.createDataFrame(edges, ["src", "dst"])
        stats: dict = {}
        t0 = time.monotonic()
        comp = connected_components(df, max_iter=40, stats=stats)
        rows = comp.collect()
        wall = round(time.monotonic() - t0, 2)
        n_comp = len({r.component for r in rows})
        results.append({
            "shape": name, "n_vertices": len(rows), "diameter": diameter,
            "rounds": stats["rounds"], "wall_sec": wall,
            "n_components": n_comp,
            "log2_diameter": round(math.log2(max(diameter, 1)), 1),
        })
        assert len(rows) == n_expect and n_comp == 1, (name, len(rows), n_comp)
        print(f"CCROUNDS {name}: n={n_expect} diam={diameter} "
              f"rounds={stats['rounds']} wall={wall}s")

    # scrambled-label paths: the min id lands mid-chain, maximizing
    # propagation distance (bijective odd-multiplier scramble)
    for k in (4, 6, 8, 10, 12):
        n = 1 << k
        perm = lambda i, n=n: (i * 2654435761) % n
        run(f"path_2^{k}", [(perm(i), perm(i + 1)) for i in range(n - 1)],
            n, n - 1)
    # star: the real gate-graph shape (alias clusters) — should stay ~2
    n = 4096
    run("star_4096", [(0, i) for i in range(1, n)], n, 2)
    # 2-level tree: 64 hubs x 63 leaves
    edges = [(0, h) for h in range(1, 65)]
    edges += [(h, 65 + (h - 1) * 63 + j) for h in range(1, 65) for j in range(63)]
    run("tree_2lvl_4097", edges, 65 + 64 * 63, 4)

    out = {"metric": "cc_rounds_vs_diameter", "algorithm":
           "large-star/small-star (Kiveris et al. SoCC'14)",
           "results": results}
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH_cc_rounds.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("CCROUNDS_JSON " + json.dumps(out))


if __name__ == "__main__":
    main()
