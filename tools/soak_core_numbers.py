"""Core-number decomposition ×1/×10 soak — the active-set constant check.

Replicates the co-purchase edge set ×N with ID-remapped clones (structure
preserved, so the H-index convergence depth is identical across factors),
runs the full decomposition at each factor (min-of-2 warm), and prints one
JSON line with walls, per-decade exponent, round counts, and the per-round
changed-frontier history — the evidence row for BASELINE.md.

Usage: python tools/soak_core_numbers.py [sf_dir] [--factors 1,10]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from streamds_spark.catalog import load_table
from streamds_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.1"
    factors = [1, 10]
    for i, a in enumerate(sys.argv):
        if a == "--factors":
            factors = [int(x) for x in sys.argv[i + 1].split(",")]
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from streamds_spark.operators.kcore import _core_numbers_with_rounds
    from streamds_spark.queries.graph import copurchase_edges

    li = load_table(spark, sf_dir, "lineitem")
    base = copurchase_edges(li).localCheckpoint(eager=True)
    n_ids = base.agg(F.max(F.greatest("u", "v"))).first()[0] + 1

    out = {"sf_dir": sf_dir, "factors": {}}
    walls = []
    for f in factors:
        edges = base
        for i in range(1, f):
            edges = edges.unionByName(
                base.select(
                    (F.col("u") + i * n_ids).alias("u"),
                    (F.col("v") + i * n_ids).alias("v"),
                )
            )
        edges = edges.localCheckpoint(eager=True)
        runs = []
        for _ in range(2):
            t0 = time.time()
            df, trace = _core_numbers_with_rounds(edges)
            n = df.count()
            runs.append(time.time() - t0)
        walls.append(min(runs))
        out["factors"][f] = {
            "wall_s": round(min(runs), 2),
            "rounds": len(trace),
            "n_nodes": n,
            "changed_history": [r.rows for r in trace],
            "round_ms": [round(r.wall_ms) for r in trace],
        }
    if len(walls) >= 2 and walls[0] > 0:
        decades = math.log10(factors[-1] / factors[0])
        out["exponent_per_decade"] = round(
            math.log10(walls[-1] / walls[0]) / decades, 2
        )
    print("RES " + json.dumps(out))


if __name__ == "__main__":
    main()
