"""Optimization measurement harness, labelled by round.

For each named registry query (default: the bench HEADLINE set):
  * dump .explain("formatted") to plans/<round>/<name>_<tag>.txt
  * time count() min-of-N (the bench methodology) and the noop sink
    min-of-N (guide §1.4 — materializes every column, so plan-shape
    changes can't hide behind count()'s column pruning).

Usage: python tools/measure.py --round r12 [--tag before|after] [--sf-dir D] [names...]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streamds_spark.registry import load_all
from streamds_spark.session import get_spark

HEADLINE = [
    "flagship_filter_group_count",
    "grep_count",
    "wordcount",
    "group_count_users",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_rank_orders",
    "agg_stats_lineitem",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "text_quality_score",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", required=True, help="round label, e.g. r12")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    names = args.names or HEADLINE
    specs = load_all()
    spark = get_spark(f"{args.round}-measure")
    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.round)
    os.makedirs(plans_dir, exist_ok=True)

    # warm-up (bench parity)
    spark.range(1).count()
    specs["distinct_values"].fn(spark, args.sf_dir).count()
    specs["topk_parts"].fn(spark, args.sf_dir).count()

    results = {}
    for name in names:
        spec = specs[name]
        df = spec.fn(spark, args.sf_dir)
        if not args.no_plans:
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(buf.getvalue())
        counts, noops = [], []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"{args.round}[{args.tag}] {name} count")
            t0 = time.time()
            spec.fn(spark, args.sf_dir).count()
            counts.append(time.time() - t0)
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"{args.round}[{args.tag}] {name} noop")
            t0 = time.time()
            spec.fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            noops.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        results[name] = (min(counts), min(noops))
        print(f"{name:40s} count={min(counts):6.3f}  noop={min(noops):6.3f}", flush=True)

    total = sum(c for c, _ in results.values())
    print(f"{'TOTAL(count)':40s} {total:6.3f}")


if __name__ == "__main__":
    main()
