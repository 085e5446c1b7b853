"""Benchmark entry point. Run from the repo root:

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 10 --trace 0

Prints progress and a run stamp on earlier lines, and as the LAST line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones, and
the traced run also writes its spans to perfbench/_work/trace-*.jsonl.
Workloads, metrics and the layer each metric belongs to: perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("serve_mix", "rainstorm_stream")

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

# Per-layer metrics. A workload that does not pass through a layer reports
# that layer's metrics as 0 (see NOTES.md for which workload fills which).
LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.register_views_s": "s",
    "server.handle_p50_ms": "ms",
    "server.overhead_p50_ms": "ms",
    "server.rejected_busy": "count",
    "server.errors": "count",
    "plan.build_ms": "ms",
    "plan.catalyst_ms": "ms",
    "plan.exchanges": "count",
    "graph.core_decomposition_ms": "ms",
    "graph.neighborhood_function_ms": "ms",
    "graph.link_prediction_ms": "ms",
    "graph.jobs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_busy_ms": "ms",
    "exec.driver_gap_ms": "ms",
    "exec.ms_per_job": "ms",
    "exec.failed_tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.slot_util": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.gc_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes",
    "stream.state_commit_ms": "ms",
    "stream.state_partitions": "count",
    "appendlog.append_batch_ms": "ms",
    "appendlog.files_per_batch": "count",
    "appendlog.bytes_per_batch": "bytes",
    "appendlog.read_ordered_ms": "ms",
    "trace.overhead_ms": "ms",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke tests only")
    args = ap.parse_args(argv)

    common.check_checkout()
    common.prepare_env()
    stamp = common.run_stamp()
    print(json.dumps({"stamp": stamp, "workload": args.workload, "seed": args.seed}),
          flush=True)

    if args.workload == "serve_mix":
        import serve_mix as mod
    else:
        import rainstorm_stream as mod
    t0 = time.perf_counter()
    try:
        res = mod.run(args.seed, args.seconds, bool(args.trace), args.size)
    finally:
        if "pyspark" in sys.modules:
            common.stop_jvm()
    print(json.dumps({"info": res["info"], "run_s": time.perf_counter() - t0}), flush=True)

    if args.trace:
        res["tracer"].write(os.path.join(
            common.WORK, f"trace-{args.workload}-{args.seed}.jsonl"))
        values = {k: float(res["layers"].get(k, 0.0)) for k in LAYER_UNITS}
        units = LAYER_UNITS
    else:
        values = {k: float(v) for k, v in res["e2e"].items()}
        units = E2E_UNITS
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
