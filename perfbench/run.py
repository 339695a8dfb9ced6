"""Benchmark of the multi-tenant pipeline, one workload per run.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the engine's public calls are wrapped in spans and the
metrics are the per-layer ones. Lines before it give the host noise
readings, the correctness checks, and (traced) each per-layer metric with
the end-to-end metric it should move plus the traced run's own
end-to-end numbers. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

ENGINE = "aws_saas_factory_multi_tenant_data_pipeline_spark"
WORKLOADS = ("stream_ingest", "analytics")

#: end-to-end metrics; every workload reports each of them
E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "ops_per_s": "1/s",
    "cpu_ms_per_op": "ms",
}

CORPUS_QUERIES = (
    "agg_pricing_summary",
    "join_star_multiway",
    "win_topk_per_group",
    "stream_session_30m",
    "dedup_minhash_lsh",
    "graph_pagerank",
    "dedup_semantic",
    "text_bm25_rank",
)

_S, _A = "stream_ingest", "analytics"
#: the tenant SQL phase runs after stream_ingest's measured window
_Q = f"none end-to-end: tenant SQL phase of {_S}, after its window"
_CORPUS_MOVES = f"ops_per_s, cpu_ms_per_op on {_A}; no move on {_S}"

#: per-layer metrics: name -> (unit, the end-to-end metric it should move)
LAYERS: dict[str, tuple[str, str]] = {
    "tenancy.authorize_us_p50": ("us", f"latency_p50_s on {_S}; no move on {_A}"),
    "tenancy.jwks_fetches": ("count", f"latency_p90_s on {_S} (a refetch stalls a request)"),
    "sources.latest_offset_ms_p50": ("ms", f"latency_p50_s on {_S}"),
    "sources.get_batch_ms_p50": ("ms", f"latency_p50_s on {_S}"),
    "streaming.batch_ms_p50": ("ms", f"latency_p50_s on {_S}"),
    "streaming.batch_ms_p90": ("ms", f"latency_p90_s on {_S}"),
    "streaming.add_batch_ms_p50": ("ms", f"latency_p50_s on {_S}"),
    "streaming.events_per_batch_p50": ("count", f"ops_per_s on {_S}"),
    "streaming.batches": ("count", f"latency_p50_s on {_S} (more, shorter batches)"),
    "streaming.backlog_events_end": ("count", f"latency_p90_s on {_S} (must not grow)"),
    "streaming.generator_lag_ms_p99": ("ms", f"none: generator health on {_S}"),
    "streaming.quarantine_probe_ms_p50": ("ms", f"latency_p50_s, cpu_ms_per_op on {_S}"),
    "ingest.ingest_batch_ms_p50": ("ms", f"latency_p50_s on {_S}"),
    "ingest.quarantine_ratio": ("ratio", f"none: input property of {_S}"),
    "lake.write_lake_ms_p50": ("ms", f"latency_p50_s on {_S}"),
    "lake.write_lake_cpu_ms_per_event": ("ms", f"cpu_ms_per_op on {_S}"),
    "lake.write_lake_shuffle_bytes_per_event": ("bytes", f"cpu_ms_per_op on {_S}"),
    "lake.write_quarantine_ms_p50": ("ms", f"latency_p50_s on {_S}"),
    "lake.refresh_table_ms_p50": ("ms", _Q),
    "lake.files_per_partition_end": ("count", _Q),
    "lake.bytes_per_event": ("bytes", _Q),
    "tenant.append_visible_p50_s": ("s", _Q),
    "query.plan_ms_p50": ("ms", _Q),
    "query.execute_ms_p50": ("ms", _Q),
    "query.files_read_p50": ("count", _Q),
    "query.partitions_read_p50": ("count", _Q),
    "query.rows_scanned_per_row_returned": ("ratio", _Q),
    "query.driver_gap_ms_p50": ("ms", _Q),
    **{
        f"corpus.{q}.{m}": (u, _CORPUS_MOVES)
        for q in CORPUS_QUERIES
        for m, u in (("wall_s", "s"), ("cpu_ms", "ms"), ("shuffle_bytes", "bytes"))
    },
    "corpus.driver_gap_ms": ("ms", f"ops_per_s on {_A}"),
    "session.gc_ms": ("ms", "cpu_ms_per_op on every workload"),
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs and short warm-up, for the smoke test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    # the engine under test is the one in this checkout, never an
    # installed copy
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: no {ENGINE}/ next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    import importlib

    from perfbench.tracing import Tracer

    module = importlib.import_module(f"perfbench.{args.workload}")
    tracers = []

    def make_tracer(spark):
        tracers.append(Tracer(spark, enabled=bool(args.trace)))
        return tracers[-1]

    try:
        res = module.run(args, make_tracer)
    finally:
        for t in tracers:
            t.unwrap_all()
    for name, ok in res["checks"].items():
        print(f"check {'PASS' if ok else 'FAIL'} {name}")
    print("noise " + json.dumps(res["noise"], sort_keys=True))
    e2e = {k: {"value": float(res["e2e"][k]), "unit": u} for k, u in E2E_UNITS.items()}
    if args.trace:
        if tracers:
            out = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(out, exist_ok=True)
            tracers[-1].write(os.path.join(out, f"{args.workload}-seed{args.seed}.jsonl"))
        layer = res["layer"]
        for name, (unit, moves) in LAYERS.items():
            print(f"layer {name} = {float(layer.get(name, 0.0)):.6g} {unit}  [moves: {moves}]")
        print("traced_e2e " + json.dumps({k: v["value"] for k, v in e2e.items()}, sort_keys=True))
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, (u, _) in LAYERS.items()}
    else:
        for k, v in e2e.items():
            print(f"e2e {k} = {v['value']:.6g} {v['unit']}")
        metrics = e2e
    correct = all(res["checks"].values()) and res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
