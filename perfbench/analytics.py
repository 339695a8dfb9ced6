"""analytics: the corpus + operators surface, one closed-loop client.

Eight corpus queries run in a fixed order, pass after pass: each one is
materialized with the ``noop`` sink (not ``count()``, so Catalyst cannot
skip columns), and ``clearCache()`` runs between queries. No tenancy,
ingest or lake code runs here.

Inputs are the nine testdata tables, generated from the seed at
``SF`` (sf0.01: 60k lineitem rows). The warm-up runs every query once
and compares its rows with its DuckDB oracle SQL on the same files;
``dedup_minhash_lsh`` has no oracle (its candidates are probabilistic),
so its result must contain every near-copy the generator planted.
"""

from __future__ import annotations

import os
import threading
import time

from perfbench import gen, harness

SF = {"full": 0.01, "tiny": 0.001}
QUERIES = (
    "agg_pricing_summary",
    "join_star_multiway",
    "win_topk_per_group",
    "stream_session_30m",
    "dedup_minhash_lsh",
    "graph_pagerank",
    "dedup_semantic",
    "text_bm25_rank",
)


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _run_one(spark, tracer, spec, sf_dir: str) -> None:
    name = f"corpus.{spec.name}"
    tracer.call(name, lambda: _materialize(spec.spark_fn(spark, sf_dir)))
    spark.catalog.clearCache()


def _concurrently(fns: dict) -> dict:
    """Run each callable on its own thread; return name -> result."""
    out, errors = {}, []

    def one(name, fn):
        try:
            out[name] = fn()
        except BaseException as e:  # re-raised below
            errors.append(e)

    threads = [threading.Thread(target=one, args=item) for item in fns.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        if t.is_alive():
            raise RuntimeError("a warm-up query did not finish")
    if errors:
        raise errors[0]
    return out


class Oracles(threading.Thread):
    """DuckDB oracle results, computed on a thread of their own while the
    JVM starts and the engine warms up."""

    def __init__(self, registry, sf_dir: str, tables) -> None:
        super().__init__(name="oracles")
        self.registry = registry
        self.sf_dir = sf_dir
        self.tables = tables
        self.results: dict = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        import duckdb

        try:
            con = duckdb.connect()
            for t in self.tables:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q in QUERIES:
                if self.registry[q].oracle is not None:
                    self.results[q] = con.execute(self.registry[q].oracle).df()
            con.close()
        except BaseException as e:  # reported by the caller after join
            self.error = e


def run(args, tracer_factory) -> dict:
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import load_all

    t_setup = time.perf_counter()
    ws = harness.Workspace()
    spark = None
    try:
        sf_dir = ws.path("inputs", "sf")
        rows = gen.write_corpus_tables(sf_dir, SF[args.size], args.seed)
        registry = load_all()
        oracles = Oracles(registry, sf_dir, rows)
        oracles.start()
        spark = harness.start_spark(ws, "perfbench-analytics")
        phases = {"jvm_s": time.perf_counter() - t_setup}
        tracer = tracer_factory(spark)
        # warm-up: first runs pay class loading, code generation and JIT
        # once per process. Every query runs once, all at the same time so
        # that cost overlaps on the cores, and its rows are kept for the
        # correctness checks.
        results = _concurrently({
            q: (lambda q=q: registry[q].spark_fn(spark, sf_dir).toPandas()) for q in QUERIES
        })
        spark.catalog.clearCache()
        oracles.join(timeout=300)
        if oracles.is_alive() or oracles.error is not None:
            raise RuntimeError(f"DuckDB oracles failed: {oracles.error}")
        checks = _checks(results, oracles.results, rows)
        setup_s = time.perf_counter() - t_setup
        phases["warm_s"] = setup_s - phases["jvm_s"]

        jvm = harness.jvm_pid(spark)
        gc0 = harness.driver_gc_ms(spark)
        noise0 = harness.host_noise()
        cpu0 = harness.tree_cpu_s(jvm)
        lat: list[float] = []
        t0 = time.time()
        # whole passes only, so every window runs the same mix
        while True:
            for q in QUERIES:
                s = time.time()
                _run_one(spark, tracer, registry[q], sf_dir)
                lat.append(time.time() - s)
            if time.time() - t0 >= args.seconds:
                break
        elapsed = time.time() - t0
        cpu1 = harness.tree_cpu_s(jvm)
        gc1 = harness.driver_gc_ms(spark)
        e2e = {
            "setup_s": setup_s,
            "latency_p50_s": harness.median(lat),
            "latency_p90_s": harness.pct(lat, 90),
            "ops_per_s": len(lat) / elapsed,
            "cpu_ms_per_op": (cpu1 - cpu0) * 1000.0 / len(lat),
        }
        noise = {
            "peak_rss_mb": harness.tree_peak_rss_mb(jvm),
            **{f"{k}_before": v for k, v in noise0.items()},
            **{f"{k}_after": v for k, v in harness.host_noise().items()},
            "queries": len(lat),
            "passes": len(lat) // len(QUERIES),
            "lineitem_rows": rows["lineitem"],
            **phases,
        }
        layer = {}
        if tracer.enabled:
            layer = _layers(spark, tracer, gc1 - gc0)
        attempted = len(lat) + len(checks)
        failed = sum(1 for ok in checks.values() if not ok)
        return {"e2e": e2e, "layer": layer, "attempted": attempted, "failed": failed,
                "checks": checks, "noise": noise}
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        ws.close()


def _layers(spark, tracer, gc_ms: float) -> dict:
    groups = harness.stage_metrics_by_group(spark)
    out = {}
    gaps = []
    for q in QUERIES:
        name = f"corpus.{q}"
        spans = [s for s in tracer.spans if s["name"] == name]
        stats = [groups.get(f"{name}#{s['id']}", {}) for s in spans]
        wall = [s["end"] - s["start"] for s in spans]
        out[f"{name}.wall_s"] = harness.median(wall)
        out[f"{name}.cpu_ms"] = harness.median([x.get("cpu_ms", 0.0) for x in stats])
        out[f"{name}.shuffle_bytes"] = harness.median([x.get("shuffle_bytes", 0.0) for x in stats])
        gaps += [w * 1000.0 - x.get("run_ms", 0.0) / harness.cpus() for w, x in zip(wall, stats)]
    out["corpus.driver_gap_ms"] = harness.median(gaps)
    out["session.gc_ms"] = gc_ms
    return out


def _checks(results: dict, oracle_results: dict, rows: dict[str, int]) -> dict[str, bool]:
    from tools.oracle_check import compare

    out = {}
    for q in QUERIES:
        got = results[q]
        if q in oracle_results:
            out[f"{q}_matches_duckdb_oracle"] = compare(got, oracle_results[q]) is None
            continue
        pairs = set(zip(got["id_a"], got["id_b"]))
        ok = all(a < b for a, b in pairs) and bool(got["jaccard"].between(0.3, 1.0).all())
        found = {b for _, b in pairs}
        out[f"{q}_finds_planted_near_copies"] = ok and all(
            d in found for d in gen.planted_duplicates(rows["documents"]))
    return out
