"""Tenant SQL phase of ``stream_ingest``: tenant-scoped queries from 2
closed-loop clients over the lake the stream wrote, with appends alongside.

Runs after the stream's measured window, so it adds nothing to the
stream's end-to-end numbers; it measures the query and catalog layers
(traced run) and checks tenant isolation. The lake is registered with
``register_table``. Each client loops: authorize the tenant's RS256
token, run one query from a fixed mix (the reference's
``SELECT * … WHERE tenant=X`` via ``saved_query``, a parameterized
per-hour aggregate via ``run_saved_query``, a masked-view read), fetch the
rows. Tenants are Zipf-chosen. After every ``APPEND_EVERY`` of its queries
a client appends one Zipf-skewed batch through ``ingest_batch`` +
``write_lake`` + ``refresh_table``, and its next query reads a tenant of
that batch and checks the new rows are visible. Appends land in a cycle
of hour partitions, so each adds a file to partitions reads already open.
"""

from __future__ import annotations

import os
import random
import threading
import time

from perfbench import gen, harness

TENANTS = 16
CLIENTS = 2
HOURS = 3
APPEND_EVERY = 8
TABLE = "events_lake"
FQ = f"multi_tenant_db.{TABLE}"
VIEW = "events_masked"
BASE_TS = 1_767_225_600  # 2026-01-01T00:00:00Z
HOURLY_SQL = (
    f"SELECT hour, event, count(*) AS n FROM {FQ} "
    "WHERE tenant = :tenant GROUP BY hour, event ORDER BY hour, event"
)
SHAPES = ("saved_query", "hourly_aggregate", "masked_view")
MASK = {"device": "hash", "region": "partial"}


class Inputs:
    """Raw event batches as parquet files of (tenant_id, raw), plus the
    valid/invalid counts per tenant each batch carries."""

    def __init__(self, ws: harness.Workspace, seed: int, sizes: list[int]) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = random.Random(f"tenant-sql-{seed}")
        self.tenants = gen.tenant_names(TENANTS)
        weights = gen.zipf_weights(TENANTS)
        self.files, self.valid, self.invalid = [], [], []
        for b, size in enumerate(sizes):
            tids = rng.choices(self.tenants, weights, k=size)
            bad = [rng.random() < 0.02 for _ in tids]
            raws = [gen.event_payload(rng, x) for x in bad]
            path = ws.path("inputs", f"batch-{b:04d}.parquet")
            pq.write_table(pa.table({"tenant_id": tids, "raw": raws}), path)
            valid: dict[str, int] = {}
            for t, x in zip(tids, bad):
                if not x:
                    valid[t] = valid.get(t, 0) + 1
            self.files.append(path)
            self.valid.append(valid)
            self.invalid.append(sum(bad))


class Lake:
    """The lake plus the row counts readers may see for each tenant."""

    def __init__(self, spark, root: str, inputs: Inputs, valid: dict[str, int], invalid: int) -> None:
        self.spark = spark
        self.root = root
        self.inputs = inputs
        self.committed: dict[str, int] = {t: valid.get(t, 0) for t in inputs.tenants}
        self.quarantined = invalid
        self.appended = 0
        self._lock = threading.Lock()
        self._writer = threading.Lock()
        self.inflight: dict[str, int] = {}

    def append(self, b: int) -> None:
        """One writer at a time: concurrent jobs appending to one lake root
        share the committer's _temporary directory and break each other.

        After ``refresh_table`` the masked view is created again: a view
        made earlier keeps returning the old rows of partitions it first
        listed after it was created (see perfbench/README.md)."""
        from aws_saas_factory_multi_tenant_data_pipeline_spark import ingest, lake, query

        with self._writer:
            with self._lock:
                self.inflight = dict(self.inputs.valid[b])
            raw = self.spark.read.parquet(self.inputs.files[b])
            res = ingest.ingest_batch(raw, ingest_ts=BASE_TS + 3600 * (b % HOURS))
            lake.write_lake(res.valid, self.root)
            lake.write_quarantine(res.quarantine, self.root, "validation-failed")
            lake.refresh_table(self.spark, TABLE)
            query.create_masked_view(self.spark, FQ, VIEW, MASK, secret="bench")
            with self._lock:
                for t, n in self.inputs.valid[b].items():
                    self.committed[t] += n
                self.inflight = {}
                self.quarantined += self.inputs.invalid[b]
                self.appended += 1

    def visible_counts(self, tenant: str) -> set[int]:
        """Row counts a reader may see now: an append whose files are
        committed but whose refresh has not returned may or may not show."""
        with self._lock:
            c = self.committed[tenant]
            return {c, c + self.inflight.get(tenant, 0)}


def _query(spark, shape: str, ctx):
    """Plan one tenant query (the eager part) and return its DataFrame."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark import query

    if shape == "saved_query":
        return query.saved_query(spark, FQ, ctx)
    if shape == "hourly_aggregate":
        return query.run_saved_query(spark, "tenant_hourly", tenant=ctx.tenant_id)
    return spark.sql(f"SELECT * FROM {VIEW} WHERE tenant = :tenant", args={"tenant": ctx.tenant_id})


def _rows_ok(shape: str, rows, tenant: str, allowed: set[int]) -> bool:
    if shape == "hourly_aggregate":
        return sum(r["n"] for r in rows) in allowed
    return all(r["tenant"] == tenant for r in rows) and len(rows) in allowed


class Client(threading.Thread):
    def __init__(self, idx, spark, auth, tokens, lake, tracer, seed, stop_at, next_batch) -> None:
        super().__init__(name=f"client-{idx}")
        self.idx = idx
        self.spark = spark
        self.auth = auth
        self.tokens = tokens
        self.lake = lake
        self.tracer = tracer
        self.rng = random.Random(f"client-{seed}-{idx}")
        self.weights = gen.zipf_weights(TENANTS)
        self.stop_at = stop_at
        self.next_batch = next_batch
        self.latencies: list[float] = []
        self.visible: list[float] = []
        self.records: list[dict] = []
        self.failed = 0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self._loop()
        except BaseException as e:  # reported by the caller after join
            self.error = e

    def _loop(self) -> None:
        pending = None  # (tenant, append start) to check on the next query
        n = 0
        while time.time() < self.stop_at:
            tenant = self.rng.choices(self.lake.inputs.tenants, self.weights)[0]
            shape = SHAPES[self.rng.randrange(len(SHAPES))]
            if pending is not None:
                tenant = pending[0]
            rec = self.one_query(f"c{self.idx}q{n}", shape, tenant)
            n += 1
            if pending is not None:
                if rec["ok"]:
                    self.visible.append(rec["end"] - pending[1])
                pending = None
            if n % APPEND_EVERY == 0:
                b = self.next_batch()
                if b is None:
                    continue
                t0 = time.time()
                self.lake.append(b)
                top = max(self.lake.inputs.valid[b].items(), key=lambda kv: kv[1])[0]
                pending = (top, t0)

    def one_query(self, rid: str, shape: str, tenant: str) -> dict:
        tr = self.tracer
        tr.set_request(rid)
        allowed = self.lake.visible_counts(tenant)
        start = time.time()
        ctx = self.auth.authorize(self.tokens[tenant])
        df = tr.call("query.plan", _query, self.spark, shape, ctx, jobs=False)
        rows = tr.call("query.execute", df.collect)
        end = time.time()
        ok = _rows_ok(shape, rows, tenant, allowed | self.lake.visible_counts(tenant))
        if not ok:
            self.failed += 1
        self.latencies.append(end - start)
        rec = {"rid": rid, "shape": shape, "rows": len(rows), "start": start, "end": end, "ok": ok}
        self.records.append(rec)
        tr.set_request(None)
        return rec


def run_phase(spark, ws, tracer, auth, tokens, lake_root: str, valid: dict[str, int],
              invalid: int, seed: int, seconds: float, appends: int, per_append: int) -> dict:
    """Register the lake, run the clients for a short warm-up round, then
    for ``seconds``. ``valid``/``invalid`` are the events
    already in the lake."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark import ingest, query
    from aws_saas_factory_multi_tenant_data_pipeline_spark import lake as lake_mod

    inputs = Inputs(ws, seed, [per_append] * appends)
    lake = Lake(spark, lake_root, inputs, valid, invalid)
    lake_mod.register_table(spark, lake_root, TABLE)
    query.register_saved_query("tenant_hourly", HOURLY_SQL)
    query.create_masked_view(spark, FQ, VIEW, MASK, secret="bench")
    tracer.wrap(query, "saved_query", "query.saved_query", jobs=False)
    tracer.wrap(query, "run_saved_query", "query.run_saved_query", jobs=False)
    tracer.wrap(ingest, "ingest_batch", "ingest.ingest_batch", jobs=False)
    for attr in ("write_lake", "write_quarantine", "refresh_table"):
        tracer.wrap(lake_mod, attr, f"lake.{attr}")

    batch_iter = iter(range(appends))
    batch_lock = threading.Lock()

    def next_batch():
        with batch_lock:
            return next(batch_iter, None)

    # one short round first (other client seeds, so other tenants): the
    # first query of each shape pays its planning and code generation cold
    warm = _run_clients(spark, auth, tokens, lake, tracer, seed + 7919, seconds / 3, next_batch)
    appended0 = lake.appended
    clients = _run_clients(spark, auth, tokens, lake, tracer, seed, seconds, next_batch)
    lat = [x for c in clients for x in c.latencies]
    visible = [x for c in clients for x in c.visible]
    records = [r for c in clients for r in c.records]
    failed_queries = sum(c.failed for c in warm + clients)
    checks = _checks(spark, lake)
    checks["tenant_queries_isolated_and_complete"] = failed_queries == 0
    layer = _layers(spark, tracer, records, lake, visible) if tracer.enabled else {}
    return {
        "checks": checks,
        "layer": layer,
        "noise": {
            "tenant_queries": len(lat),
            "tenant_query_p50_s": harness.median(lat),
            "tenant_appends": lake.appended - appended0,
            "append_visible_p50_s": harness.median(visible),
        },
        "attempted": sum(len(c.latencies) for c in warm + clients) + lake.appended,
        "failed": failed_queries,
    }


def _run_clients(spark, auth, tokens, lake, tracer, seed, seconds, next_batch) -> list[Client]:
    stop_at = time.time() + seconds
    clients = [Client(i, spark, auth, tokens, lake, tracer, seed, stop_at, next_batch)
               for i in range(CLIENTS)]
    for c in clients:
        c.start()
    for c in clients:
        c.join(timeout=seconds + 120)
        if c.is_alive():
            raise RuntimeError(f"{c.name} did not finish")
        if c.error is not None:
            raise c.error
    return clients


def _checks(spark, lake: Lake) -> dict[str, bool]:
    from aws_saas_factory_multi_tenant_data_pipeline_spark.plans import assert_partition_pruned
    from aws_saas_factory_multi_tenant_data_pipeline_spark.tenancy import TenantContext

    got = {r["tenant"]: r["n"] for r in spark.sql(
        f"SELECT tenant, count(*) AS n FROM {FQ} GROUP BY tenant").collect()}
    want = {t: n for t, n in lake.committed.items() if n}
    quarantined = spark.read.json(os.path.join(lake.root, "error", "validation-failed")).count()
    pruned = True
    ctx = TenantContext(lake.inputs.tenants[0])
    for shape in SHAPES:
        try:
            assert_partition_pruned(_query(spark, shape, ctx), "tenant", ctx.tenant_id)
        except AssertionError:
            pruned = False
    return {
        "lake_rows_per_tenant_match_valid_events": got == want,
        "quarantine_rows_match_invalid_events": quarantined == lake.quarantined,
        "every_query_shape_is_partition_pruned": pruned,
    }


def _job_maps(spark):
    """(job group -> job ids, job id -> SQL execution id, SQL status store)."""
    harness.drain_listener_bus(spark)
    sql_store = spark._jsparkSession.sharedState().statusStore()
    execs = sql_store.executionsList()
    by_job: dict[int, int] = {}
    for i in range(execs.size()):
        ex = execs.apply(i)
        keys = ex.jobs().keys().toSeq()
        for j in range(keys.size()):
            by_job[keys.apply(j)] = ex.executionId()
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    group_jobs: dict[str, list[int]] = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if not job.jobGroup().isEmpty():
            group_jobs.setdefault(job.jobGroup().get(), []).append(job.jobId())
    return group_jobs, by_job, sql_store


def _layers(spark, tracer, records, lake: Lake, visible) -> dict:
    groups = harness.stage_metrics_by_group(spark)
    group_jobs, by_job, sql_store = _job_maps(spark)
    exec_spans = {s["request"]: s for s in tracer.spans if s["name"] == "query.execute"}
    files, parts, scanned_ratio, gaps = [], [], [], []
    for rec in records:
        span = exec_spans.get(rec["rid"])
        if span is None:
            continue
        group = f"query.execute#{span['id']}"
        run_ms = groups.get(group, {}).get("run_ms", 0.0)
        gaps.append((rec["end"] - rec["start"]) * 1000.0 - run_ms / harness.cpus())
        exec_ids = {by_job[j] for j in group_jobs.get(group, []) if j in by_job}
        f = p = scanned = 0
        for eid in exec_ids:
            metrics = sql_store.executionMetrics(eid)
            graph = sql_store.planGraph(eid)
            nodes = graph.allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                if not node.name().startswith("Scan"):
                    continue
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    val = metrics.get(m.accumulatorId())
                    if val.isEmpty():
                        continue
                    num = _num(val.get())
                    if m.name() == "number of files read":
                        f += num
                    elif m.name() == "number of partitions read":
                        p += num
                    elif m.name() == "number of output rows":
                        scanned += num
        files.append(f)
        parts.append(p)
        if rec["rows"]:
            scanned_ratio.append(scanned / rec["rows"])
    n_files, n_parts, size = harness.lake_layout(lake.root)
    return {
        "lake.refresh_table_ms_p50": harness.median(tracer.durations_ms("lake.refresh_table")),
        "lake.files_per_partition_end": n_files / max(1, n_parts),
        "lake.bytes_per_event": size / max(1, sum(lake.committed.values())),
        "tenant.append_visible_p50_s": harness.median(visible),
        "query.plan_ms_p50": harness.median(tracer.durations_ms("query.plan")),
        "query.execute_ms_p50": harness.median(tracer.durations_ms("query.execute")),
        "query.files_read_p50": harness.median(files),
        "query.partitions_read_p50": harness.median(parts),
        "query.rows_scanned_per_row_returned": harness.median(scanned_ratio),
        "query.driver_gap_ms_p50": harness.median(gaps),
    }


def _num(s: str) -> int:
    head = s.strip().split()[0] if s.strip() else "0"
    try:
        return int(head.replace(",", ""))
    except ValueError:
        return 0
