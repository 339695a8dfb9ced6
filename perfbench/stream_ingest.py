"""stream_ingest: authorized POSTs → kinesis_replay shards → the engine's
ingest stream → partitioned lake + quarantine.

An open-loop generator thread posts events for 16 uniformly spread
tenants at a fixed rate. Each POST is authorized through
``CachedAuthorizer`` (JWKS read from a file:// URL) and appended to one of
4 shard files by ``crc32(tenant) % 4``. About 2% of the events are invalid.
The stream runs with default trigger and source options, so micro-batches
run back to back.

Phases: warm-up at the fixed rate for a fixed number of micro-batches;
the measured fixed-rate phase; then a fixed backlog, timed until fully
committed; then, outside the measured part, the tenant SQL phase of
``perfbench.tenant_sql`` over the lake the stream wrote. Freshness is
measured from an event's scheduled send time to the commit of the
micro-batch holding it; commit times come from streaming progress, and
which events a batch holds comes from its source offsets.
"""

from __future__ import annotations

import json
import os
import random
import time
from datetime import datetime

from perfbench import gen, harness, tenant_sql

TENANTS = 16
SHARDS = 4
INVALID_SHARE = 0.02
PAGE = 4096
WARM_BATCHES = {"full": 5, "tiny": 2}
#: tenant SQL phase after the stream: (seconds, append batches, events each)
QUERY_PHASE = {"full": (3.0, 8, 500), "tiny": (3.0, 4, 100)}


class ShardWriter:
    """Appends whole lines to the shard files so a concurrent reader never
    sees a torn record. A write that stays inside one page becomes visible
    to readers all at once, so a line that would cross a page boundary is
    preceded by one blank line padded with spaces up to the boundary (the
    source skips blank lines but counts them in its offsets)."""

    def __init__(self, shard_dir: str) -> None:
        self.fds = []
        self.pos = []
        #: per shard, per line: scheduled send time, or None for padding
        self.lines: list[list[float | None]] = []
        for i in range(SHARDS):
            path = os.path.join(shard_dir, f"shard-{i:05d}.jsonl")
            self.fds.append(os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644))
            self.pos.append(0)
            self.lines.append([])

    def append(self, shard: int, line: bytes, due: float) -> None:
        self.append_many(shard, [line], due)

    def append_many(self, shard: int, lines: list[bytes], due: float) -> None:
        """Append ``lines`` with one write. A reader may see a long write
        page by page, but no line straddles a page, so never a torn one."""
        buf = []
        for line in lines:
            if len(line) > PAGE:
                raise ValueError("record longer than a page")
            off = self.pos[shard] % PAGE
            if off + len(line) > PAGE:
                pad = PAGE - off
                buf.append(b" " * (pad - 1) + b"\n")
                self.pos[shard] += pad
                self.lines[shard].append(None)
            buf.append(line)
            self.pos[shard] += len(line)
            self.lines[shard].append(due)
        os.write(self.fds[shard], b"".join(buf))

    def close(self) -> None:
        for fd in self.fds:
            os.close(fd)


class Generator:
    """Open-loop poster: event i is due at ``t0 + i / rate``. Lateness is
    recorded per event, so a stalled generator shows in the output."""

    def __init__(self, auth, tokens: dict[str, str], writer: ShardWriter, seed: int) -> None:
        self.auth = auth
        self.tokens = tokens
        self.tenants = sorted(tokens)
        self.writer = writer
        self.rng = random.Random(f"events-{seed}")
        self.valid: dict[str, int] = {t: 0 for t in self.tenants}
        self.invalid = 0
        self.refused = 0
        self.lag_s: list[float] = []
        self.total = 0

    def _authorized(self) -> tuple[int, bytes] | None:
        """Draw one event and authorize its POST: (shard, record line), or
        None when the authorizer refuses it."""
        tenant = self.tenants[self.rng.randrange(len(self.tenants))]
        invalid = self.rng.random() < INVALID_SHARE
        payload = gen.event_payload(self.rng, invalid)
        self.total += 1
        try:
            ctx = self.auth.authorize(self.tokens[tenant])
        except ValueError:
            self.refused += 1
            return None
        if invalid:
            self.invalid += 1
        else:
            self.valid[tenant] += 1
        rec = json.dumps({"partition_key": ctx.tenant_id, "data": payload}) + "\n"
        return gen.shard_of(ctx.tenant_id, SHARDS), rec.encode()

    def post(self, due: float) -> None:
        ev = self._authorized()
        if ev is not None:
            self.writer.append(ev[0], ev[1], due)

    def run_rate(self, rate: float, seconds: float, record_lag: bool) -> tuple[float, float]:
        """Post at ``rate`` events/s for ``seconds``; returns (t0, t_end)."""
        n = int(rate * seconds)
        t0 = time.time()
        i = 0
        while i < n:
            now = time.time()
            due_i = int((now - t0) * rate) + 1
            while i < min(due_i, n):
                due = t0 + i / rate
                self.post(due)
                if record_lag:
                    self.lag_s.append(time.time() - due)
                i += 1
            nxt = t0 + i / rate
            pause = nxt - time.time()
            if pause > 0:
                time.sleep(min(pause, 0.005))
        return t0, t0 + n / rate

    def burst(self, n: int) -> None:
        """Authorize ``n`` events, then land them with one write per shard,
        so the stream finds the whole backlog at its next poll."""
        by_shard: dict[int, list[bytes]] = {}
        for _ in range(n):
            ev = self._authorized()
            if ev is not None:
                by_shard.setdefault(ev[0], []).append(ev[1])
        due = time.time()
        for shard, lines in sorted(by_shard.items()):
            self.writer.append_many(shard, lines, due)


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _offsets(src_offset) -> dict[str, int]:
    if src_offset is None:
        return {}
    return json.loads(src_offset) if isinstance(src_offset, str) else dict(src_offset)


class Batches:
    """Micro-batches read back from streaming progress: commit time and
    the per-shard line ranges each one consumed."""

    def __init__(self, query) -> None:
        self.rows = []
        for progress in query.recentProgress:
            p = json.loads(progress.json)
            src = p["sources"][0] if p.get("sources") else None
            if src is None:
                continue
            start, end = _offsets(src.get("startOffset")), _offsets(src.get("endOffset"))
            if start == end:
                continue
            d = p["durationMs"]
            self.rows.append({
                "batch": p["batchId"],
                "commit": _ts(p["timestamp"]) + d.get("triggerExecution", 0) / 1000.0,
                "start": start,
                "end": end,
                "d": d,
            })

    def committed_lines(self) -> dict[str, int]:
        return self.rows[-1]["end"] if self.rows else {}


def _shard_name(i: int) -> str:
    return f"shard-{i:05d}.jsonl"


def run(args, tracer_factory) -> dict:
    from aws_saas_factory_multi_tenant_data_pipeline_spark import streaming, tenancy
    from aws_saas_factory_multi_tenant_data_pipeline_spark.sources.replay_source import (
        KinesisReplaySource,
    )

    sizes = {"full": (600.0, 16_000), "tiny": (200.0, 1_000)}[args.size]
    rate, backlog = sizes
    t_setup = time.perf_counter()
    ws = harness.Workspace()
    spark = None
    query = None
    writer = None
    try:
        spark = harness.start_spark(ws, "perfbench-stream-ingest")
        phases = {"jvm_s": time.perf_counter() - t_setup}
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        spark.dataSource.register(KinesisReplaySource)
        tracer = tracer_factory(spark)
        signer = gen.Signer(args.seed)
        tenants = gen.tenant_names(TENANTS)
        tokens = gen.tenant_tokens(signer, tenants)
        jwks_url = gen.write_jwks(signer, ws.path("inputs", "jwks.json"))
        auth = tenancy.CachedAuthorizer(jwks_url)
        tracer.wrap(tenancy.CachedAuthorizer, "authorize", "tenancy.authorize", jobs=False)
        for attr in ("ingest_batch", "write_lake", "write_quarantine"):
            tracer.wrap(streaming, attr, f"streaming.{attr}")

        shard_dir = ws.path("inputs", "shards")
        os.makedirs(shard_dir)
        writer = ShardWriter(shard_dir)
        g = Generator(auth, tokens, writer, args.seed)
        raw = (
            spark.readStream.format("kinesis_replay")
            .option("path", shard_dir)
            .load()
            .selectExpr("partition_key AS tenant_id", "data AS raw")
        )
        lake = ws.path("lake")
        query = streaming.start_ingest_stream(raw, lake, ws.path("ckpt"), trigger_seconds=None)

        # warm-up: the same path at the same rate for a fixed number of
        # micro-batches, so every run starts measuring from the same point
        # of the JIT's progress (batch time keeps falling for many batches)
        phases["stream_start_s"] = time.perf_counter() - t_setup
        warm_deadline = time.time() + 60
        while len(Batches(query).rows) < WARM_BATCHES[args.size] and time.time() < warm_deadline:
            g.run_rate(rate, 0.5, record_lag=False)
            if "first_batch_s" not in phases and Batches(query).rows:
                phases["first_batch_s"] = time.perf_counter() - t_setup
        warm_lines = [len(x) for x in writer.lines]
        setup_s = time.perf_counter() - t_setup
        phases["warm_s"] = setup_s - phases["jvm_s"]

        # measured fixed-rate phase
        jvm = harness.jvm_pid(spark)
        gc0 = harness.driver_gc_ms(spark)
        noise0 = harness.host_noise()
        cpu0 = harness.tree_cpu_s(jvm)
        t0, t1 = g.run_rate(rate, args.seconds, record_lag=True)
        cpu1 = harness.tree_cpu_s(jvm)
        window_lines = [len(x) for x in writer.lines]
        n_window = sum(
            1
            for s in range(SHARDS)
            for due in writer.lines[s][warm_lines[s]:window_lines[s]]
            if due is not None
        )
        # events posted but not committed, at the window's start and end:
        # under a sustainable rate the second is no larger than the first
        backlog_start = _uncommitted(writer, _committed_until(query, t0), warm_lines)
        backlog_end = _uncommitted(writer, _committed_until(query, t1), window_lines)

        # fixed backlog, written once the stream is idle and timed until
        # fully committed. The drain rate is its events over the run time
        # of the micro-batches that held them: neither the time to post the
        # burst nor the poll before the first of those batches counts.
        idle = _wait_committed(query, writer)
        g.burst(backlog)
        _wait_committed(query, writer)
        gc1 = harness.driver_gc_ms(spark)
        batches = Batches(query)
        drain = [r for r in batches.rows if not _covers(idle, r["end"])]
        drain_s = sum(r["d"]["triggerExecution"] for r in drain) / 1000.0
        query.stop()
        query.awaitTermination(60)

        # freshness per event: due time → commit of the batch holding it
        fresh, per_batch_events, window_batches = [], [], []
        for r in batches.rows:
            n_events = 0
            in_window = False
            for s in range(SHARDS):
                lo = r["start"].get(_shard_name(s), 0)
                hi = r["end"].get(_shard_name(s), 0)
                for due in writer.lines[s][lo:hi]:
                    if due is None:
                        continue
                    n_events += 1
                    if t0 <= due < t1:
                        fresh.append(r["commit"] - due)
                        in_window = True
            per_batch_events.append(n_events)
            if in_window:
                window_batches.append(r)

        e2e = {
            "setup_s": setup_s,
            "latency_p50_s": harness.median(fresh),
            "latency_p90_s": harness.pct(fresh, 90),
            "ops_per_s": backlog / drain_s,
            "cpu_ms_per_op": (cpu1 - cpu0) * 1000.0 / max(1, n_window),
        }
        noise = {
            "peak_rss_mb": harness.tree_peak_rss_mb(jvm),
            **{f"{k}_before": v for k, v in noise0.items()},
            **{f"{k}_after": v for k, v in harness.host_noise().items()},
            "generator_lag_ms_p99": harness.pct(g.lag_s, 99) * 1000.0,
            "backlog_events_start": backlog_start,
            "backlog_events_end": backlog_end,
            "window_events": n_window,
            "window_batches": len(window_batches),
            "drain_batches": len(drain),
            **phases,
        }

        # after the window: tenant SQL over the lake the stream wrote
        phase = tenant_sql.run_phase(spark, ws, tracer, auth, tokens, lake, g.valid, g.invalid,
                                     args.seed, *QUERY_PHASE[args.size])
        checks = phase["checks"]
        noise.update(phase["noise"])
        layer = {}
        if tracer.enabled:
            layer = {**phase["layer"], **_layers(spark, tracer, g, auth, batches, window_batches,
                                                 per_batch_events, backlog_end, gc1 - gc0)}
        attempted = g.total + phase["attempted"] + len(checks)
        failed = g.refused + phase["failed"] + sum(1 for ok in checks.values() if not ok)
        return {"e2e": e2e, "layer": layer, "attempted": attempted, "failed": failed,
                "checks": checks, "noise": noise}
    finally:
        if query is not None and query.isActive:
            query.stop()
        if writer is not None:
            writer.close()
        if spark is not None:
            harness.stop_spark(spark)
        ws.close()


def _wait_committed(query, writer: ShardWriter, timeout: float = 90.0) -> dict[str, int]:
    """Block until every line written so far is committed; returns the
    per-shard line counts waited for."""
    target = {_shard_name(s): len(writer.lines[s]) for s in range(SHARDS)}
    deadline = time.time() + timeout
    while not _covers(Batches(query).committed_lines(), target):
        if time.time() > deadline:
            raise RuntimeError(f"stream did not commit all input within {timeout:.0f} s")
        time.sleep(0.02)
    return target


def _uncommitted(writer: ShardWriter, committed: dict[str, int], written: list[int]) -> int:
    return sum(
        1
        for s in range(SHARDS)
        for due in writer.lines[s][committed.get(_shard_name(s), 0):written[s]]
        if due is not None
    )


def _covers(offsets: dict[str, int], target: dict[str, int]) -> bool:
    return all(offsets.get(k, 0) >= v for k, v in target.items())


def _committed_until(query, t: float) -> dict[str, int]:
    done = {}
    for r in Batches(query).rows:
        if r["commit"] <= t:
            done = r["end"]
    return done


def _layers(spark, tracer, g, auth, batches, window_batches, per_batch_events,
            backlog_end, gc_ms) -> dict:
    groups = harness.stage_metrics_by_group(spark)

    def group_sum(prefix: str, key: str) -> float:
        return sum(v[key] for k, v in groups.items() if k.startswith(prefix + "#"))

    d = [r["d"] for r in window_batches]
    events = max(1, sum(per_batch_events))
    add_batch = [x.get("addBatch", 0) for x in d]
    wrapped = {
        name: tracer.durations_ms(f"streaming.{name}")
        for name in ("ingest_batch", "write_lake", "write_quarantine")
    }
    n_batches = len(batches.rows)
    # addBatch self time: what _sink spends outside the three wrapped calls
    # (the quarantine limit(1).count() re-validation)
    spans = [s for s in tracer.spans if s["name"].startswith("streaming.")]
    probe = []
    for r in batches.rows:
        begin = r["commit"] - r["d"]["triggerExecution"] / 1000.0
        inside = sum(s["end"] - s["start"] for s in spans if begin <= s["start"] <= r["commit"])
        probe.append(r["d"].get("addBatch", 0) - inside * 1000.0)
    return {
        "tenancy.authorize_us_p50": harness.median(tracer.durations_ms("tenancy.authorize")) * 1000.0,
        "tenancy.jwks_fetches": float(auth.fetch_count),
        "sources.latest_offset_ms_p50": harness.median([x.get("latestOffset", 0) for x in d]),
        "sources.get_batch_ms_p50": harness.median([x.get("getBatch", 0) for x in d]),
        "streaming.batch_ms_p50": harness.median([x["triggerExecution"] for x in d]),
        "streaming.batch_ms_p90": harness.pct([x["triggerExecution"] for x in d], 90),
        "streaming.add_batch_ms_p50": harness.median(add_batch),
        "streaming.events_per_batch_p50": harness.median(per_batch_events),
        "streaming.batches": float(n_batches),
        "streaming.backlog_events_end": float(backlog_end),
        "streaming.generator_lag_ms_p99": harness.pct(g.lag_s, 99) * 1000.0,
        "streaming.quarantine_probe_ms_p50": harness.median(probe),
        "ingest.ingest_batch_ms_p50": harness.median(wrapped["ingest_batch"]),
        "ingest.quarantine_ratio": g.invalid / max(1, g.total),
        "lake.write_lake_ms_p50": harness.median(wrapped["write_lake"]),
        "lake.write_lake_cpu_ms_per_event": group_sum("streaming.write_lake", "cpu_ms") / events,
        "lake.write_lake_shuffle_bytes_per_event": group_sum("streaming.write_lake", "shuffle_bytes") / events,
        "lake.write_quarantine_ms_p50": harness.median(wrapped["write_quarantine"]),
        "session.gc_ms": gc_ms,
    }
