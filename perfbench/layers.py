"""Per-layer metrics of the traced run: the wrappers installed around the
public call into each layer, and the numbers derived from their spans.

Every workload reports every name in PER_LAYER (BENCHMARK.json lists the
same names); a layer the workload does not exercise reads 0."""

from __future__ import annotations

from stats import median, percentile, tail_percentile
from tracing import span_cost_s

# name → unit
PER_LAYER = {
    # engine: planning under _PLAN_LOCK
    "engine.resolve_ms": "ms",
    "engine.resolve_self_ms": "ms",
    "engine.prepare_views_ms": "ms",
    "engine.view_builds_per_query": "count",
    "engine.view_refresh_ms": "ms",
    # session: Spark analysis, jobs and tasks per statement, set-up phases
    "session.sql_analyze_ms": "ms",
    "session.jobs_per_query": "count",
    "session.tasks_per_query": "count",
    "session.shuffle_bytes_per_query": "B",
    "session.jvm_start_s": "s",
    "session.datagen_s": "s",
    "session.lake_build_s": "s",
    "session.warmup_s": "s",
    "session.driver_rss_mb": "MB",
    "session.jvm_rss_mb": "MB",
    # flightsql server and the in-process client layer it streams through
    "flightsql.first_batch_ms": "ms",
    "flightsql.server_ms": "ms",
    "flightsql.transfer_ms": "ms",
    "flightsql.bytes_per_row": "B",
    "client.stream_batches_ms": "ms",
    "client.bulk_ingest_ms": "ms",
    "client.ingest_files": "count",
    # the dashboard mix per query class (dashboard clients, ingest readers)
    "dashboard.stats_p50_ms": "ms",
    "dashboard.timeseries_p50_ms": "ms",
    "dashboard.udf_p50_ms": "ms",
    "dashboard.fetch_p50_ms": "ms",
    "dashboard.query_tail_ms": "ms",
    "dashboard.query_tail_pct": "%",
    "dashboard.query_samples": "count",
    "dashboard.fetch_rows_per_s": "rows/s",
    # materialize: the maintenance tick, merges and partition reads
    "materialize.tick_ms": "ms",
    "materialize.sql_calls_per_tick": "count",
    "materialize.list_partitions_ms": "ms",
    "materialize.merge_ms": "ms",
    "materialize.useful_ratio": "ratio",
    "materialize.bytes_written_per_event": "B",
    "materialize.live_partitions": "count",
    "materialize.read_ms": "ms",
    # fslayer: catalog commits (claim_parquet_table) and small-file writes
    "fslayer.manifest_writes": "count",
    "fslayer.write_bytes_atomic_ms": "ms",
    "fslayer.claim_parquet_table_ms": "ms",
    # ingest workload results
    "ingest.freshness_p50_ms": "ms",
    "ingest.events_per_s": "events/s",
    "ingest.storage_bytes_per_event": "B",
    "ingest.cycles": "count",
    # analytics_batch: families, Spark work per family
    "batch.trace_pass_s": "s",
    "batch.corpus_pass_s": "s",
    "batch.trace.tasks": "count",
    "batch.trace.shuffle_bytes": "B",
    "batch.trace.spill_bytes": "B",
    "batch.corpus.tasks": "count",
    "batch.corpus.shuffle_bytes": "B",
    "batch.corpus.spill_bytes": "B",
    # tracing overhead: wrapper cost per statement over query_p50_ms
    "trace.overhead_pct": "%",
}

# per-layer metrics where a larger value is the better one
HIGHER_IS_BETTER = {
    "dashboard.fetch_rows_per_s",
    "dashboard.query_samples",
    "materialize.useful_ratio",
    "ingest.events_per_s",
    "ingest.cycles",
}

# the two analytics_batch families, trimmed to what one pass can run in
# about ten seconds on 4 cores (NOTES.md lists what was left out)
TRACE_FAMILY = (
    "events_jit_sql_view_instance",  # JIT view_instance through SQL
    "events_span_selftime",  # thread-span call trees and self time
    "events_transit_roundtrip",  # transit encode/decode
    "events_sliding_rates_stream",  # structured streaming
)
CORPUS_FAMILY = (
    "docs_minhash_neardup",
    "docs_ngram_jaccard",
    "emb_kmeans",
)
for _q in TRACE_FAMILY + CORPUS_FAMILY:
    PER_LAYER[f"batch.{_q}_s"] = "s"

# statements whose Spark jobs, tasks and shuffle bytes are averaged (the
# last ones the traced run planned)
SAMPLE_QUERIES = 200


def install(tracer) -> None:
    """Wrap the public call into each layer."""
    import micromegas_spark.client as client_mod
    from pyspark.sql import SparkSession

    from micromegas_spark.client import Client
    from micromegas_spark.engine import Engine
    from micromegas_spark.fslayer import WarehouseFS
    from micromegas_spark.materialize import Lakehouse
    from micromegas_spark.queries import REGISTRY

    def note_qid(sp, args, kwargs, out):
        qid = getattr(out, "_mm_query_id", None)
        if qid and sp.req is not None:
            tracer.qid_req[qid] = sp.req

    tracer.wrap(Engine, "resolve", "engine.resolve", req_arg=1, on_call=note_qid)
    tracer.wrap(Engine, "prepare_views", "engine.prepare_views", req_arg=1)
    tracer.wrap(SparkSession, "sql", "session.sql", req_arg=1)
    tracer.wrap_generator(
        client_mod, "_stream_batches", "client.stream_batches",
        lambda a, kw: tracer.qid_req.get(getattr(a[0], "_mm_query_id", None)),
    )
    tracer.wrap(Client, "bulk_ingest", "client.bulk_ingest")
    for attr in ("materialize_range", "merge_partitions", "list_partitions", "read"):
        tracer.wrap(Lakehouse, attr, f"materialize.{attr}")
    for attr in ("write_bytes_atomic", "claim_parquet_table"):
        tracer.wrap(WarehouseFS, attr, f"fslayer.{attr}")
    for name, qd in REGISTRY.items():
        tracer.wrap(qd, "spark", f"registry.{name}")


def spark_work(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under a job group, from the status
    tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
    return len(jobs), tasks


def from_spans(tracer, engine=None) -> dict:
    """Layer metrics every workload derives the same way from its spans."""
    m: dict[str, float] = {}
    m["engine.resolve_ms"] = tracer.median_ms("engine.resolve")
    selfs = tracer.self_ms("engine.resolve")
    m["engine.resolve_self_ms"] = median(selfs) if selfs else 0.0
    m["engine.prepare_views_ms"] = tracer.median_ms("engine.prepare_views")
    m["session.sql_analyze_ms"] = tracer.median_ms("session.sql")
    m["client.stream_batches_ms"] = tracer.median_ms("client.stream_batches")
    m["client.bulk_ingest_ms"] = tracer.median_ms("client.bulk_ingest")
    m["materialize.tick_ms"] = tracer.median_ms("materialize.materialize_range")
    calls = tracer.child_count("materialize.materialize_range", "session.sql")
    m["materialize.sql_calls_per_tick"] = median(calls) if calls else 0.0
    m["materialize.list_partitions_ms"] = tracer.median_ms("materialize.list_partitions")
    m["materialize.merge_ms"] = tracer.median_ms("materialize.merge_partitions")
    m["materialize.read_ms"] = tracer.median_ms("materialize.read")
    m["fslayer.manifest_writes"] = float(
        tracer.count("fslayer.write_bytes_atomic") + tracer.count("fslayer.claim_parquet_table")
    )
    m["fslayer.write_bytes_atomic_ms"] = tracer.median_ms("fslayer.write_bytes_atomic")
    m["fslayer.claim_parquet_table_ms"] = tracer.median_ms("fslayer.claim_parquet_table")
    if engine is not None and tracer.qid_req:
        sc = engine.spark.sparkContext
        qids = list(tracer.qid_req)[-SAMPLE_QUERIES:]
        jobs, tasks, shuffle = [], [], []
        for q in qids:
            j, t = spark_work(sc, q)
            jobs.append(j)
            tasks.append(t)
            shuffle.append(engine.query_metrics(q)["shuffle_write_bytes"])
        m["session.jobs_per_query"] = sum(jobs) / len(qids)
        m["session.tasks_per_query"] = sum(tasks) / len(qids)
        m["session.shuffle_bytes_per_query"] = sum(shuffle) / len(qids)
    return m


def view_builds(tracer, builds: int) -> dict:
    """Builder calls of the benchmark's registered views per planned
    statement of the traced run."""
    n = tracer.count("engine.resolve")
    return {"engine.view_builds_per_query": builds / n} if n else {}


def overhead_pct(tracer, latencies_ms: list[float]) -> float:
    """What the wrappers add to a statement, as a share of query_p50_ms:
    spans recorded per timed statement times the measured cost of one
    wrapper. Every span counts, the writer's and set-up's alike, so this
    is an upper bound."""
    if not latencies_ms:
        return 0.0
    per_stmt_ms = len(tracer.spans) / len(latencies_ms) * span_cost_s() * 1e3
    return per_stmt_ms / median(latencies_ms) * 100.0


def serving(tracer, recs, specs) -> dict:
    """FlightSQL client/server split and per-class latency from the
    records of the closed-loop clients."""
    m: dict[str, float] = {}
    if not recs:
        return m
    lat = [(r.t1 - r.t0) * 1e3 for r in recs]
    for cls in ("stats", "timeseries", "udf", "fetch"):
        c = [(r.t1 - r.t0) * 1e3 for r in recs if specs[r.spec].cls == cls]
        m[f"dashboard.{cls}_p50_ms"] = median(c) if c else 0.0
    p = tail_percentile(len(lat))
    if p is not None:
        m["dashboard.query_tail_ms"] = percentile(lat, p)
        m["dashboard.query_tail_pct"] = p
    m["dashboard.query_samples"] = float(len(lat))
    fetch = [r for r in recs if specs[r.spec].cls == "fetch"]
    if fetch:
        m["dashboard.fetch_rows_per_s"] = sum(r.rows for r in fetch) / sum(
            r.t1 - r.t0 for r in fetch
        )
    m["flightsql.first_batch_ms"] = median([(r.t_first - r.t0) * 1e3 for r in recs])
    rows = sum(r.rows for r in recs)
    m["flightsql.bytes_per_row"] = sum(r.nbytes for r in recs) / rows if rows else 0.0
    if tracer is not None:
        # server span of a request: resolve start → last batch streamed
        start: dict[int, float] = {}
        end: dict[int, float] = {}
        for s in tracer.finished():
            if s.req is None or s.name not in ("engine.resolve", "client.stream_batches"):
                continue
            start[s.req] = min(start.get(s.req, s.start), s.start)
            end[s.req] = max(end.get(s.req, s.end), s.end)
        server, transfer = [], []
        for r in recs:
            if r.req in start:
                srv = end[r.req] - start[r.req]
                server.append(srv * 1e3)
                transfer.append(((r.t1 - r.t0) - srv) * 1e3)
        if server:
            m["flightsql.server_ms"] = median(server)
            m["flightsql.transfer_ms"] = median(transfer)
    return m
