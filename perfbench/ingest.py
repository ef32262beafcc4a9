"""``ingest``: one FlightSQL writer runs closed-loop cycles while two
readers run the dashboard query mix (mix.py). A cycle, for the next
one-minute insert-time bucket of the generated telemetry:

1. DoPut (``bulk_ingest``) the bucket's blocks, then its log entries;
2. refresh the session's views with a query (the admin materialize path
   reads the temp views the last resolve() registered — NOTES.md);
3. ``materialize_partitions('log_stats', …)`` over the last WINDOW
   buckets: the new bucket is created, the one before it gets the
   up-to-date check;
4. when the bucket closes a coarse bucket of MERGE_BUCKETS minutes,
   ``merge_partitions`` over the coarse bucket before it;
5. probe log_stats until SUM(count) equals the log entries ingested.

The cadence is the reference maintenance daemon's (SURVEY.md §2.9,
§3.3): the task of cadence Δ materializes [now-2Δ, now-Δ), and a coarser
cadence finds the finer partitions of its bucket and merges them.

Freshness is DoPut start → probe success. materialize, fslayer and
client.bulk_ingest do most of the work; the readers show what the write
path costs reads (they share _PLAN_LOCK, the cores and the growing
ingest file listing)."""

from __future__ import annotations

import os
import random
import threading
import time

import pyarrow.compute as pc

import lake
import mix
import serving
from stats import median
from tracing import tag_sql

N_READERS = 2  # writer + readers: 3 connections on 4 cores
BUCKET_S = 60  # the daemon's minute cadence
# the daemon's minute window [now-2Δ, now-Δ) plus the bucket just
# ingested, which must become visible within its cycle
WINDOW = 2
# coarse cadence in minutes: the daemon merges at the hour; a 15 s run
# ingests a handful of minutes, so the coarse bucket is scaled down
MERGE_BUCKETS = 4
BASE_S = 3600  # the first hour of inserts is loaded in set-up
# minute buckets set-up ingests after the base hour: the first coarse
# merge of the run then finds MERGE_BUCKETS fine partitions to merge
SETUP_BUCKETS = 2 * MERGE_BUCKETS - 1
PROBE_TIMEOUT_S = 30.0


class State:
    pass


def merge_range(now_ns: int) -> tuple[int, int] | None:
    """The coarse bucket [now-2Δc, now-Δc) to merge when ``now_ns`` ends a
    coarse bucket of Δc = MERGE_BUCKETS minutes, else None."""
    coarse = MERGE_BUCKETS * BUCKET_S * 10**9
    if now_ns % coarse:
        return None
    return now_ns - 2 * coarse, now_ns - coarse


def _slice(tbl, lo: int, hi: int):
    col = tbl.column("insert_time_ns")
    return tbl.filter(pc.and_(pc.greater_equal(col, lo), pc.less(col, hi)))


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _local(st, url: str) -> str:
    return st.engine.fs.fs_path(url)


def _build_lake(ctx) -> State:
    """Generate the telemetry, write it as parquet, register the views of
    the tables the writer does not DoPut and serve them over FlightSQL.
    Records datagen_s and lake_build_s."""
    from micromegas_spark.engine import Engine
    from micromegas_spark.flightsql.server import FlightSQLServer

    st = State()
    t0 = time.perf_counter()
    st.tables = lake.generate_telemetry(ctx.seed)
    paths = lake.write_parquet(st.tables, os.path.join(ctx.scratch, "data"))
    ctx.timings["datagen_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = ctx.spark
    st.engine = eng = Engine(spark, warehouse=os.path.join(ctx.scratch, "warehouse"))
    st.views = lake.ViewCounter()
    for name in lake.TABLES:
        if name in ("blocks", "log_entries"):
            continue
        df = spark.read.parquet(paths[name])
        eng.register_view(
            name, st.views.counted(lambda b, e, _df=df: _df), lake.TIME_COLUMNS.get(name)
        )
    st.server = FlightSQLServer(eng).__enter__()
    ctx.timings["lake_build_s"] = time.perf_counter() - t0
    return st


def _warm_up(ctx, st) -> None:
    """Each distinct template once over FlightSQL, spread over the
    readers' connections (class loading, codegen, Python workers) —
    untimed, uncounted."""
    from micromegas_spark.flightsql.client import FlightSQLClient

    firsts: dict[str, object] = {}
    for s in st.specs:
        firsts.setdefault(s.sql.split("WHERE")[0], s)
    todo = list(firsts.values())
    errors: list = []

    def client(mine) -> None:
        try:
            with FlightSQLClient(st.server.uri) as fc:
                for s in mine:
                    serving.run_query(fc, s, 0)
        except Exception as e:
            errors.append(e)

    t0 = time.perf_counter()
    threads = [
        threading.Thread(target=client, args=(todo[c::N_READERS],))
        for c in range(N_READERS)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    if errors:
        raise errors[0]
    ctx.timings["warmup_s"] += time.perf_counter() - t0


def setup(ctx) -> State:
    from micromegas_spark.flightsql.client import FlightSQLClient
    from micromegas_spark.materialize import LOG_STATS

    st = _build_lake(ctx)
    t0 = time.perf_counter()
    bucket = BUCKET_S * 10**9
    st.lo, _ = lake.insert_range(st.tables, BASE_S * 10**9)
    base_end = st.lo + BASE_S * 10**9
    st.ready_end = base_end + SETUP_BUCKETS * bucket  # materialized in set-up
    _, hi = lake.insert_range(st.tables, bucket)
    st.cycles = []
    b = st.ready_end
    while b < hi:
        blocks = _slice(st.tables["blocks"], b, b + bucket)
        if blocks.num_rows:
            st.cycles.append((b, blocks, _slice(st.tables["log_entries"], b, b + bucket)))
        b += bucket
    st.next_cycle = 0
    st.req = 10**9  # writer request ids, apart from the readers'
    st.puts: list[tuple[float, int]] = []  # (DoPut start, its bucket's end)
    st.gate = serving.Gate()
    st.engine.register_batch_view(LOG_STATS)
    st.writer = FlightSQLClient(st.server.uri)
    st.writer.bulk_ingest("blocks", _slice(st.tables["blocks"], st.lo, st.ready_end))
    logs = _slice(st.tables["log_entries"], st.lo, st.ready_end)
    st.writer.bulk_ingest("log_entries", logs)
    st.ingested = logs.num_rows  # log entries DoPut so far
    # readers' windows stay inside the base hour's events: a log_stats
    # read whose range no partition overlaps fails to plan (NOTES.md)
    st.specs = mix.make_specs(
        random.Random(f"{ctx.seed}/ingest"),
        *lake.event_range({"log_entries": _slice(logs, st.lo, base_end)}),
        ins=st.ready_end,
    )
    _query(st, "SELECT 1 AS refreshed")
    _tick(st, st.lo, base_end, BASE_S)
    _tick(st, base_end, st.ready_end, BUCKET_S)
    lake.register_log_stats(st.engine, st.views)
    st.seen_parts = _partitions(st)
    ctx.timings["lake_build_s"] += time.perf_counter() - t0
    _warm_up(ctx, st)
    st.recs = []
    return st


def _query(st, sql: str):
    st.req += 1
    return st.writer.query_arrow(tag_sql(sql, st.req))


def _tick(st, lo: int, hi: int, bucket_s: int) -> list[str]:
    """materialize_partitions over [lo, hi) → one status per bucket."""
    log = _query(
        st, f"SELECT * FROM materialize_partitions('log_stats', '{lo}', '{hi}', {bucket_s})"
    )
    msgs = log.column("msg").to_pylist()
    errors = [m for m in msgs if m.startswith("error")]
    if errors:
        raise RuntimeError(f"materialize_partitions: {errors[0]}")
    return [m.rsplit(": ", 1)[1] for m in msgs if m.startswith("log_stats[")]


def _partitions(st) -> dict[str, int]:
    return {
        p.path: _du(_local(st, p.path))
        for p in st.engine.lakehouse.list_partitions("log_stats")
    }


def _cycle(st) -> dict | None:
    """One ingest cycle; None when the generated telemetry is used up."""
    from micromegas_spark.materialize import LOG_STATS

    if st.next_cycle >= len(st.cycles):
        return None
    b, blocks, logs = st.cycles[st.next_cycle]
    st.next_cycle += 1
    now = b + BUCKET_S * 10**9
    rec = {"events": logs.num_rows, "merged": None}
    t0 = time.perf_counter()
    st.puts.append((t0, now))
    st.writer.bulk_ingest("blocks", blocks)
    st.writer.bulk_ingest("log_entries", logs)
    st.ingested += logs.num_rows
    t1 = time.perf_counter()
    _query(st, "SELECT 1 AS refreshed")
    t2 = time.perf_counter()
    statuses = _tick(st, now - WINDOW * BUCKET_S * 10**9, now, BUCKET_S)
    t3 = time.perf_counter()
    coarse = merge_range(now)
    if coarse is not None:
        # the merge deletes the partitions it replaces as soon as it
        # commits, under statements that planned over them (NOTES.md)
        with st.gate.write():
            rec["merged"] = st.engine.lakehouse.merge_partitions(LOG_STATS, *coarse)
    t4 = time.perf_counter()
    deadline = t4 + PROBE_TIMEOUT_S
    while True:
        n = _query(st, "SELECT SUM(count) AS n FROM log_stats").column("n")[0].as_py()
        if n == st.ingested or time.perf_counter() > deadline:
            break
    t5 = time.perf_counter()
    rec.update(
        put_ms=(t1 - t0) * 1e3, refresh_ms=(t2 - t1) * 1e3, tick_ms=(t3 - t2) * 1e3,
        merge_ms=(t4 - t3) * 1e3, freshness_ms=(t5 - t0) * 1e3, wall_s=t5 - t0,
        visible=n == st.ingested, statuses=statuses,
    )
    parts = _partitions(st)
    rec["written_bytes"] = sum(v for k, v in parts.items() if k not in st.seen_parts)
    st.seen_parts = parts
    return rec


def measure(ctx, st, seconds: float) -> dict:
    recs: list = []
    builds0 = st.views.builds
    start = time.perf_counter()
    stop_at = start + seconds
    readers = serving.start_clients(
        st.server.uri, st.specs, N_READERS, stop_at, str(ctx.seed),
        ctx.outcomes, recs, st.gate,
    )
    cycles = []
    try:
        while time.perf_counter() < stop_at:
            op = ctx.outcomes.attempt()
            try:
                rec = _cycle(st)
            except Exception as e:
                ctx.outcomes.fail(op, f"ingest cycle: {type(e).__name__}: {e}")
                continue
            if rec is None:
                ctx.outcomes.fail(op, "ingest: generated telemetry used up")
                break
            if not rec["visible"]:
                ctx.outcomes.fail(op, "ingest: rows not visible in log_stats")
            if rec["merged"] not in (None, "merged"):
                ctx.outcomes.fail(op, f"ingest: merge_partitions returned {rec['merged']}")
            cycles.append(rec)
    finally:
        serving.join_clients(readers, seconds + 120)
    # the readers' own window: the writer's last cycle may run past it
    wall = max((r.t1 for r in recs), default=time.perf_counter()) - start
    st.recs += recs
    return {
        "recs": recs,
        "cycles": cycles,
        "latencies_ms": [(r.t1 - r.t0) * 1e3 for r in recs],
        "queries_per_s": len(recs) / wall,
        "view_builds": st.views.builds - builds0,
    }


def _cuts(st, rec) -> tuple[int, int]:
    """Insert-time cuts bounding what a reader statement could count:
    everything set-up materialized, at most the buckets whose DoPut had
    started by the time its last batch arrived."""
    return st.ready_end, max(
        (end for t, end in st.puts if t < rec.t1), default=st.ready_end
    )


def verify(ctx, st) -> None:
    """Every reader result is compared with DuckDB over the same rows;
    the lake must hold exactly the log entries ingested, and log_stats
    must count every one of them."""
    con = lake.duck_connect(st.tables)
    try:
        serving.verify(st.recs, st.specs, con, ctx.outcomes, lambda r: _cuts(st, r))
    finally:
        con.close()
    op = ctx.outcomes.attempt()
    n_logs = _query(st, "SELECT COUNT(*) AS n FROM log_entries").column("n")[0].as_py()
    n_stats = _query(st, "SELECT SUM(count) AS n FROM log_stats").column("n")[0].as_py()
    if not n_logs == n_stats == st.ingested:
        ctx.outcomes.fail(
            op, f"ingest: {st.ingested} ingested, {n_logs} in log_entries, "
            f"{n_stats} counted by log_stats",
        )


def layer_metrics(ctx, st, tracer, res) -> dict:
    import layers

    m = layers.serving(tracer, res["recs"], st.specs)
    cyc = res["cycles"]
    if cyc:
        events = sum(c["events"] for c in cyc)
        m["ingest.freshness_p50_ms"] = median([c["freshness_ms"] for c in cyc])
        m["ingest.events_per_s"] = events / sum(c["wall_s"] for c in cyc)
        m["ingest.cycles"] = float(len(cyc))
        m["engine.view_refresh_ms"] = median([c["refresh_ms"] for c in cyc])
        statuses = [s for c in cyc for s in c["statuses"]]
        m["materialize.useful_ratio"] = statuses.count("created") / len(statuses)
        m["materialize.bytes_written_per_event"] = sum(
            c["written_bytes"] for c in cyc
        ) / events
    ingest_dir = _local(st, st.engine.fs.url("ingest"))
    files = [
        f for _r, _d, fs in os.walk(ingest_dir) for f in fs if f.endswith(".parquet")
    ]
    m["client.ingest_files"] = float(len(files))
    m["ingest.storage_bytes_per_event"] = (
        _du(ingest_dir) + sum(st.seen_parts.values())
    ) / st.ingested
    m["materialize.live_partitions"] = float(len(st.seen_parts))
    return m


def teardown(st) -> None:
    st.writer.close()
    st.server.shutdown()
