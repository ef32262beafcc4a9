"""Materialization pipeline + Engine facade semantics (SURVEY §3.2-3.3):
freshness (source-count hash), insert-time bucketing with late data,
extract→merge composability, partition-pruned reads, query-range
injection, JIT view instances."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from micromegas_spark.engine import Engine, JitViewSet
from micromegas_spark.materialize import LOG_STATS, Lakehouse
from micromegas_spark.operators.spans import build_thread_spans
from micromegas_spark.sources.synthetic import generate
from micromegas_spark.views import telemetry as V

HOUR = 3_600 * 10**9


@pytest.fixture(scope="module")
def telemetry(spark):
    data = generate(seed=42)
    dfs = {
        "processes": spark.createDataFrame(data["processes"]),
        "streams": spark.createDataFrame(data["streams"]),
        "blocks": spark.createDataFrame(data["blocks"]),
        "log_entries": spark.createDataFrame(data["log_entries"]),
        "measures": spark.createDataFrame(data["measures"]),
    }
    return data, dfs


def _register(spark, dfs, log_entries=None, blocks=None):
    (blocks if blocks is not None else dfs["blocks"]).join(
        dfs["streams"].select("stream_id", "tags"), "stream_id"
    ).createOrReplaceTempView("blocks")
    (log_entries if log_entries is not None else dfs["log_entries"]).createOrReplaceTempView(
        "log_entries"
    )


def _window(data):
    ins = [b["insert_time_ns"] for b in data["blocks"]]
    lo = min(ins) - min(ins) % HOUR
    hi = max(ins) - max(ins) % HOUR + HOUR
    return lo, hi


def test_materialize_freshness_and_late_data(spark, telemetry, tmp_path):
    data, dfs = telemetry
    _register(spark, dfs)
    lake = Lakehouse(spark, str(tmp_path / "wh"))
    lo, hi = _window(data)

    first = lake.materialize_range(LOG_STATS, lo, hi, HOUR)
    assert first.get("created", 0) > 0
    # second pass: everything up to date — no rebuilds (batch_update.rs:81-88)
    second = lake.materialize_range(LOG_STATS, lo, hi, HOUR)
    assert second.get("created", 0) == 0
    assert second.get("up_to_date", 0) == first.get("created", 0)

    # late arrival: one more log block lands in an old insert bucket
    some = data["log_entries"][0]
    late_block = dict(data["blocks"][0])
    late_block["block_id"] = "late-block"
    late_block["nb_objects"] = 2
    late_rows = [
        dict(some, block_id="late-block", msg="late!", level=2, properties={"error_code": "9"}),
        dict(some, block_id="late-block", msg="late2", level=2, properties={"error_code": "9"}),
    ]
    _register(
        spark,
        dfs,
        log_entries=dfs["log_entries"].unionByName(spark.createDataFrame(late_rows)),
        blocks=dfs["blocks"].unionByName(spark.createDataFrame([late_block])),
    )
    third = lake.materialize_range(LOG_STATS, lo, hi, HOUR)
    assert third.get("created", 0) == 1  # only the touched bucket rebuilt
    assert third.get("up_to_date", 0) == first.get("created", 0) - 1


def test_extract_merge_equals_direct(spark, telemetry, tmp_path):
    """Composable-aggregate contract: hourly extracts merged == one-shot
    aggregation (sql_batch_view.rs:170-175)."""
    data, dfs = telemetry
    _register(spark, dfs)
    lake = Lakehouse(spark, str(tmp_path / "wh2"))
    lo, hi = _window(data)
    lake.materialize_range(LOG_STATS, lo, hi, HOUR)
    lake.merge_partitions(LOG_STATS, lo, hi)
    assert len(lake.list_partitions("log_stats")) == 1

    merged = lake.read("log_stats").groupBy("time_bin_ns", "process_id", "level", "target").agg(
        F.sum("count").alias("count")
    )
    direct = V.log_stats_extract(
        dfs["log_entries"].withColumnRenamed("time_ns", "time_ns"), 60
    )
    m = {tuple(r)[:4]: r["count"] for r in merged.collect()}
    d = {tuple(r)[:4]: r["count"] for r in direct.collect()}
    assert m == d


def test_partition_pruned_read(spark, telemetry, tmp_path):
    data, dfs = telemetry
    _register(spark, dfs)
    lake = Lakehouse(spark, str(tmp_path / "wh3"))
    lo, hi = _window(data)
    lake.materialize_range(LOG_STATS, lo, hi, HOUR)
    mid = (lo + hi) // 2
    pruned = lake.read("log_stats", lo, mid, time_column="time_bin_ns")
    full = lake.read("log_stats")
    assert pruned.count() == full.where(
        (F.col("time_bin_ns") >= lo) & (F.col("time_bin_ns") < mid)
    ).count()


def test_engine_query_range_injection(spark, telemetry):
    data, dfs = telemetry
    eng = Engine(spark)
    eng.register_table("log_entries", dfs["log_entries"], time_column="time_ns")
    eng.register_table("processes", dfs["processes"])

    times = sorted(r["time_ns"] for r in data["log_entries"])
    b, e = times[len(times) // 4], times[3 * len(times) // 4]
    n_all = eng.query("SELECT COUNT(*) AS n FROM log_entries").collect()[0].n
    n_rng = eng.query("SELECT COUNT(*) AS n FROM log_entries", b, e).collect()[0].n
    expect = sum(1 for t in times if b <= t < e)
    assert n_rng == expect and n_rng < n_all

    # the enrichment-join query of the docs (schema-reference.md:669-685)
    out = eng.query(
        """
        SELECT p.exe, COUNT(*) AS n
        FROM log_entries l JOIN processes p ON l.process_id = p.process_id
        WHERE l.level <= 3 GROUP BY p.exe ORDER BY n DESC
        """,
        b,
        e,
    )
    assert out.count() >= 1


def test_materialize_all_respects_update_groups(spark, tmp_path):
    """Derived views materialize after their sources (maintenance.rs:309-346)."""
    from dataclasses import replace

    from micromegas_spark.materialize import BatchViewSpec, Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "whx"))
    order: list[str] = []
    lake.materialize_range = lambda spec, b, e, w: order.append(spec.name) or {}
    mk = lambda n, g: BatchViewSpec(n, "", "", "", "t", update_group=g)
    lake.materialize_all([mk("log_stats", 3000), mk("blocks", 1000), mk("log", 2000)], 0, 1, 1)
    assert order == ["blocks", "log", "log_stats"]


def test_engine_jit_view_instance(spark, tmp_path):
    from tests.test_spans import _gen_stream_events

    events = []
    for i in range(3):
        events.extend(_gen_stream_events(f"s{i}", seed=50 + i))
    edf = spark.createDataFrame(events).cache()
    builds: list[tuple] = []

    def source_count(instance, b, e):
        return edf.where(
            (F.col("stream_id") == instance)
            & (F.col("time_ns") >= b)
            & (F.col("time_ns") < e)
        ).count()

    def build(instance, b, e):
        builds.append((instance, b))
        return build_thread_spans(
            edf.where(F.col("stream_id") == instance), b, e
        ).drop("stream_id")

    eng = Engine(spark, warehouse=str(tmp_path / "wh4"))
    eng.register_jit_view_set(
        JitViewSet("thread_spans", source_count, build, time_column="begin_ns")
    )

    lo, hi = 0, 10**9
    df1 = eng.view_instance("thread_spans", "s0", lo, hi, bucket_ns=10**9)
    n1 = df1.count()
    assert n1 > 0
    n_builds = len(builds)
    # cached: no rebuild on re-query (jit freshness, log_view.rs:189-199)
    df2 = eng.view_instance("thread_spans", "s0", lo, hi, bucket_ns=10**9)
    assert df2.count() == n1
    assert len(builds) == n_builds
    # other instance: its own partitions
    df3 = eng.view_instance("thread_spans", "s1", lo, hi, bucket_ns=10**9)
    assert df3.count() > 0
    assert len(builds) == n_builds + 1


def test_schema_hash_lifecycle(spark, telemetry, tmp_path):
    """Schema evolution: partitions written under an old extract schema are
    (a) hidden from schema-hash-keyed reads (materialized_view.rs:74-96),
    (b) listed by list_incompatible_partitions (admin.py:14-86), and
    (c) removed — and only them — by retire_incompatible_partitions."""
    import dataclasses

    from micromegas_spark.materialize.batch import schema_fingerprint

    data, dfs = telemetry
    _register(spark, dfs)
    lake = Lakehouse(spark, str(tmp_path / "wh_schema"))
    lo, hi = _window(data)
    lake.materialize_range(LOG_STATS, lo, hi, HOUR)
    parts = lake.list_partitions("log_stats")
    cur = lake.current_schema_hash(LOG_STATS)
    assert all(p.schema_hash == cur for p in parts)
    assert lake.list_incompatible_partitions([LOG_STATS]).count() == 0

    # evolve the view: new extract adds a column → new current hash; the
    # already-written partitions become incompatible
    evolved = dataclasses.replace(
        LOG_STATS,
        extract_query=LOG_STATS.extract_query.replace(
            "COUNT(*) AS count", "COUNT(*) AS count, 0 AS schema_v2"
        ),
    )
    new_cur = lake.current_schema_hash(evolved)
    assert new_cur != cur
    bad = lake.list_incompatible_partitions([evolved])
    assert bad.count() == len(parts)
    assert set(bad.columns) >= {
        "view_set", "incompatible_schema_hash", "current_schema_hash", "path",
    }

    # hash-keyed read sees nothing under the new schema, everything under
    # the old one
    assert lake.read("log_stats", schema_hash=new_cur).count() == 0
    assert lake.read("log_stats", schema_hash=cur).count() > 0

    # rebuild ONE bucket under the new schema, then retire incompatible:
    # only the old-schema partitions go
    first_bucket = min(p.begin_insert_ns for p in parts)
    evolved_one = lake.regenerate_partitions(
        evolved, first_bucket, first_bucket + HOUR, HOUR
    )
    assert evolved_one.get("created", 0) == 1
    retired = lake.retire_incompatible_partitions([evolved])
    assert retired == {"log_stats": len(parts) - 1}
    survivors = lake.list_partitions("log_stats")
    assert len(survivors) == 1 and survivors[0].schema_hash == new_cur
    assert lake.read("log_stats", schema_hash=new_cur).count() > 0


def test_hll_sketch_extract_merge_equals_direct(spark, telemetry, tmp_path):
    """Sketch-typed composability: hourly HLL partials written to parquet,
    merged with hll_union_agg — the distinct-process estimate must equal a
    direct COUNT(DISTINCT) over the raw rows (exact in the sketch's
    sparse regime at test cardinalities)."""
    from micromegas_spark.materialize import PROC_STATS

    data, dfs = telemetry
    _register(spark, dfs)
    lake = Lakehouse(spark, str(tmp_path / "wh_hll"))
    lo, hi = _window(data)
    lake.materialize_range(PROC_STATS, lo, hi, HOUR)
    assert len(lake.list_partitions("proc_stats")) > 1
    lake.merge_partitions(PROC_STATS, lo, hi)
    assert len(lake.list_partitions("proc_stats")) == 1

    got = {
        (r["time_bin_ns"], r["level"]): (r["n_procs"], r["count"])
        for r in lake.read("proc_stats")
        .groupBy("time_bin_ns", "level")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("proc_sketch"))
            .cast("bigint")
            .alias("n_procs"),
            F.sum("count").alias("count"),
        )
        .collect()
    }
    want = {
        (r["b"], r["level"]): (r["n"], r["c"])
        for r in dfs["log_entries"]
        .groupBy(
            (F.col("time_ns") - F.col("time_ns") % (3600 * 10**9)).alias("b"),
            "level",
        )
        .agg(
            F.countDistinct("process_id").alias("n"),
            F.count("*").alias("c"),
        )
        .collect()
    }
    assert got == want


def test_column_stats_data_skipping(spark, tmp_path):
    """Delta-style skipping from manifest column stats: a predicate on a
    non-time column prunes partitions whose [min, max] cannot match —
    fewer FILES are opened, and results equal the unpruned read."""
    from micromegas_spark.materialize import BatchViewSpec

    # seq correlates with insert time → disjoint per-bucket seq ranges
    rows = [(int(h * HOUR + m * 60 * 10**9), h * 1000 + m, f"u{h}")
            for h in range(4) for m in range(30)]
    spark.createDataFrame(
        rows, "time_ns bigint, seq bigint, who string"
    ).createOrReplaceTempView("evseq")
    spec = BatchViewSpec(
        name="seq_view",
        count_query="SELECT COUNT(*) FROM evseq WHERE time_ns >= {begin} AND time_ns < {end}",
        extract_query="SELECT time_ns, seq, who FROM evseq WHERE time_ns >= {begin} AND time_ns < {end}",
        merge_query="SELECT * FROM source",
        time_column="time_ns",
    )
    lake = Lakehouse(spark, str(tmp_path / "wh_skip"))
    lake.materialize_range(spec, 0, 4 * HOUR, HOUR)
    parts = lake.list_partitions("seq_view")
    assert len(parts) == 4
    assert all("seq" in p.column_stats and "who" in p.column_stats for p in parts)

    pruned = lake.read("seq_view", column_predicates={"seq": (">=", 3000)})
    full = lake.read("seq_view")
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # same answer as filtering the unpruned read (inexact contract: the
    # row filter is re-applied above the scan)
    assert sorted(r["seq"] for r in pruned.collect()) == sorted(
        r["seq"] for r in full.where(F.col("seq") >= 3000).collect()
    )
    # equality predicate on the string column prunes to one partition
    one = lake.read("seq_view", column_predicates={"who": ("=", "u2")})
    assert len(one.inputFiles()) == len(
        lake.read("seq_view", column_predicates={"seq": ("=", 2005)}).inputFiles()
    )
    assert {r["who"] for r in one.collect()} == {"u2"}


def test_read_rejects_an_unsupported_column_operator(spark, tmp_path):
    """One operator table drives both the stats test and the row filter;
    an operator outside it is an InvalidArgument raised before pruning —
    not 0 rows when no partition survives the stats test, and not a
    bare KeyError from the row filter when one does."""
    from micromegas_spark.flightsql.errors import InvalidArgument
    from micromegas_spark.materialize import BatchViewSpec

    spark.createDataFrame(
        [(int(h * HOUR + 1), h) for h in range(2)], "time_ns bigint, x bigint"
    ).createOrReplaceTempView("evop")
    spec = BatchViewSpec(
        name="op_view",
        count_query="SELECT COUNT(*) FROM evop WHERE time_ns >= {begin} AND time_ns < {end}",
        extract_query="SELECT time_ns, x FROM evop WHERE time_ns >= {begin} AND time_ns < {end}",
        merge_query="SELECT * FROM source",
        time_column="time_ns",
    )
    lake = Lakehouse(spark, str(tmp_path / "wh_op"))
    lake.materialize_range(spec, 0, 2 * HOUR, HOUR)
    assert all(p.column_stats["x"][0] >= 0 for p in lake.list_partitions("op_view"))
    # every partition's minimum is >= 0: "!=" fell through to the "<="
    # stats test and pruned them all
    with pytest.raises(InvalidArgument, match="'!='"):
        lake.read("op_view", column_predicates={"x": ("!=", -1)})
    # a surviving partition: the row filter looked the operator up
    with pytest.raises(InvalidArgument, match="'!='"):
        lake.read("op_view", column_predicates={"x": ("!=", 5)})
    assert lake.read("op_view", column_predicates={"x": (">=", 1)}).count() == 1


def test_column_stats_nan_never_prunes_and_dates_excluded(spark, tmp_path):
    """A partition whose double column contains NaN records no stats for
    it (NaN bounds would prune everything); date columns are excluded
    from stats (not JSON-serializable) but the view still materializes."""
    from micromegas_spark.materialize import BatchViewSpec

    spark.sql(
        "SELECT CAST(0 AS BIGINT) AS time_ns, CAST('NaN' AS DOUBLE) AS x,"
        "       DATE'2026-01-01' AS d, 7 AS ok"
        " UNION ALL SELECT 60000000000, 5.0, DATE'2026-01-02', 9"
    ).createOrReplaceTempView("evnan")
    spec = BatchViewSpec(
        name="nan_view",
        count_query="SELECT COUNT(*) FROM evnan WHERE time_ns >= {begin} AND time_ns < {end}",
        extract_query="SELECT * FROM evnan WHERE time_ns >= {begin} AND time_ns < {end}",
        merge_query="SELECT * FROM source",
        time_column="time_ns",
    )
    lake = Lakehouse(spark, str(tmp_path / "wh_nan"))
    assert lake.materialize_bucket(spec, 0, HOUR) == "created"
    (p,) = lake.list_partitions("nan_view")
    assert "x" not in p.column_stats and "d" not in p.column_stats
    assert p.column_stats["ok"] == [7, 9]
    # NaN-bearing column: predicate never prunes, row filter still applies
    got = lake.read("nan_view", column_predicates={"x": ("=", 5.0)})
    assert [r["x"] for r in got.collect()] == [5.0]


def test_engine_query_log_self_observability(spark, telemetry):
    """Every Engine.query records its own telemetry row; the log is
    queryable through the same SQL surface (the reference's 'sql spans
    on' self-observability, query.rs:207-256)."""
    data, dfs = telemetry
    eng = Engine(spark)
    eng.register_table("log_entries", dfs["log_entries"], time_column="time_ns")
    eng.query("SELECT COUNT(*) AS n FROM log_entries").collect()
    eng.query("SELECT level, COUNT(*) AS n FROM log_entries GROUP BY level", 0, 2**62).collect()
    eng.query_log()
    rows = eng.query("SELECT sql, begin_ns, plan_ms FROM query_log ORDER BY time_ns").collect()
    assert len(rows) >= 2
    assert rows[0]["sql"].startswith("SELECT COUNT(*)")
    assert rows[1]["begin_ns"] == 0
    assert all(r["plan_ms"] >= 0 for r in rows)


def test_manifest_is_a_queryable_parquet_table(spark, tmp_path):
    """Round-3: the partition catalog is parquet, one file per view with a
    shared schema — the whole catalog is queryable as a table by reading
    the views' head manifest files with spark.read.parquet."""
    import os

    from micromegas_spark.materialize import BatchViewSpec, Lakehouse
    from micromegas_spark.materialize.batch import _head

    HOUR = 3600 * 10**9
    rows = [(int(h * HOUR + 1), h) for h in range(3)]
    spark.createDataFrame(rows, "time_ns bigint, v bigint").createOrReplaceTempView("evpm")
    spec = BatchViewSpec(
        name="pm_view",
        count_query="SELECT COUNT(*) FROM evpm WHERE time_ns >= {begin} AND time_ns < {end}",
        extract_query="SELECT time_ns, v FROM evpm WHERE time_ns >= {begin} AND time_ns < {end}",
        merge_query="SELECT * FROM source",
        time_column="time_ns",
    )
    lake = Lakehouse(spark, str(tmp_path / "wh_pm"))
    lake.materialize_range(spec, 0, 3 * HOUR, HOUR)
    # catalog is a real parquet file, queryable without the Lakehouse
    # class (r11: at the generation chain's winning file — the CAS
    # commit names manifests <view>.g<gen>.parquet)
    mfile = _head(lake._manifest_candidates("pm_view"))[1]
    mpath = lake.fs.fs_path(lake.fs.url("_partitions", mfile))
    assert mpath.endswith(".parquet") and os.path.exists(mpath)
    tbl = spark.read.parquet(lake.fs.url("_partitions", mfile))
    got = tbl.where("view = 'pm_view'").select("begin_insert_ns").count()
    assert got == 3
    # column stats survive the JSON column round-trip
    parts = lake.list_partitions("pm_view")
    assert all("v" in p.column_stats for p in parts)


def test_read_of_a_window_with_no_partitions_is_typed(spark, tmp_path):
    """When pruning leaves no partition, Lakehouse.read returns an empty
    frame with the view's schema, so an aggregate over the window still
    plans (a schema-less frame failed with UNRESOLVED_COLUMN)."""
    import dataclasses

    eng = Engine(spark, warehouse=str(tmp_path / "wh_empty"))
    spark.createDataFrame(
        [(1, 5 * 60 * 10**9, 10, "p", 4, "t", ["log"])],
        "nb_objects bigint, insert_time_ns bigint, time_ns bigint, "
        "process_id string, level int, target string, tags array<string>",
    ).createOrReplaceTempView("empty_src")
    spec = dataclasses.replace(
        LOG_STATS,
        name="log_stats_empty",
        count_query=LOG_STATS.count_query.replace("blocks", "empty_src"),
        extract_query=LOG_STATS.extract_query.replace("log_entries", "empty_src"),
    )
    eng.lakehouse.materialize_range(spec, 0, HOUR, HOUR)
    eng.register_view(
        "log_stats_empty",
        lambda b, e: eng.lakehouse.read("log_stats_empty", b, e, time_column="time_bin_ns"),
    )
    sql = (
        "SELECT time_bin_ns, SUM(count) AS n FROM log_stats_empty "
        "GROUP BY 1 ORDER BY 1"
    )
    assert eng.query(sql, 10**12, 2 * 10**12).collect() == []
    assert [tuple(r) for r in eng.query(sql, 0, 10**12).collect()] == [(0, 1)]


def test_retire_partition_by_file(spark, tmp_path):
    """Reference parity: retire a single partition by its storage path
    (functions-reference.md retire_partition_by_file)."""
    from micromegas_spark.materialize import BatchViewSpec, Lakehouse

    HOUR = 3600 * 10**9
    rows = [(int(h * HOUR + 1), h) for h in range(3)]
    spark.createDataFrame(rows, "time_ns bigint, v bigint").createOrReplaceTempView("evrf")
    spec = BatchViewSpec(
        name="rf_view",
        count_query="SELECT COUNT(*) FROM evrf WHERE time_ns >= {begin} AND time_ns < {end}",
        extract_query="SELECT time_ns, v FROM evrf WHERE time_ns >= {begin} AND time_ns < {end}",
        merge_query="SELECT * FROM source",
        time_column="time_ns",
    )
    lake = Lakehouse(spark, str(tmp_path / "wh_rf"))
    lake.materialize_range(spec, 0, 3 * HOUR, HOUR)
    parts = lake.list_partitions("rf_view")
    assert len(parts) == 3
    victim = parts[1].path
    assert lake.retire_partition_by_file(victim) == 1
    left = lake.list_partitions("rf_view")
    assert len(left) == 2 and all(p.path != victim for p in left)
    import os

    assert not os.path.exists(victim)
    assert lake.retire_partition_by_file(victim) == 0  # already gone
    # rows from the remaining partitions still read fine
    assert lake.read("rf_view").count() == 2


def test_maintenance_tick_fine_recent_coarse_old_retention(spark, tmp_path):
    """The daemon policy (maintenance.md:74-98): recent data in fine
    buckets, complete older coarse buckets consolidated to one partition,
    retention horizon enforced — and repeated ticks are idempotent."""
    from micromegas_spark.materialize import BatchViewSpec, Lakehouse

    MIN = 60 * 10**9
    HOUR = 3600 * 10**9
    # events spread over 3 hours, several per minute-bucket
    rows = [
        (int(h * HOUR + m * MIN + 7), h * 100 + m)
        for h in range(3)
        for m in range(0, 60, 10)
    ]
    spark.createDataFrame(rows, "time_ns bigint, v bigint").createOrReplaceTempView(
        "evmt"
    )
    spec = BatchViewSpec(
        name="mt_view",
        count_query="SELECT COUNT(*) FROM evmt WHERE time_ns >= {begin} AND time_ns < {end}",
        extract_query="SELECT time_ns, v FROM evmt WHERE time_ns >= {begin} AND time_ns < {end}",
        merge_query="SELECT * FROM source",
        time_column="time_ns",
    )
    lake = Lakehouse(spark, str(tmp_path / "wh_mt"))
    now = 3 * HOUR  # end of hour 2
    # simulate history: all three hours were materialized fine earlier
    lake.materialize_range(spec, 0, 3 * HOUR, MIN)
    n_before = len(lake.list_partitions("mt_view"))
    assert n_before == 18  # 6 populated minute buckets per hour

    stats = lake.maintenance_tick(
        spec, now, fine_ns=MIN, coarse_ns=HOUR, retention_ns=None
    )
    parts = lake.list_partitions("mt_view")
    # hours 0 and 1 consolidated to one partition each; hour 2 (recent
    # window) stays fine-grained
    assert stats["merged_buckets"] == 2
    coarse = [p for p in parts if p.end_insert_ns - p.begin_insert_ns == HOUR]
    fine = [p for p in parts if p.end_insert_ns - p.begin_insert_ns <= MIN]
    assert len(coarse) == 2 and len(fine) == 6
    # totals preserved through consolidation
    assert lake.read("mt_view").count() == len(rows)

    # idempotent: a second tick changes nothing
    stats2 = lake.maintenance_tick(spec, now, fine_ns=MIN, coarse_ns=HOUR)
    assert stats2["merged_buckets"] == 0
    assert stats2["fine"].get("created", 0) == 0
    assert len(lake.list_partitions("mt_view")) == len(parts)

    # retention: drop everything older than 90 minutes
    stats3 = lake.maintenance_tick(
        spec, now, fine_ns=MIN, coarse_ns=HOUR, retention_ns=90 * MIN
    )
    assert stats3["retired"] >= 1
    assert all(
        p.end_insert_ns > now - 90 * MIN for p in lake.list_partitions("mt_view")
    )


def test_concurrent_materialize_consistent_manifest(spark, tmp_path):
    """Two writers ticking the SAME view and range concurrently (VERDICT
    r3 #7): the per-view manifest lock serializes their read-modify-write
    cycles, so the catalog ends with exactly one partition per bucket,
    no lost updates, and the second writer observes the first's
    freshness (statuses sum to created once per bucket). Also: writers
    on DIFFERENT views do not contend for correctness (same invariants)."""
    import threading

    from micromegas_spark.materialize import BatchViewSpec, Lakehouse

    HOUR = 3600 * 10**9
    n_buckets = 4
    spark.createDataFrame(
        [(int(h * HOUR + i), h * 10 + i) for h in range(n_buckets) for i in range(5)],
        "time_ns bigint, v bigint",
    ).createOrReplaceTempView("ev_mw")
    spec = BatchViewSpec(
        name="mw_view",
        count_query="SELECT COUNT(*) FROM ev_mw WHERE time_ns >= {begin} AND time_ns < {end}",
        extract_query="SELECT time_ns, v FROM ev_mw WHERE time_ns >= {begin} AND time_ns < {end}",
        merge_query="SELECT * FROM source",
        time_column="time_ns",
    )
    wh = str(tmp_path / "wh_mw")
    results: list[dict] = []
    errors: list[Exception] = []

    def writer() -> None:
        try:
            # a fresh Lakehouse per thread: two INDEPENDENT writers over
            # one warehouse, as two maintenance processes would be
            lake = Lakehouse(spark, wh)
            results.append(lake.materialize_range(spec, 0, n_buckets * HOUR, HOUR))
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=writer) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    lake = Lakehouse(spark, wh)
    parts = lake.list_partitions("mw_view")
    buckets = sorted((p.begin_insert_ns, p.end_insert_ns) for p in parts)
    assert buckets == [(h * HOUR, (h + 1) * HOUR) for h in range(n_buckets)]
    # no lost updates: every bucket was created exactly once across both
    # writers; the loser of each race saw up_to_date, never re-created
    assert sum(r.get("created", 0) for r in results) == n_buckets
    assert sum(r.get("up_to_date", 0) for r in results) == n_buckets
    total = lake.read("mw_view").count()
    assert total == n_buckets * 5


def test_retire_partition_by_metadata(spark, tmp_path):
    """Reference parity: retire ONE partition by its exact identifiers
    (functions-reference.md:73 retire_partition_by_metadata — the variant
    the reference steers admins toward). Wrong instance / non-exact
    bounds retire nothing."""
    from micromegas_spark.materialize import BatchViewSpec, Lakehouse

    HOUR = 3600 * 10**9
    rows = [(int(h * HOUR + 1), h) for h in range(3)]
    spark.createDataFrame(rows, "time_ns bigint, v bigint").createOrReplaceTempView("evrm")
    spec = BatchViewSpec(
        name="rm_view",
        count_query="SELECT COUNT(*) FROM evrm WHERE time_ns >= {begin} AND time_ns < {end}",
        extract_query="SELECT time_ns, v FROM evrm WHERE time_ns >= {begin} AND time_ns < {end}",
        merge_query="SELECT * FROM source",
        time_column="time_ns",
    )
    lake = Lakehouse(spark, str(tmp_path / "wh_rm"))
    lake.materialize_range(spec, 0, 3 * HOUR, HOUR)
    assert len(lake.list_partitions("rm_view")) == 3
    # non-exact range: a range COVERING the bucket is not its identifier
    assert lake.retire_partition_by_metadata("rm_view", "global", 0, 3 * HOUR) == 0
    # wrong instance: this catalog only holds the global instance
    assert lake.retire_partition_by_metadata("rm_view", "proc-123", HOUR, 2 * HOUR) == 0
    import os

    victim = [p for p in lake.list_partitions("rm_view") if p.begin_insert_ns == HOUR][0]
    assert lake.retire_partition_by_metadata("rm_view", "global", HOUR, 2 * HOUR) == 1
    left = lake.list_partitions("rm_view")
    assert {p.begin_insert_ns for p in left} == {0, 2 * HOUR}
    assert not os.path.exists(victim.path)


def test_hll_union_preserves_lgk(spark):
    """The merge path must not downgrade sketch precision. Round 6's
    SCALE.md claimed Spark's hll_union_agg caps merges at lgMaxK=12;
    measured here to be FALSE on this Spark — the union ADOPTS the
    partials' lgConfigK, so a union of lgK-20 partials is
    estimate-identical to one direct lgK-20 sketch over the same rows.
    Pinned so a regression (a future union cap, or someone dropping the
    explicit lgK from the extract side) fails loudly; cardinality is
    chosen far past the sparse-exact regime so the estimator is actually
    exercised. The merged estimate is not BIT-identical to direct
    insertion (a direct sketch keeps its HIP estimator; a union falls
    back to the composite estimator), so the pin is a tolerance sized to
    lgK-20 (RSE 0.10%) that a lgK-12 downgrade (RSE 1.6%) cannot pass."""
    N = 200_000
    df = spark.range(N).select((F.col("id") % 64).alias("g"), "id")
    direct = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("id", F.lit(20)))
        .cast("bigint")
        .alias("e")
    ).collect()[0]["e"]
    merged = (
        df.groupBy("g")
        .agg(F.hll_sketch_agg("id", F.lit(20)).alias("sk"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias("e")
        )
        .collect()[0]["e"]
    )
    # extract≡merge≡direct at lgK-20 precision: a union capped at
    # lgK=12 would sit ~1.6% RSE from the direct estimate
    assert abs(merged - direct) / N < 0.003
    assert abs(direct - N) / N < 0.005  # lgK-20 RSE ~0.10%; 5x headroom
    assert abs(merged - N) / N < 0.005


def test_hll_merge_tolerates_legacy_lgk_partials(spark, telemetry, tmp_path):
    """Upgrade path: a warehouse materialized BEFORE the lgK=16 bump holds
    lgK=12 partials; the merge query must keep unioning the mixed set
    (allowDifferentLgConfigK downgrades to the smallest lgK among inputs)
    instead of failing the first post-upgrade merge."""
    import dataclasses

    from micromegas_spark.materialize import PROC_STATS

    data, dfs = telemetry
    _register(spark, dfs)
    lake = Lakehouse(spark, str(tmp_path / "wh_hll_mixed"))
    lo, hi = _window(data)
    mid = lo + ((hi - lo) // (2 * HOUR)) * HOUR or (lo + HOUR)
    # first half with the legacy default lgK=12 extract, second half with
    # the current lgK=16 spec — exactly what an in-place upgrade leaves
    legacy = dataclasses.replace(
        PROC_STATS,
        extract_query=PROC_STATS.extract_query.replace(
            "hll_sketch_agg(process_id, 16)", "hll_sketch_agg(process_id, 12)"
        ),
    )
    lake.materialize_range(legacy, lo, mid, HOUR)
    lake.materialize_range(PROC_STATS, mid, hi, HOUR)
    assert len(lake.list_partitions("proc_stats")) > 1
    lake.merge_partitions(PROC_STATS, lo, hi)  # must not raise
    assert len(lake.list_partitions("proc_stats")) == 1
    got = (
        lake.read("proc_stats")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("proc_sketch", True))
            .cast("bigint")
            .alias("n")
        )
        .collect()[0]["n"]
    )
    want = dfs["log_entries"].select("process_id").distinct().count()
    assert got == want  # sparse regime at test cardinality: exact
