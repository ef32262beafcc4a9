"""Client facade: SQL → pandas/Arrow/stream with out-of-band range."""

from __future__ import annotations

from micromegas_spark.client import Client
from micromegas_spark.engine import Engine
from tests.conftest import SF_SMOKE, arrow_batch_rows


def test_client_query_surfaces(spark):
    eng = Engine.from_test_tables(spark, SF_SMOKE)
    c = Client(eng)

    pdf = c.query("SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1 ORDER BY 1")
    assert set(pdf.columns) == {"event_type", "n"} and len(pdf) == 5

    tbl = c.query_arrow("SELECT COUNT(*) AS n FROM lineitem")
    assert tbl.column("n")[0].as_py() == 6000

    batches = list(c.query_stream("SELECT event_id FROM events ORDER BY event_id LIMIT 100"))
    assert sum(b.num_rows for b in batches) == 100

    # out-of-band range bounds the events view — in epoch-NANOSECONDS,
    # the engine's documented unit (events.ts is the ns column)
    lo = c.query("SELECT MIN(ts) AS m FROM events")["m"][0]
    hi = c.query("SELECT MAX(ts) AS m FROM events")["m"][0]
    mid = int((lo + hi) // 2)
    n_all = c.query("SELECT COUNT(*) AS n FROM events")["n"][0]
    n_half = c.query("SELECT COUNT(*) AS n FROM events", int(lo), mid)["n"][0]
    assert 0 < n_half < n_all

    # cross-table join through the same facade
    j = c.query(
        """
        SELECT r.r_name, COUNT(*) AS n
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY r.r_name
        """
    )
    assert len(j) == 5


def test_prepared_statement(spark):
    from micromegas_spark.client import Client
    from micromegas_spark.engine import Engine

    c = Client(Engine.from_test_tables(spark, SF_SMOKE))
    stmt = c.prepare("SELECT COUNT(*) AS n FROM events WHERE event_type = :et")
    n_err = stmt.execute({"et": "error"})["n"][0]
    n_click = stmt.execute({"et": "click"})["n"][0]
    assert n_err == 201 and n_click == 210
    # with a range bound, the view re-registration bounds the same statement
    lo = c.query("SELECT MIN(ts) AS m FROM events")["m"][0]
    hi = c.query("SELECT MAX(ts) AS m FROM events")["m"][0]
    n_half = stmt.execute({"et": "error"}, int(lo), int((lo + hi) // 2))["n"][0]
    assert 0 < n_half < n_err


def test_retention(spark, tmp_path):
    from micromegas_spark.materialize import LOG_STATS, Lakehouse
    from micromegas_spark.sources.synthetic import generate

    data = generate(seed=13)
    spark.createDataFrame(data["blocks"]).join(
        spark.createDataFrame(data["streams"]).select("stream_id", "tags"), "stream_id"
    ).createOrReplaceTempView("blocks")
    spark.createDataFrame(data["log_entries"]).createOrReplaceTempView("log_entries")
    lake = Lakehouse(spark, str(tmp_path / "wh"))
    HOUR = 3600 * 10**9
    ins = [b["insert_time_ns"] for b in data["blocks"]]
    lo = min(ins) - min(ins) % HOUR
    hi = max(ins) - max(ins) % HOUR + HOUR
    lake.materialize_range(LOG_STATS, lo, hi, HOUR)
    n = len(lake.list_partitions("log_stats"))
    dropped = lake.retire_older_than("log_stats", lo + HOUR)
    assert dropped >= 1
    assert len(lake.list_partitions("log_stats")) == n - dropped


def test_client_admin_and_bulk_ingest(spark, tmp_path):
    import pandas as pd

    from micromegas_spark.materialize import LOG_STATS
    from micromegas_spark.sources.synthetic import generate

    HOUR = 3_600 * 10**9
    data = generate(seed=7)
    spark.createDataFrame(data["blocks"]).join(
        spark.createDataFrame(data["streams"]).select("stream_id", "tags"), "stream_id"
    ).createOrReplaceTempView("blocks")
    spark.createDataFrame(data["log_entries"]).createOrReplaceTempView("log_entries")

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.register_batch_view(LOG_STATS)
    c = Client(eng)

    ins = [b["insert_time_ns"] for b in data["blocks"]]
    lo = min(ins) - min(ins) % HOUR
    hi = max(ins) - max(ins) % HOUR + HOUR

    stats = c.materialize_partitions("log_stats", lo, hi, 3600)
    assert stats.get("created", 0) >= 1
    n_parts = len(eng.lakehouse.list_partitions("log_stats"))
    assert n_parts >= 1

    # regenerate force-rebuilds the same buckets
    stats2 = c.regenerate_partitions("log_stats", lo, hi, 3600)
    assert stats2.get("created", 0) == stats.get("created", 0) + stats.get(
        "empty", 0
    ) or stats2.get("created", 0) >= 1

    # retire drops them all
    dropped = c.retire_partitions("log_stats", lo, hi)
    assert dropped >= n_parts - 1
    assert eng.lakehouse.list_partitions("log_stats") == []

    # bulk ingest: rows land append-only and are immediately queryable
    n = c.bulk_ingest(
        "custom_metrics", pd.DataFrame({"k": ["a", "b"], "v": [1.0, 2.0]})
    )
    assert n == 2
    c.bulk_ingest("custom_metrics", pd.DataFrame({"k": ["c"], "v": [3.0]}))
    got = c.query("SELECT COUNT(*) AS n, SUM(v) AS s FROM custom_metrics")
    assert got["n"][0] == 3 and got["s"][0] == 6.0

    # unknown batch view name is a clear error
    import pytest as _pytest

    with _pytest.raises(KeyError):
        c.materialize_partitions("nope", lo, hi, 3600)


def test_admin_gating_matches_reference_not_found(spark, tmp_path):
    """Reference parity (query.rs:150-175; functions-reference.md:5): a
    non-admin session never sees the partition-admin functions — calling
    one reports 'not found', while admin sessions (default) pass."""
    import pytest

    from micromegas_spark.client import Client
    from micromegas_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh_na"), admin=False)
    cli = Client(eng)
    for call in (
        lambda: cli.retire_partitions("v", 0, 10**9),
        lambda: cli.materialize_partitions("v", 0, 10**9, 3600),
        lambda: cli.regenerate_partitions("v", 0, 10**9, 3600),
    ):
        with pytest.raises(LookupError, match="not found"):
            call()
    # admin engine still reaches the lakehouse (unknown view -> 0 retired)
    adm = Client(Engine(spark, warehouse=str(tmp_path / "wh_a")))
    assert adm.retire_partitions("nonexistent_view", 0, 10**9) == 0


def test_prepared_statement_stream_and_schema(spark):
    """python-api.md prepared-statement surface: schema discovery without
    execution, and streamed execution in record batches."""
    from micromegas_spark.client import Client
    from micromegas_spark.engine import Engine
    from tests.conftest import SF_SMOKE

    c = Client(Engine.from_test_tables(spark, SF_SMOKE))
    stmt = c.prepare("SELECT event_id, value FROM events WHERE value > :lo")
    sch = stmt.schema()
    assert [f.name for f in sch] == ["event_id", "value"]
    with arrow_batch_rows(spark, 100):
        batches = list(c.prepared_statement_stream(stmt, params={"lo": 0.5}))
    assert batches and all(b.schema.names == ["event_id", "value"] for b in batches)
    total = sum(b.num_rows for b in batches)
    want = c.query("SELECT COUNT(*) AS n FROM events WHERE value > 0.5").n[0]
    assert total == want


def test_query_audit_log_reference_spelling(spark, tmp_path):
    """query-audit-log.md parity: each query leaves one structured JSON
    audit record (target='flightsql_query_audit', JSON msg) queryable
    with the jsonb function family, so the documented attribution/cost
    queries port directly."""
    from micromegas_spark.client import Client
    from micromegas_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh_audit"))
    eng.register_table("tiny_a", spark.range(4).toDF("x"))
    c = Client(eng)
    c.query("SELECT COUNT(*) AS n FROM tiny_a")
    c.query("SELECT SUM(x) AS s FROM tiny_a")
    audit = c.query(
        """
        SELECT jsonb_as_string(jsonb_get(msg, 'client')) AS client,
               COUNT(*) AS queries,
               SUM(jsonb_as_f64(jsonb_get(msg, 'total_ms'))) AS total_ms
        FROM query_log
        WHERE target = 'flightsql_query_audit'
        GROUP BY 1
        """
    )
    assert list(audit.client) == ["micromegas_spark"]
    assert int(audit.queries[0]) == 2
    assert audit.total_ms[0] >= 0.0


def test_stream_batches_carry_string_columns(spark):
    """Arrow stream schemas must come from the Spark schema, not an
    empty-pandas inference (which types string columns as null and
    crashes on the first real batch)."""
    from micromegas_spark.client import Client
    from micromegas_spark.engine import Engine
    from tests.conftest import SF_SMOKE

    c = Client(Engine.from_test_tables(spark, SF_SMOKE))
    with arrow_batch_rows(spark, 400):
        batches = list(c.query_stream("SELECT event_id, event_type FROM events"))
    assert batches and str(batches[0].schema.field("event_type").type) == "string"
    assert sum(b.num_rows for b in batches) == 1000
    stmt = c.prepare("SELECT event_type FROM events WHERE value > :lo")
    assert str(stmt.schema().field("event_type").type) == "string"
    with arrow_batch_rows(spark, 300):
        got = list(c.prepared_statement_stream(stmt, params={"lo": 0.5}))
    assert got and all(str(b.schema.field("event_type").type) == "string" for b in got)


def test_jsonb_as_string_decodes_escapes(spark):
    from pyspark.sql import functions as F

    from micromegas_spark.functions import jsonb as J

    df = spark.createDataFrame([('{"sql": "SELECT \\"x\\" FROM t\\nORDER"}',)], ["j"])
    got = df.select(
        J.jsonb_as_string(J.jsonb_get(F.col("j"), "sql")).alias("s")
    ).collect()[0].s
    assert got == 'SELECT "x" FROM t\nORDER'


def test_admin_catalog_sql_spellings(spark, tmp_path):
    """list_partitions / list_view_sets are SQL-queryable in EVERY
    session — the reference registers both UDTFs outside the is_admin
    block (query.rs:113-120) and its functions-reference.md marks only
    the mutating retire/materialize/regenerate surface 'Requires admin'.
    Non-admin sessions keep catalog introspection; the mutating surface
    stays gated (see test_admin_gating_matches_reference_not_found)."""
    from micromegas_spark.engine import Engine
    from micromegas_spark.materialize import BatchViewSpec

    HOUR = 3600 * 10**9
    spark.createDataFrame(
        [(int(h * HOUR + 1), h) for h in range(2)], "time_ns bigint, v bigint"
    ).createOrReplaceTempView("evadm")
    spec = BatchViewSpec(
        name="adm_view",
        count_query="SELECT COUNT(*) FROM evadm WHERE time_ns >= {begin} AND time_ns < {end}",
        extract_query="SELECT time_ns, v FROM evadm WHERE time_ns >= {begin} AND time_ns < {end}",
        merge_query="SELECT * FROM source",
        time_column="time_ns",
    )
    eng = Engine(spark, warehouse=str(tmp_path / "wh_adm_sql"))
    eng.lakehouse.materialize_range(spec, 0, 2 * HOUR, HOUR)
    rows = eng.query(
        "SELECT view_set, COUNT(*) AS n FROM list_partitions GROUP BY view_set"
    ).collect()
    assert [(r.view_set, r.n) for r in rows] == [("adm_view", 2)]
    vs = eng.query("SELECT * FROM list_view_sets").collect()
    assert [r.view_set_name for r in vs] == ["adm_view"]

    noadm = Engine(spark, warehouse=str(tmp_path / "wh_adm_sql"), admin=False)
    spark.catalog.dropTempView("list_partitions")
    spark.catalog.dropTempView("list_view_sets")
    rows2 = noadm.query(
        "SELECT view_set, COUNT(*) AS n FROM list_partitions GROUP BY view_set"
    ).collect()
    assert [(r.view_set, r.n) for r in rows2] == [("adm_view", 2)]
    vs2 = noadm.query("SELECT * FROM list_view_sets").collect()
    assert [r.view_set_name for r in vs2] == ["adm_view"]


def test_stream_batches_timestamps_survive_non_utc_process(spark):
    """The stream must ship instants, not wall clocks: a Python-side
    conversion of TimestampType (Row collection, fromInternal) yields
    naive datetimes in the driver PROCESS timezone and shifts every value
    by the process offset — top-level and nested in a struct alike.
    Pinned by actually changing the Python process tz."""
    import os
    import time as _time

    from micromegas_spark.client import Client
    from micromegas_spark.engine import Engine
    from tests.conftest import SF_SMOKE

    c = Client(Engine.from_test_tables(spark, SF_SMOKE))
    sql = (
        "SELECT event_id, CAST(ts_us / 1000000 AS TIMESTAMP) AS t, "
        "named_struct('t', CAST(ts_us / 1000000 AS TIMESTAMP)) AS s "
        "FROM events ORDER BY event_id LIMIT 50"
    )
    arrow = c.query_arrow(sql).to_pydict()
    direct = dict(zip(arrow["event_id"], zip(arrow["t"], arrow["s"])))
    prev_tz = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "America/New_York"
        _time.tzset()
        streamed = {}
        with arrow_batch_rows(spark, 20):
            for b in c.query_stream(sql):
                tb = b.to_pydict()
                streamed.update(zip(tb["event_id"], zip(tb["t"], tb["s"])))
    finally:
        if prev_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev_tz
        _time.tzset()
    assert streamed == direct  # identical instants, no offset shift


def test_stream_batches_follow_large_var_types(spark):
    """Under spark.sql.execution.arrow.useLargeVarTypes Spark encodes
    string columns as large_string: the stream decodes them as such
    (reading those buffers as plain strings aborts the process), agreeing
    with query_arrow and the prepared-statement schema."""
    import pyarrow as pa

    c = Client(Engine.from_test_tables(spark, SF_SMOKE))
    sql = "SELECT event_id, event_type FROM events ORDER BY event_id LIMIT 50"
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    spark.conf.set(key, "true")
    try:
        streamed = pa.Table.from_batches(list(c.query_stream(sql)))
        assert streamed.schema.field("event_type").type == pa.large_string()
        assert streamed.schema == c.prepare(sql).schema()
        assert streamed.equals(c.query_arrow(sql))
    finally:
        spark.conf.unset(key)


def test_prepared_statement_reaches_lazy_views_and_audit(spark, tmp_path):
    """Prepared statements register views keyed on their OWN sql (lazy
    query_log / admin catalog) and leave their own audit record."""
    from micromegas_spark.client import Client
    from micromegas_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh_ps"))
    eng.register_table("tiny_ps", spark.range(3).toDF("x"))
    c = Client(eng)
    c.query("SELECT COUNT(*) AS n FROM tiny_ps")
    stmt = c.prepare("SELECT COUNT(*) AS n FROM query_log")
    assert int(stmt.execute().n[0]) == 1  # sees the prior direct query
    # the statement itself is audit-logged with its own sql
    sqls = [e[1] for e in eng._query_log]
    assert any("FROM query_log" in s for s in sqls)
    # admin catalog views resolve from a prepared statement too
    assert list(c.prepare("SELECT * FROM list_view_sets").execute().columns) == [
        "view_set_name"
    ]


def test_concurrent_engine_queries_keep_own_bounds(spark):
    """Threads querying ONE Engine with different [begin, end) ranges must
    each resolve against their own bounds — each call binds its views in
    a cloned session it holds alone (Engine.planning_session), so one
    call's binding can never retarget another's in-flight plan (the reference gets the
    same from a fresh SessionContext per query, query.rs:207-256). Many
    iterations per thread to actually exercise the interleaving."""
    import threading

    from micromegas_spark.engine import Engine

    eng = Engine(spark)
    n = 200
    df = spark.range(n).selectExpr("id * 1000 AS t_ns", "id AS v")
    eng.register_table("conc_events", df, time_column="t_ns")

    errors: list = []

    def worker(begin_ns: int, end_ns: int, expect: int) -> None:
        try:
            for _ in range(12):
                got = eng.query(
                    "SELECT COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi FROM conc_events",
                    begin_ns,
                    end_ns,
                ).collect()[0]
                assert got.n == expect, (begin_ns, end_ns, got)
                assert got.lo == begin_ns // 1000 and got.hi == end_ns // 1000 - 1
        except Exception as exc:  # pragma: no cover - failure path
            errors.append(exc)

    threads = [
        threading.Thread(target=worker, args=(0, 50_000, 50)),
        threading.Thread(target=worker, args=(50_000, 150_000, 100)),
        threading.Thread(target=worker, args=(120_000, 200_000, 80)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
