"""Network FlightSQL surface: wire framing parity with the reference's
python client (flightsql/client.py:92-119), server behavior parity with
rust/public/src/servers/flight_sql_service_impl.rs (range headers :514-545,
preserve_dictionary :491-499, prepared statements :1098-1141, ingest
:1054-1071). Everything runs over a real gRPC loopback socket."""

from __future__ import annotations

import datetime

import pytest

flight = pytest.importorskip("pyarrow.flight")

import pyarrow as pa  # noqa: E402

from micromegas_spark.engine import Engine  # noqa: E402
from micromegas_spark.flightsql import pb  # noqa: E402
from micromegas_spark.flightsql.client import FlightSQLClient  # noqa: E402
from micromegas_spark.flightsql.server import FlightSQLServer  # noqa: E402
from tests.conftest import SF_SMOKE, arrow_batch_rows  # noqa: E402


# -- wire codec -------------------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def test_ticket_bytes_match_reference_framing():
    """Byte-for-byte what the reference's make_query_ticket produces:
    Any{type_url, value=TicketStatementQuery{statement_handle=sql}} with
    fields emitted in field-number order (protobuf canonical)."""
    sql = "SELECT 1"
    inner = b"\x0a" + _varint(len(sql)) + sql.encode()
    url = b"type.googleapis.com/arrow.flight.protocol.sql.TicketStatementQuery"
    expected = b"\x0a" + _varint(len(url)) + url + b"\x12" + _varint(len(inner)) + inner
    assert pb.ticket_statement_query(sql) == expected


def test_codec_round_trips():
    name, value = pb.unpack_any(pb.ticket_statement_query("SELECT * FROM t"))
    assert name == "TicketStatementQuery"
    assert pb.decode_fields(value)[1][0] == b"SELECT * FROM t"

    name, value = pb.unpack_any(pb.command_statement_ingest("blocks"))
    assert name == "CommandStatementIngest"
    assert pb.decode_fields(value)[2][0] == b"blocks"

    assert pb.parse_do_put_update_result(pb.do_put_update_result(12345)) == 12345

    # multi-byte varint lengths (sql > 127 chars) still frame correctly
    long_sql = "SELECT " + ", ".join(f"c{i}" for i in range(60))
    assert len(long_sql) > 127
    name, value = pb.unpack_any(pb.ticket_statement_query(long_sql))
    assert pb.decode_fields(value)[1][0].decode() == long_sql


def test_decode_rejects_non_protobuf():
    with pytest.raises(ValueError):
        pb.unpack_any(b"SELECT 1")  # 'S'=0x53 -> field 10 wire type 3 (group)


# -- live server fixtures ---------------------------------------------------


@pytest.fixture(scope="module")
def engine(spark):
    return Engine.from_test_tables(spark, SF_SMOKE)


@pytest.fixture(scope="module")
def server(spark, engine):
    with arrow_batch_rows(spark, 500), FlightSQLServer(engine) as srv:
        yield srv


@pytest.fixture(scope="module")
def client(server):
    with FlightSQLClient(server.uri) as c:
        yield c


# -- queries over the wire --------------------------------------------------


def test_query_matches_in_process_engine(engine, client):
    sql = (
        "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n FROM orders "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )
    wire = client.query(sql)
    local = engine.query(sql).toPandas()
    assert wire.equals(local)


def test_query_stream_yields_multiple_batches(client):
    batches = list(client.query_stream("SELECT l_orderkey, l_partkey FROM lineitem"))
    assert len(batches) > 1  # 500-row batches, sf0.001 lineitem >> 500
    assert sum(b.num_rows for b in batches) > 500
    assert batches[0].schema.names == ["l_orderkey", "l_partkey"]


def test_query_range_headers_bound_events(engine, client, spark):
    lo, hi = (
        engine.query("SELECT MIN(ts) lo, MAX(ts) hi FROM events")
        .collect()[0]
    )
    mid = lo + (hi - lo) // 2
    begin = datetime.datetime.fromtimestamp(lo / 1e9, tz=datetime.timezone.utc)
    end = datetime.datetime.fromtimestamp(mid / 1e9, tz=datetime.timezone.utc)
    sql = "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events"
    bounded = client.query(sql, begin, end)
    local = engine.query(sql, int(lo), int((mid // 1000) * 1000)).toPandas()
    # rfc3339 microsecond precision: compare against the µs-truncated bound
    assert int(bounded["n"][0]) == int(local["n"][0])
    unbounded = client.query(sql)
    assert int(bounded["n"][0]) < int(unbounded["n"][0])


def test_one_sided_range_is_ignored_like_reference(engine, client):
    """flight_sql_service_impl.rs:526 applies the range only when BOTH
    headers are present."""
    sql = "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events"
    full = client.query(sql)
    begin_only = client.query(sql, begin="2020-01-01T00:00:00Z")
    assert int(begin_only["n"][0]) == int(full["n"][0])


def test_raw_utf8_ticket_fallback(server):
    with flight.FlightClient(server.uri) as raw:
        reader = raw.do_get(flight.Ticket(b"SELECT CAST(1 AS BIGINT) AS one"))
        table = reader.read_all()
    assert table.column("one").to_pylist() == [1]


def test_get_flight_info_schema_and_endpoint(server, client):
    sql = "SELECT o_orderkey, o_totalprice FROM orders LIMIT 5"
    info = client.get_flight_info(sql)
    assert info.schema.names == ["o_orderkey", "o_totalprice"]
    # the returned endpoint ticket is directly consumable
    with flight.FlightClient(server.uri) as raw:
        table = raw.do_get(info.endpoints[0].ticket).read_all()
    assert table.num_rows == 5


def test_bad_sql_surfaces_as_arrow_invalid(client):
    # #1435: a caller mistake is InvalidArgument on the wire — pyarrow
    # raises ArrowInvalid (a ValueError), not FlightServerError/Internal
    import pyarrow as pa

    with pytest.raises(pa.lib.ArrowInvalid):
        client.query("SELECT * FROM no_such_table_xyz")


# -- prepared statements ----------------------------------------------------


def test_prepare_statement_schema_discovery(client, engine):
    from pyspark.sql.pandas.types import to_arrow_schema

    sql = "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders"
    stmt = client.prepare_statement(sql)
    assert stmt.query == sql
    expected = to_arrow_schema(engine.query(sql).schema)
    assert stmt.dataset_schema.names == expected.names
    assert [f.type for f in stmt.dataset_schema] == [f.type for f in expected]
    # execution path: handle IS the sql
    total = sum(b.num_rows for b in client.prepared_statement_stream(stmt))
    assert total == engine.query("SELECT COUNT(*) c FROM orders").collect()[0][0]

    # the streamed batches are Spark's own Arrow IPC messages
    # (toArrowBatchRdd, private Spark API) decoded against the schema the
    # prepared statement advertises: the three schemas must agree, for
    # nested and non-string types and for an empty result alike
    typed = (
        "SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS ts, "
        "CAST(o_totalprice AS DECIMAL(12, 2)) AS price, "
        "map('status', o_orderstatus) AS m, array(o_orderkey, o_custkey) AS a, "
        "named_struct('t', CAST(o_orderdate AS TIMESTAMP), 'k', o_orderkey) AS s "
        "FROM orders WHERE {} ORDER BY o_orderkey LIMIT 20"
    )
    for where, rows in (("o_orderkey > 0", 20), ("o_orderkey < 0", 0)):
        sql = typed.format(where)
        advertised = client.prepare_statement(sql).dataset_schema
        assert client.get_flight_info(sql).schema == advertised
        table = client.query_arrow(sql)
        assert table.schema == advertised and table.num_rows == rows
        assert all(
            b.schema == advertised
            for b in client.prepared_statement_stream(client.prepare_statement(sql))
        )
        assert table.equals(engine.query(sql).toArrow())


# -- preserve_dictionary ----------------------------------------------------


def test_preserve_dictionary_header(server):
    sql = (
        "SELECT o_orderstatus, o_orderpriority, o_orderkey FROM orders "
        "ORDER BY o_orderkey LIMIT 1200"
    )
    with FlightSQLClient(server.uri, preserve_dictionary=True) as dc:
        table = dc.query_arrow(sql)
        assert pa.types.is_dictionary(table.schema.field("o_orderstatus").type)
        assert pa.types.is_dictionary(table.schema.field("o_orderpriority").type)
        assert not pa.types.is_dictionary(table.schema.field("o_orderkey").type)
        decoded = dc.query(sql)
    with FlightSQLClient(server.uri) as plain:
        plain_df = plain.query(sql)
        assert not pa.types.is_dictionary(
            plain.query_arrow(sql).schema.field("o_orderstatus").type
        )
    assert list(decoded["o_orderstatus"].astype(str)) == list(plain_df["o_orderstatus"])
    assert list(decoded["o_orderpriority"].astype(str)) == list(
        plain_df["o_orderpriority"]
    )
    # the transport drops dictionary replacements, so correctness REQUIRES
    # one stream-wide dictionary: every chunk must share identical values
    col = table.column("o_orderstatus")
    dicts = {chunk.dictionary.to_pylist() and tuple(chunk.dictionary.to_pylist()) for chunk in col.chunks}
    assert len(dicts) == 1


def test_preserve_dictionary_cardinality_cap(engine, monkeypatch):
    """Columns above the dictionary cap stay plain strings — encoding a
    high-cardinality column would both blow the driver's collect_set and
    stop paying for itself."""
    from micromegas_spark.flightsql import server as server_mod

    monkeypatch.setattr(server_mod, "MAX_DICTIONARY_VALUES", 4)
    with FlightSQLServer(engine) as srv:
        with FlightSQLClient(srv.uri, preserve_dictionary=True) as dc:
            table = dc.query_arrow(
                "SELECT o_orderstatus, CAST(o_orderkey AS STRING) AS okey_str "
                "FROM orders LIMIT 500"
            )
    assert pa.types.is_dictionary(table.schema.field("o_orderstatus").type)  # 3 values
    assert pa.types.is_string(table.schema.field("okey_str").type)  # unique per row


# -- ingest + admin ---------------------------------------------------------


def test_bulk_ingest_do_put_round_trip(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("flight_wh"))
    eng = Engine(spark, warehouse=wh)
    table = pa.table(
        {
            "process_id": ["p1", "p2", "p3"],
            "exe": ["/bin/a", "/bin/b", "/bin/c"],
        }
    )
    with FlightSQLServer(eng) as srv, FlightSQLClient(srv.uri) as c:
        assert c.bulk_ingest("procs", table) == 3
        got = c.query("SELECT process_id, exe FROM procs ORDER BY process_id")
    assert list(got["process_id"]) == ["p1", "p2", "p3"]


def test_bulk_ingest_keeps_map_column_type(spark, tmp_path_factory):
    """DoPut hands the Arrow table to Spark as Arrow: a MAP<STRING,STRING>
    properties column stays a map, so property_get reads it back."""
    wh = str(tmp_path_factory.mktemp("flight_map"))
    eng = Engine(spark, warehouse=wh)
    table = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "properties": pa.array(
                [[("error_code", "7")], [("host", "a")]],
                pa.map_(pa.string(), pa.string()),
            ),
        }
    )
    with FlightSQLServer(eng) as srv, FlightSQLClient(srv.uri) as c:
        assert c.bulk_ingest("props", table) == 2
        got = c.query(
            "SELECT id, property_get(properties, 'error_code') AS code "
            "FROM props ORDER BY id"
        )
    assert list(got["code"]) == ["7", None]


def test_bulk_ingest_rejects_non_table(client):
    with pytest.raises(TypeError):
        client.bulk_ingest("t", [{"a": 1}])


def test_admin_actions_over_wire(spark, tmp_path_factory):
    """All five partition-admin DoActions against a registered log_stats
    view, each returning {"result": v} where v is what the in-process
    Client method returns on the same warehouse and catalog state
    (materialize stats with `created`, then regenerate, retire by
    metadata, by file and by range: counts 1/1/n). Argument errors —
    a missing field, an unreadable timestamp — reach the client as
    ArrowInvalid with a query_id; non-admin stays "not found"."""
    from micromegas_spark.client import Client

    wh = str(tmp_path_factory.mktemp("flight_admin"))
    adm, lo, hi, _ = _admin_engine_with_logstats(spark, wh)
    local = Client(adm)
    parts = lambda: adm.lakehouse.list_partitions("log_stats")  # noqa: E731
    with FlightSQLServer(adm) as srv, FlightSQLClient(srv.uri) as c:
        out = c.retire_partitions(
            "no_such_view",
            datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc),
            datetime.datetime(2024, 1, 2, tzinfo=datetime.timezone.utc),
        )
        assert out == {"result": 0}

        stats = c.materialize_partitions("log_stats", lo, hi, 3600)["result"]
        assert stats.get("created", 0) >= 1
        n = len(parts())
        assert local.retire_partitions("log_stats", lo, hi) == n
        assert local.materialize_partitions("log_stats", lo, hi, 3600) == stats
        regenerated = local.regenerate_partitions("log_stats", lo, hi, 3600)
        assert c.regenerate_partitions("log_stats", lo, hi, 3600) == {"result": regenerated}
        assert regenerated.get("created", 0) >= 1 and len(parts()) == n

        for name, args, count in (
            (
                "retire_partition_by_metadata",
                lambda p: ("log_stats", "global", p.begin_insert_ns, p.end_insert_ns),
                1,
            ),
            ("retire_partition_by_file", lambda p: (p.path,), 1),
            ("retire_partitions", lambda p: ("log_stats", lo, hi), n),
        ):
            assert getattr(local, name)(*args(parts()[0])) == count
            local.materialize_partitions("log_stats", lo, hi, 3600)
            assert getattr(c, name)(*args(parts()[0])) == {"result": count}
            local.materialize_partitions("log_stats", lo, hi, 3600)

        with pytest.raises(pa.lib.ArrowInvalid, match="partition_delta_seconds") as e:
            c._admin("MaterializePartitions", view_name="log_stats", begin=lo, end=hi)
        assert "query_id=" in str(e.value)
        with pytest.raises(pa.lib.ArrowInvalid, match="unreadable timestamp") as e:
            c.retire_partitions("log_stats", "not a time", hi)
        assert "query_id=" in str(e.value)
        assert len(parts()) == n

    non = Engine(spark, warehouse=wh + "_na", admin=False)
    with FlightSQLServer(non) as srv, FlightSQLClient(srv.uri) as c:
        with pytest.raises(flight.FlightError, match="not found"):
            c.retire_partitions(
                "v", "2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z"
            )


# -- auth -------------------------------------------------------------------


def test_bearer_token_gate(engine):
    with FlightSQLServer(engine, auth_token="sesame") as srv:
        with FlightSQLClient(srv.uri) as anon:
            with pytest.raises(flight.FlightUnauthenticatedError):
                anon.query("SELECT 1 AS one")
        with FlightSQLClient(
            srv.uri, headers={"authorization": "Bearer sesame"}
        ) as authed:
            assert int(authed.query("SELECT CAST(1 AS BIGINT) AS one")["one"][0]) == 1


def test_concurrent_clients_distinct_ranges(engine, server):
    """Two clients querying DIFFERENT time ranges in parallel must each
    get their own bounds — the gRPC server invokes Engine.resolve from
    concurrent handler threads, so this exercises the plan-lock contract
    (VERDICT r3 'What's wrong #2') across the network path."""
    import concurrent.futures as cf

    lo, hi = engine.query("SELECT MIN(ts) lo, MAX(ts) hi FROM events").collect()[0]
    mid = lo + (hi - lo) // 2

    def run(bounds):
        b, e = bounds
        begin = datetime.datetime.fromtimestamp(b / 1e9, tz=datetime.timezone.utc)
        end = datetime.datetime.fromtimestamp(e / 1e9, tz=datetime.timezone.utc)
        with FlightSQLClient(server.uri) as c:
            out = c.query(
                "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events", begin, end
            )
        return int(out["n"][0])

    first, second = (lo, mid), (mid, hi + 1_000_000_000)
    with cf.ThreadPoolExecutor(4) as pool:
        results = list(pool.map(run, [first, second] * 4))
    # all repeats of the same range agree, and the two ranges differ
    assert len(set(results[0::2])) == 1 and len(set(results[1::2])) == 1
    n_first, n_second = results[0], results[1]
    assert n_first != n_second
    total = run((lo, hi + 1_000_000_000))
    assert n_first + n_second == total


def test_every_result_stream_goes_through_stream_batches(engine, server, monkeypatch):
    """Served DoGet (both preserve_dictionary values) and the in-process
    streams look ``client._stream_batches`` up when called, so a wrapper
    installed on the module attribute (perfbench's span hook) sees every
    result stream; a name bound at import would bypass it silently."""
    import micromegas_spark.client as client_mod

    real, calls = client_mod._stream_batches, []

    def counting(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(client_mod, "_stream_batches", counting)
    sql = "SELECT r_name FROM region"
    for preserve in (False, True):
        with FlightSQLClient(server.uri, preserve_dictionary=preserve) as c:
            assert c.query_arrow(sql).num_rows == 5
    c = client_mod.Client(engine)
    assert sum(b.num_rows for b in c.query_stream(sql)) == 5
    stmt = c.prepare(sql)
    assert sum(b.num_rows for b in c.prepared_statement_stream(stmt)) == 5
    assert len(calls) == 4


def test_empty_result_set_over_wire(client):
    out = client.query("SELECT o_orderkey FROM orders WHERE o_orderkey < 0")
    assert len(out) == 0 and list(out.columns) == ["o_orderkey"]


def test_empty_result_with_preserve_dictionary(server):
    with FlightSQLClient(server.uri, preserve_dictionary=True) as dc:
        table = dc.query_arrow(
            "SELECT o_orderstatus FROM orders WHERE o_orderkey < 0"
        )
    assert table.num_rows == 0


def test_top_level_connect(server):
    import micromegas_spark

    with micromegas_spark.connect(server.uri) as c:
        assert int(c.query("SELECT CAST(2 AS BIGINT) AS two")["two"][0]) == 2


# -- S11 streamed task log over DoGet (VERDICT r9 #3) ------------------------


def _admin_engine_with_logstats(spark, wh):
    from micromegas_spark.materialize import LOG_STATS
    from micromegas_spark.sources.synthetic import generate

    data = generate(seed=11)
    spark.createDataFrame(data["blocks"]).join(
        spark.createDataFrame(data["streams"]).select("stream_id", "tags"),
        "stream_id",
    ).createOrReplaceTempView("blocks")
    spark.createDataFrame(data["log_entries"]).createOrReplaceTempView(
        "log_entries"
    )
    eng = Engine(spark, warehouse=wh)
    eng.register_batch_view(LOG_STATS)
    HOUR = 3_600 * 10**9
    ins = [b["insert_time_ns"] for b in data["blocks"]]
    lo = min(ins) - min(ins) % HOUR
    hi = max(ins) - max(ins) % HOUR + HOUR
    return eng, lo, hi, (hi - lo) // HOUR


def test_tasklog_streams_batches_while_op_runs(spark, tmp_path_factory):
    """The served path closes S11's documented delta: on a multi-bucket
    materialize, DoGet must deliver log batches WHILE the op runs — the
    catalog visibly advances between received chunks (reference: mpsc →
    AsyncLogStream, task_log_exec_plan.rs:35-60)."""
    wh = str(tmp_path_factory.mktemp("flight_tasklog"))
    eng, lo, hi, n_buckets = _admin_engine_with_logstats(spark, wh)
    assert n_buckets >= 2, "need a multi-bucket op to observe streaming"
    sql = f"SELECT * FROM materialize_partitions('log_stats', '{lo}', '{hi}', 3600)"
    with FlightSQLServer(eng) as srv, flight.FlightClient(srv.uri) as raw:
        reader = raw.do_get(flight.Ticket(sql.encode()))
        msgs, seen_partitions = [], []
        while True:
            try:
                chunk = reader.read_chunk()
            except StopIteration:
                break
            tbl = chunk.data
            msgs += tbl.column("msg").to_pylist()
            seen_partitions.append(len(eng.lakehouse.list_partitions("log_stats")))
    # one batch per bucket decision + the summary row
    assert len(msgs) == n_buckets + 1
    assert sum(": created" in m for m in msgs) >= 1
    assert msgs[-1].startswith("log_stats: done,")
    # ≥2 batches arrived BEFORE the op completed: the catalog was still
    # filling when early chunks landed, and advanced during the read loop
    assert seen_partitions[0] < n_buckets
    assert seen_partitions[0] < seen_partitions[-1]


def test_streamed_spelling_is_one_admin_call_selected_whole(engine):
    """DoGet streams the task log when the statement is SELECT * FROM one
    admin call (plus an optional ';' and whitespace); any other text, a
    comment included, sends it down the planned path."""
    from micromegas_spark.flightsql.server import _selects_one_admin_call

    call = "materialize_partitions('v', '0', '1', 60)"
    for sql, streams in (
        (f"SELECT * FROM {call}", True),
        (f" select *\n from {call} ;\n", True),
        (f"/* req=7 */ SELECT * FROM {call}", False),
        (f"SELECT msg FROM {call}", False),
        (f"SELECT * FROM {call} WHERE msg LIKE '%x%'", False),
        (f"SELECT * FROM {call} a CROSS JOIN {call} b", False),
        ("SELECT * FROM view_instance('a', 'b')", False),
    ):
        assert _selects_one_admin_call(sql, engine.table_function_calls(sql)) is streams


def test_tasklog_stream_failure_is_final_row(spark, tmp_path_factory):
    """Op failure on the streamed path: the error message is the final
    (time, msg) row and the stream completes cleanly (the reference's
    producers catch and write, then close)."""
    from micromegas_spark.materialize import BatchViewSpec

    wh = str(tmp_path_factory.mktemp("flight_tasklog_fail"))
    eng, lo, hi, _ = _admin_engine_with_logstats(spark, wh)
    eng.register_batch_view(
        BatchViewSpec(
            name="broken_view",
            count_query="SELECT 1 AS src",
            extract_query="SELECT boom FROM no_such_table_{begin}",
            merge_query="SELECT * FROM source",
            time_column="boom",
        )
    )
    sql = f"SELECT * FROM materialize_partitions('broken_view', '{lo}', '{hi}', 3600)"
    with FlightSQLServer(eng) as srv, flight.FlightClient(srv.uri) as raw:
        tbl = raw.do_get(flight.Ticket(sql.encode())).read_all()
    msgs = tbl.column("msg").to_pylist()
    assert msgs and msgs[-1].startswith("error: ")


def test_tasklog_stream_admin_gate_and_bad_delta(spark, tmp_path_factory, monkeypatch):
    """Every spelling of materialize/regenerate checks the partition
    delta: 0 and -60 are refused with InvalidArgument before any bucket
    is looked at — the planned SQL statement (in process and over DoGet),
    the streamed DoGet, Client and the DoActions; over the wire as
    ArrowInvalid. (0 would divide by zero in the bucket loop, a negative
    delta never ends it: the guard below makes such a loop fail fast.)
    A non-admin server reports the call "not found"."""
    from micromegas_spark.client import Client
    from micromegas_spark.engine import InvalidArgument
    from micromegas_spark.materialize.batch import Lakehouse

    wh = str(tmp_path_factory.mktemp("flight_tasklog_gate"))
    eng, lo, hi, _ = _admin_engine_with_logstats(spark, wh)
    buckets: list[int] = []

    def guard(self, spec, b, e):
        buckets.append(b)
        raise RuntimeError("a bucket was looked at")

    monkeypatch.setattr(Lakehouse, "materialize_bucket", guard)
    local = Client(eng)
    with FlightSQLServer(eng) as srv, FlightSQLClient(srv.uri) as c:
        for delta in (0, -60):
            for fn in ("materialize_partitions", "regenerate_partitions"):
                call = f"{fn}('log_stats', '{lo}', '{hi}', {delta})"
                with pytest.raises(InvalidArgument, match="positive"):
                    eng.query(f"SELECT * FROM {call}")
                with pytest.raises(InvalidArgument, match="positive"):
                    getattr(local, fn)("log_stats", lo, hi, delta)
                # streamed (selected whole), then planned
                for sql in (f"SELECT * FROM {call}", f"SELECT msg FROM {call}"):
                    with pytest.raises(pa.lib.ArrowInvalid, match="positive"):
                        c._client.do_get(flight.Ticket(sql.encode())).read_all()
                with pytest.raises(pa.lib.ArrowInvalid, match="positive") as e:
                    getattr(c, fn)("log_stats", lo, hi, delta)
                assert "query_id=" in str(e.value)
    assert buckets == []
    assert eng.lakehouse.list_partitions("log_stats") == []

    non = Engine(spark, warehouse=wh + "_na", admin=False)
    with FlightSQLServer(non) as srv, flight.FlightClient(srv.uri) as raw:
        with pytest.raises(flight.FlightError, match="not found"):
            raw.do_get(
                flight.Ticket(
                    f"SELECT * FROM materialize_partitions('log_stats', '{lo}', '{hi}', 3600)".encode()
                )
            ).read_all()


def test_table_function_schema_discovery(spark, tmp_path_factory, monkeypatch):
    """GetFlightInfo and CreatePreparedStatement plan the table-function
    spellings the way DoGet does: view_instance materializes at plan time,
    an admin call is gated and its arguments checked, but the op runs
    only on DoGet — discovery then DoGet commits each bucket once. A
    bucket-mode view_instance is planned over the call's query range,
    walking only its buckets; with no range it is refused before any
    bucket is looked at (over [0, 2^62) the walk would never end)."""
    from micromegas_spark.engine import JitViewSet
    from micromegas_spark.materialize.batch import Lakehouse

    wh = str(tmp_path_factory.mktemp("flight_tf_schema"))
    eng, lo, hi, n_buckets = _admin_engine_with_logstats(spark, wh)
    eng.register_jit_view_set(
        JitViewSet(
            "vs",
            source_count=lambda *_: 0,
            build=lambda *_: None,
            time_column="t",
            list_blocks=lambda inst, b, e: [
                {"block_id": "b0", "begin_ns": 0, "end_ns": 10, "insert_ns": 0, "nb_objects": 2}
            ],
            build_blocks=lambda inst, ids: spark.createDataFrame(
                [(1, inst), (2, inst)], "t BIGINT, inst STRING"
            ),
        )
    )
    commits: list[str] = []
    real_commit = Lakehouse._commit_delta

    def counting_commit(self, view, *a, **kw):
        commits.append(view)
        return real_commit(self, view, *a, **kw)

    counted: list[int] = []

    def source_count(inst, b, e):
        counted.append(b)
        return 2

    eng.register_jit_view_set(
        JitViewSet(
            "vb",
            source_count=source_count,
            build=lambda inst, b, e: spark.createDataFrame(
                [(b, inst), (b + 1, inst)], "t BIGINT, inst STRING"
            ),
            time_column="t",
        )
    )
    monkeypatch.setattr(Lakehouse, "_commit_delta", counting_commit)
    vi = "SELECT * FROM view_instance('vs', 'p1')"
    mat = f"SELECT * FROM materialize_partitions('log_stats', '{lo}', '{hi}', 3600)"
    tables = {}
    with FlightSQLServer(eng) as srv, FlightSQLClient(srv.uri) as c:
        for sql in (vi, mat):
            info = c.get_flight_info(sql).schema
            prepared = c.prepare_statement(sql).dataset_schema
            assert "log_stats" not in commits  # discovery ran no op
            tables[sql] = c.query_arrow(sql)
            assert info == prepared == tables[sql].schema
        vb = "SELECT t, inst FROM view_instance('vb', 'p')"
        utc = datetime.timezone.utc
        two_hours = [datetime.datetime.fromtimestamp(s, utc) for s in (0, 7_200)]
        desc = flight.FlightDescriptor.for_command(pb.command_statement_query(vb))
        info = c._client.get_flight_info(desc, options=c._options(*two_hours)).schema
        assert 0 < len(counted) <= 2  # the range's two hourly buckets
        assert info.names == ["t", "inst"]
        assert c.query_arrow(vb, *two_hours).schema == info
        counted.clear()
        for unranged in (c.get_flight_info, c.prepare_statement, c.query_arrow):
            with pytest.raises(pa.lib.ArrowInvalid, match="needs a query range"):
                unranged(vb)
        assert counted == []
    assert tables[vi].column("inst").to_pylist() == ["p1", "p1"]
    msgs = tables[mat].column("msg").to_pylist()
    # one row per bucket decision + the summary row, from one run
    assert len(msgs) == n_buckets + 1 and msgs[-1].startswith("log_stats: done,")
    created = [m for m in msgs if m.endswith(": created")]
    assert created and len(set(created)) == len(created)
    assert commits.count("log_stats") == len(created)
    assert len(eng.lakehouse.list_partitions("log_stats")) == len(created)

    non = Engine(spark, warehouse=wh + "_na", admin=False)
    with FlightSQLServer(non) as srv, FlightSQLClient(srv.uri) as c:
        for discover in (c.get_flight_info, c.prepare_statement):
            with pytest.raises(flight.FlightError, match="not found"):
                discover(mat)
