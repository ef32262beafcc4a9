"""#1435 error classification + #1406 per-query resource audit
(rust/public/src/servers/flight_sql_service_impl.rs
classify_datafusion_error/client_error; micromegas::servers::query_audit
QueryAuditRecord.query_id/error_class + peak-memory/spill attribution).

Caller mistakes surface to pyarrow Flight clients as ValueError-subclass
exceptions (ArrowInvalid / ArrowNotImplementedError) instead of
FlightServerError-for-everything; every client-facing message carries a
correlatable [query_id=...]; query_log gains error_class and per-query
peak-memory / spill columns fed by Spark's task metrics via job-group
attribution."""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.flight as flight
import pytest

from micromegas_spark.engine import Engine
from micromegas_spark.flightsql.client import FlightSQLClient
from micromegas_spark.flightsql.errors import (
    INTERNAL,
    RESOURCE,
    UNIMPLEMENTED,
    USER,
    InvalidArgument,
    classify_exception,
    find_root,
    to_flight_error,
)
from micromegas_spark.flightsql.server import FlightSQLServer
from tests.conftest import SF_SMOKE, arrow_batch_rows


# ---------------------------------------------------------- classification


def test_classify_analysis_and_parse_errors_as_user(spark):
    from pyspark.errors import AnalysisException, ParseException

    try:
        spark.sql("SELECT nope_col FROM range(1)")
    except AnalysisException as e:
        assert classify_exception(e) == USER
    else:
        pytest.fail("expected AnalysisException")
    try:
        spark.sql("SELEC 1")
    except ParseException as e:
        assert classify_exception(e) == USER
    else:
        pytest.fail("expected ParseException")


def test_classify_python_classes():
    assert classify_exception(NotImplementedError("x")) == UNIMPLEMENTED
    assert classify_exception(MemoryError()) == RESOURCE
    assert classify_exception(InvalidArgument("bad arg")) == USER
    # bare builtins are NOT user errors: a KeyError in engine code is a
    # server bug and must reach error_class=='internal' monitoring —
    # only the explicit InvalidArgument marker (and executor-side UDF
    # builtins, below) classify as the caller's mistake
    assert classify_exception(ValueError("unattributed")) == INTERNAL
    assert classify_exception(KeyError("engine bug")) == INTERNAL
    assert classify_exception(RuntimeError("boom")) == INTERNAL
    # disk exhaustion classifies as resource like OOM (the budget the
    # reference caps with MICROMEGAS_DATAFUSION_MAX_TEMP_DIRECTORY_MB)
    assert classify_exception(Exception(
        "java.io.IOException: No space left on device")) == RESOURCE
    import errno as _errno
    assert classify_exception(OSError(_errno.ENOSPC, "No space left on device")) == RESOURCE
    # JVM OOM arrives as a stringly-typed wrapper
    assert classify_exception(Exception("java.lang.OutOfMemoryError: heap")) == RESOURCE
    assert (
        classify_exception(Exception("UnsupportedOperationException: nope"))
        == UNIMPLEMENTED
    )


def test_find_root_walks_causes():
    try:
        try:
            raise InvalidArgument("root cause")
        except ValueError as inner:
            raise RuntimeError("wrapper") from inner
    except RuntimeError as e:
        assert str(find_root(e)) == "root cause"
        assert classify_exception(e) == USER  # classified by the ROOT


def test_to_flight_error_classes_and_query_id():
    cls, err = to_flight_error(InvalidArgument("bad"), "qid123")
    assert cls == USER and isinstance(err, pa.lib.ArrowInvalid)
    assert "[query_id=qid123]" in str(err)
    cls, err = to_flight_error(NotImplementedError("nyi"), "q")
    assert cls == UNIMPLEMENTED and isinstance(err, pa.lib.ArrowNotImplementedError)
    cls, err = to_flight_error(MemoryError("oom"), "q")
    assert cls == RESOURCE and isinstance(err, flight.FlightServerError)
    assert "[error_class=resource]" in str(err)
    cls, err = to_flight_error(RuntimeError("bug"), "q")
    assert cls == INTERNAL and isinstance(err, flight.FlightServerError)


# ------------------------------------------------------------- live wire


@pytest.fixture(scope="module")
def engine(spark):
    return Engine.from_test_tables(spark, SF_SMOKE)


@pytest.fixture(scope="module")
def server(spark, engine):
    with arrow_batch_rows(spark, 512), FlightSQLServer(engine) as srv:
        yield srv


@pytest.fixture(scope="module")
def client(server):
    with FlightSQLClient(server.uri) as c:
        yield c


def test_typo_column_surfaces_as_arrow_invalid(client):
    """The #1435 repro: a typo'd column is the CALLER's error —
    InvalidArgument on the wire, ArrowInvalid (a ValueError) in pyarrow —
    not FlightInternalError."""
    with pytest.raises(pa.lib.ArrowInvalid) as ei:
        client.query("SELECT no_such_column FROM orders")
    msg = str(ei.value)
    assert "[query_id=" in msg
    assert isinstance(ei.value, ValueError)  # the documented contract


def test_syntax_error_surfaces_as_arrow_invalid(client):
    with pytest.raises(pa.lib.ArrowInvalid):
        client.query("SELEC o_orderkey FRM orders")


def test_unknown_table_surfaces_as_arrow_invalid(client):
    with pytest.raises(pa.lib.ArrowInvalid):
        client.query("SELECT * FROM no_such_table_xyz")


def test_failed_plan_leaves_classified_audit_record(engine, client):
    """A failed plan leaves a query_log record classified 'user' — a
    table-function call refused at plan time (a non-literal argument)
    included, which DoGet's streaming check scans before planning."""
    qids = []
    for sql in ("SELECT nope FROM orders", "SELECT * FROM view_instance(col, 'x')"):
        with pytest.raises(pa.lib.ArrowInvalid) as ei:
            client.query(sql)
        qids.append(re.search(r"\[query_id=([0-9a-f]+)\]", str(ei.value)).group(1))
    log = {
        r["query_id"]: r
        for r in engine.query("SELECT query_id, error_class FROM query_log").collect()
    }
    assert [log[q]["error_class"] for q in qids] == ["user", "user"]


def test_query_audit_reports_nonzero_peak_memory(engine, client):
    """#1406 done-criterion: a memory-heavy query (wide hash aggregate)
    reports nonzero peak execution memory through the server path, via
    job-group-attributed task metrics in the query_log audit view."""
    heavy = (
        "SELECT o_custkey, COUNT(*) AS n, SUM(o_totalprice) AS s "
        "FROM orders GROUP BY o_custkey"
    )
    df = client.query(heavy)
    assert len(df) > 0
    audit = engine.query(
        "SELECT query_id, error_class, peak_execution_memory_bytes, "
        "memory_spill_bytes, disk_spill_bytes, shuffle_write_bytes "
        f"FROM query_log WHERE sql = '{heavy}' ORDER BY time_ns DESC"
    ).collect()
    assert audit, "heavy query left no audit record"
    rec = audit[0]
    assert rec["error_class"] == "ok"
    assert rec["peak_execution_memory_bytes"] > 0
    assert rec["shuffle_write_bytes"] > 0


def test_query_metrics_api_in_process(engine):
    from micromegas_spark.engine import job_group

    df = engine.query(
        "SELECT l_orderkey, SUM(l_quantity) AS q FROM lineitem GROUP BY l_orderkey"
    )
    qid = df._mm_query_id
    # execution-scoped attribution: resolve() no longer leaves the group
    # ambient on the thread — collect under job_group(df)
    with job_group(df):
        df.collect()
    m = engine.query_metrics(qid)
    assert m["n_stages"] >= 2  # agg = exchange + final
    assert m["peak_execution_memory_bytes"] > 0


def test_interleaved_same_thread_queries_attribute_to_own_id(engine):
    """resolve A, resolve B, THEN execute A, then B — all on one thread.
    The old ambient job group (set at resolve exit, never cleared) would
    attribute A's execution jobs to B's id; execution-scoped job_group()
    keys each collect off its own DataFrame's query id."""
    from micromegas_spark.engine import job_group

    a = engine.query(
        "SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey"
    )
    b = engine.query("SELECT r_regionkey FROM region ORDER BY r_regionkey")
    with job_group(a):
        a.collect()
    with job_group(b):
        b.collect()
    ma = engine.query_metrics(a._mm_query_id)
    mb = engine.query_metrics(b._mm_query_id)
    # A's aggregate ran AFTER B resolved, yet audits under A's own id
    assert ma["n_stages"] >= 2 and ma["peak_execution_memory_bytes"] > 0
    # B saw only its own tiny scan-sort, not A's aggregate stages. Stage
    # COUNTS are AQE/session-state dependent (a warm session can give the
    # 5-row sort more stages than the aggregate), so the cross-attribution
    # check is on shuffle volume: had A's orders aggregate leaked into B's
    # id, B would carry A's shuffle bytes on top of its 5-row exchange.
    assert mb["n_stages"] >= 1
    assert mb["shuffle_write_bytes"] < max(ma["shuffle_write_bytes"], 4096)
    # and an UNscoped collect afterwards attributes to nobody: the thread
    # was cleared, so a stale group can't absorb later jobs
    c = engine.query("SELECT COUNT(*) AS n FROM nation")
    c.collect()
    mc = engine.query_metrics(c._mm_query_id)
    assert mc["n_stages"] == 0


def test_exec_time_udf_error_classifies_user(engine, server):
    """#1435 exec_err parity: a Python-UDF ValueError raised DURING
    execution (not planning) still reaches the client as ArrowInvalid with
    the query id — the reference reclassified exactly these from Internal.
    With preserve_dictionary the error can surface in the stream or, for
    a string column, in the dictionary pre-pass; both classify alike."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.udf(LongType())
    def boom(x):
        raise ValueError("bad input value")

    engine.register_table(
        "boom_tbl", engine.spark.range(8).select(boom("id").alias("v"))
    )
    try:
        for preserve in (False, True):
            with FlightSQLClient(server.uri, preserve_dictionary=preserve) as c:
                for sql in (
                    "SELECT v FROM boom_tbl",
                    "SELECT CAST(v AS STRING) AS s FROM boom_tbl",
                ):
                    with pytest.raises(pa.lib.ArrowInvalid) as ei:
                        c.query(sql)
                    assert "[query_id=" in str(ei.value)
    finally:
        del engine._views["boom_tbl"]


def test_exec_time_not_implemented_classifies_unimplemented(engine, client):
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.udf(LongType())
    def nyi(x):
        raise NotImplementedError("feature pending")

    engine.register_table(
        "nyi_tbl", engine.spark.range(8).select(nyi("id").alias("v"))
    )
    try:
        with pytest.raises(pa.lib.ArrowNotImplementedError):
            client.query("SELECT v FROM nyi_tbl")
    finally:
        del engine._views["nyi_tbl"]


def test_enospc_chain_classifies_resource_over_wire(engine, client):
    """Disk exhaustion is a resource-budget failure exactly like OOM
    (the reference caps it with MICROMEGAS_DATAFUSION_MAX_TEMP_DIRECTORY_MB):
    an ENOSPC raised during execution must surface with
    [error_class=resource], not pollute error_class=='internal'."""
    import errno as _errno

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.udf(LongType())
    def diskfull(x):
        raise OSError(_errno.ENOSPC, "No space left on device")

    engine.register_table(
        "enospc_tbl", engine.spark.range(8).select(diskfull("id").alias("v"))
    )
    try:
        with pytest.raises(flight.FlightServerError) as ei:
            client.query("SELECT v FROM enospc_tbl")
        assert "[error_class=resource]" in str(ei.value)
        assert "[query_id=" in str(ei.value)
    finally:
        del engine._views["enospc_tbl"]


def test_spill_budget_guard_classifies_resource(engine, monkeypatch):
    """Engine(max_spill_mb=...): a query whose attributed disk spill
    crosses the budget aborts with a resource-classified error."""
    from micromegas_spark.flightsql.errors import (
        RESOURCE,
        SpillBudgetExceeded,
        classify_exception,
    )

    monkeypatch.setattr(engine, "max_spill_mb", 1.0)
    monkeypatch.setattr(
        engine,
        "_metrics_by_query_id",
        lambda ids: {
            qid: {
                "peak_execution_memory_bytes": 0,
                "memory_spill_bytes": 0,
                "disk_spill_bytes": 2 * 1024 * 1024,  # 2 MB > 1 MB budget
                "shuffle_write_bytes": 0,
                "n_stages": 1,
            }
            for qid in ids
        },
    )
    with pytest.raises(SpillBudgetExceeded) as ei:
        engine.check_spill_budget("qtest")
    assert classify_exception(ei.value) == RESOURCE
    # no budget → no-op regardless of spill
    monkeypatch.setattr(engine, "max_spill_mb", None)
    engine.check_spill_budget("qtest")


def test_spill_budget_aborts_stream_over_wire(spark, tmp_path):
    """Over-budget queries abort BETWEEN result batches on the live
    server and surface [error_class=resource] (the guard runs before
    each pull via attributed_iter's check hook)."""
    from micromegas_spark.engine import Engine
    from micromegas_spark.flightsql.client import FlightSQLClient
    from micromegas_spark.flightsql.server import FlightSQLServer

    eng = Engine.from_test_tables(spark, SF_SMOKE)
    # 0-MB budget with a forced nonzero "spill": any pull trips the guard
    eng.max_spill_mb = 0.0
    eng._metrics_by_query_id = lambda ids: {
        qid: {
            "peak_execution_memory_bytes": 0,
            "memory_spill_bytes": 0,
            "disk_spill_bytes": 1,
            "shuffle_write_bytes": 0,
            "n_stages": 1,
        }
        for qid in ids
    }
    with (
        arrow_batch_rows(spark, 4),
        FlightSQLServer(eng) as srv,
        FlightSQLClient(srv.uri) as c,
    ):
        with pytest.raises(flight.FlightServerError) as ei:
            c.query("SELECT o_orderkey FROM orders")
        assert "[error_class=resource]" in str(ei.value)


def test_concurrent_queries_attribution_disjoint_and_only_overbudget_dies(
    engine, monkeypatch
):
    """Round-8 concurrency stress (VERDICT r7 #7): the #1406 metrics, the
    spill budget, and execution-scoped job groups were each proven on a
    single query — here SIX Engine.query threads run at once (five green,
    one over-budget) and the guarantees must hold under interleaving:
    per-query attribution stays disjoint (each green query's stages land
    on its OWN query_id; summed-at-once equals queried-one-by-one, so no
    stage is double-counted or bled), every green query returns its
    correct result, and ONLY the over-budget query dies, classified
    `resource`."""
    import threading

    from micromegas_spark.engine import attributed_iter, job_group
    from micromegas_spark.flightsql.errors import SpillBudgetExceeded

    # patch the INSTANCE: an earlier test's monkeypatch teardown can leave
    # a bound-method instance attribute on the module-scoped engine, which
    # would shadow a class-level patch
    real_metrics = Engine._metrics_by_query_id
    bad_holder: dict = {}

    def spiky_metrics(ids):
        # real job-group attribution, with 2 MB of disk spill injected
        # for the designated victim only — deterministic at test scale
        # where nothing actually spills
        out = real_metrics(engine, ids)
        bad = bad_holder.get("qid")
        if bad in ids:
            m = out.setdefault(
                bad,
                {
                    "peak_execution_memory_bytes": 0,
                    "memory_spill_bytes": 0,
                    "disk_spill_bytes": 0,
                    "shuffle_write_bytes": 0,
                    "n_stages": 0,
                },
            )
            m["disk_spill_bytes"] += 2 * 1024 * 1024
        return out

    monkeypatch.setattr(engine, "_metrics_by_query_id", spiky_metrics)
    monkeypatch.setattr(engine, "max_spill_mb", 1.0)

    greens = [
        ("SELECT COUNT(*) AS n FROM orders", None),
        ("SELECT COUNT(DISTINCT o_custkey) AS n FROM orders", None),
        ("SELECT COUNT(*) AS n FROM lineitem", None),
        ("SELECT COUNT(DISTINCT l_partkey) AS n FROM lineitem", None),
        ("SELECT COUNT(*) AS n FROM customer", None),
    ]
    results: dict[str, object] = {}
    qids: dict[str, str] = {}
    errors: dict[str, BaseException] = {}
    start = threading.Barrier(len(greens) + 1)

    def run_green(i: int, sql: str) -> None:
        try:
            start.wait(timeout=60)
            df = engine.query(sql)
            qids[f"g{i}"] = df._mm_query_id
            with job_group(df):
                results[f"g{i}"] = df.collect()[0]["n"]
        except BaseException as e:  # noqa: BLE001 - recorded for assertion
            errors[f"g{i}"] = e

    def run_bad() -> None:
        try:
            start.wait(timeout=60)
            df = engine.query(
                "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1"
            )
            qid = df._mm_query_id
            qids["bad"] = qid
            bad_holder["qid"] = qid
            sc = engine.spark.sparkContext
            # the server's stream loop: budget checked between pulls
            for _ in attributed_iter(
                sc, qid, "bad", df.toLocalIterator(),
                check=lambda: engine.check_spill_budget(qid),
            ):
                pass
            results["bad"] = "completed"
        except BaseException as e:  # noqa: BLE001
            errors["bad"] = e

    threads = [
        threading.Thread(target=run_green, args=(i, sql))
        for i, (sql, _) in enumerate(greens)
    ] + [threading.Thread(target=run_bad)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)

    # ONLY the over-budget query died, and it died `resource`
    assert set(errors) == {"bad"}, errors
    assert isinstance(errors["bad"], SpillBudgetExceeded)
    assert classify_exception(errors["bad"]) == RESOURCE

    # every green query returned its own correct answer
    expected = {
        f"g{i}": engine.query(sql).collect()[0]["n"]
        for i, (sql, _) in enumerate(greens)
    }
    assert {k: results[k] for k in expected} == expected

    # attribution disjoint: querying each id alone matches querying all at
    # once (no stage double-counted across ids), and each green query has
    # its own attributed stages
    green_ids = {qids[f"g{i}"] for i in range(len(greens))}
    at_once = real_metrics(engine, green_ids)
    for i in range(len(greens)):
        qid = qids[f"g{i}"]
        alone = real_metrics(engine, {qid}).get(qid)
        assert alone is not None and alone["n_stages"] > 0, f"g{i} unattributed"
        assert alone == at_once[qid], f"g{i} attribution bled across ids"
    assert len(green_ids) == len(greens)  # six distinct query ids


def test_failure_counters_split_by_class(spark, tmp_path):
    """#1435 monitoring contract: query_failed counts ONLY internal
    failures; user mistakes and budget kills land in their own counters,
    so alerting on query_failed never fires for a typo."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    base = eng.failure_counters()
    assert base == {
        "query_failed": 0, "query_failed_user": 0, "query_failed_resource": 0,
    }
    with pytest.raises(Exception):
        eng.query("SELECT definitely_not_a_column FROM nonexistent_tbl")
    with pytest.raises(Exception):
        eng.query("SELEC syntax error")
    # a successful query adds nothing
    eng.query("SELECT 1 AS x").collect()
    got = eng.failure_counters()
    assert got["query_failed_user"] == 2
    assert got["query_failed"] == 0 and got["query_failed_resource"] == 0


def test_spill_budget_aborts_embedded_stream(spark):
    """VERDICT r10 #4: the budget protects the EMBEDDED entry path too —
    Client.query_stream checks it between batch pulls (the reference's
    temp-directory cap guards the process regardless of entry path),
    and the abort carries the resource error class."""
    from micromegas_spark.client import Client
    from micromegas_spark.engine import Engine
    from micromegas_spark.flightsql.errors import (
        RESOURCE,
        SpillBudgetExceeded,
        classify_exception,
    )

    eng = Engine.from_test_tables(spark, SF_SMOKE)
    eng.max_spill_mb = 0.0
    eng._metrics_by_query_id = lambda ids: {
        qid: {
            "peak_execution_memory_bytes": 0,
            "memory_spill_bytes": 0,
            "disk_spill_bytes": 1,
            "shuffle_write_bytes": 0,
            "n_stages": 1,
        }
        for qid in ids
    }
    client = Client(eng)
    with arrow_batch_rows(spark, 4):
        with pytest.raises(SpillBudgetExceeded) as ei:
            for _ in client.query_stream("SELECT o_orderkey FROM orders"):
                pass
    assert classify_exception(ei.value) == RESOURCE
    # the prepared-statement stream rides the same guard
    stmt = client.prepare("SELECT r_name FROM region")
    with arrow_batch_rows(spark, 2):
        with pytest.raises(SpillBudgetExceeded):
            for _ in client.prepared_statement_stream(stmt):
                pass
        # budget off: the same streams complete
        eng.max_spill_mb = None
        n = sum(
            b.num_rows for b in client.query_stream("SELECT r_name FROM region")
        )
    assert n == 5
