"""Each call binds its statement's views in a cloned planning session it
holds alone (Engine.planning_session): admin ticks read fresh views with no
statement before them, one call's planning never waits on another's, and
clones are pooled, so their number follows concurrency, not calls."""

from __future__ import annotations

import threading

from micromegas_spark.engine import Engine

HOUR = 3_600 * 10**9


def test_private_session_apis_the_engine_uses(spark):
    """Pin the private Spark APIs the design rests on: cloneSession (a
    clone shares the SparkContext and the parent's functions),
    classic.Dataset.ofRows (a plan built on the parent binds into the
    clone), the catalog calls that copy a parent temp view in and the
    SQLConf settings map a checkout syncs from the parent."""
    eng = Engine(spark)
    with eng.planning_session() as clone:
        assert clone is not spark
        with eng.planning_session() as nested:
            assert nested is clone
    with eng.planning_session() as again:
        assert again is clone
    assert clone.sparkContext is spark.sparkContext
    assert clone.sql("SELECT property_get(map('k', 'v'), 'k') AS v").first().v == "v"

    Engine._bind(clone, "pin_bound", spark.range(3))
    assert clone.table("pin_bound").count() == 3
    assert not spark.catalog.tableExists("pin_bound")

    # a parent temp view made after the clone, then replaced: the
    # statement naming it sees the parent's current definition
    spark.range(2).createOrReplaceTempView("pin_parent")
    eng.prepare_views("SELECT * FROM pin_parent")
    spark.range(5).createOrReplaceTempView("pin_parent")
    with eng.planning_session():
        assert eng.prepare_views("SELECT * FROM pin_parent").table("pin_parent").count() == 5
    spark.catalog.dropTempView("pin_parent")

    # a conf set on the parent reaches the next checkout; a conf set in
    # the clone does not outlive its checkout
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        with eng.planning_session() as s:
            assert s.conf.get(key) == "3"
            s.conf.set("spark.sql.pin.leftover", "x")
        with eng.planning_session() as s:
            assert s.conf.get("spark.sql.pin.leftover", None) is None
    finally:
        spark.conf.set(key, old)


def test_admin_tick_right_after_doput_counts_every_row(spark, tmp_path):
    """A served materialize tick with no statement before it binds the
    views it reads itself: the first tick does not fail with
    TABLE_OR_VIEW_NOT_FOUND, and a tick right after a second DoPut counts
    the rows that DoPut added."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from micromegas_spark.flightsql.client import FlightSQLClient
    from micromegas_spark.flightsql.server import FlightSQLServer
    from micromegas_spark.materialize import LOG_STATS
    from micromegas_spark.sources.synthetic import generate

    data = generate(seed=11)
    blocks = (
        spark.createDataFrame(data["blocks"])
        .join(spark.createDataFrame(data["streams"]).select("stream_id", "tags"), "stream_id")
        .toArrow()
    )
    logs = spark.createDataFrame(data["log_entries"]).toArrow()
    lo = min(b["insert_time_ns"] for b in data["blocks"])
    lo -= lo % HOUR
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.register_batch_view(LOG_STATS)

    def hour(tbl, h):
        t = tbl.column("insert_time_ns")
        keep = pc.and_(
            pc.greater_equal(t, lo + h * HOUR), pc.less(t, lo + (h + 1) * HOUR)
        )
        return tbl.filter(keep)

    def materialized() -> int:
        return eng.lakehouse.read("log_stats").agg(F.sum("count")).first()[0] or 0

    with FlightSQLServer(eng) as srv, FlightSQLClient(srv.uri) as c:
        ingested = 0
        for h in range(2):
            c.bulk_ingest("blocks", hour(blocks, h))
            ingested += c.bulk_ingest("log_entries", hour(logs, h))
            msgs = list(
                c.query(
                    "SELECT * FROM materialize_partitions("
                    f"'log_stats', '{lo}', '{lo + 2 * HOUR}', 3600)"
                )["msg"]
            )
            assert not [m for m in msgs if m.startswith("error")], msgs
            assert materialized() == ingested
    assert ingested == len(data["log_entries"])


def test_statement_plans_while_another_threads_admin_op_is_parked(spark, tmp_path):
    """Planning is not serialized: while one thread's admin op is parked
    inside a view builder, a statement on another thread still resolves
    and runs."""
    from micromegas_spark.materialize import BatchViewSpec

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    release, parked = threading.Event(), threading.Event()

    def gated(begin_ns, end_ns):
        parked.set()
        release.wait(60)
        return spark.range(3).selectExpr("id AS t")

    eng.register_view("gated_src", gated)
    eng.register_table("free_src", spark.range(4).toDF("x"))
    eng.register_batch_view(
        BatchViewSpec(
            name="gated_view",
            count_query="SELECT COUNT(*) FROM gated_src",
            extract_query="SELECT t FROM gated_src WHERE {begin} < {end}",
            merge_query="SELECT * FROM source",
            time_column="t",
        )
    )
    admin = threading.Thread(
        target=lambda: eng.query(
            f"SELECT * FROM materialize_partitions('gated_view', '0', '{HOUR}', 3600)"
        ).collect()
    )
    admin.start()
    try:
        assert parked.wait(60), "the admin op never reached the view builder"
        got: dict = {}
        reader = threading.Thread(
            target=lambda: got.update(
                n=eng.query("SELECT COUNT(*) AS n FROM free_src").first().n
            )
        )
        reader.start()
        reader.join(timeout=30)
        assert not reader.is_alive(), "statement waited on another thread's admin op"
        assert got == {"n": 4}
    finally:
        release.set()
        admin.join(timeout=60)
    assert not admin.is_alive()


def _count_clones(monkeypatch, module) -> list:
    made: list = []
    real = module.clone_session

    def counted(spark):
        made.append(1)
        return real(spark)

    monkeypatch.setattr(module, "clone_session", counted)
    return made


def test_clones_are_bounded_by_concurrent_calls(spark, monkeypatch):
    """Calls from 4 threads make at most 4 clones, whatever the number of
    statements: the JVM keeps every clone's session state alive."""
    import micromegas_spark.engine as engine_mod

    made = _count_clones(monkeypatch, engine_mod)
    eng = Engine(spark)
    eng.register_table("reuse_src", spark.range(2).toDF("x"))

    def worker():
        for _ in range(5):
            assert eng.query("SELECT COUNT(*) AS n FROM reuse_src").first().n == 2

    ts = [threading.Thread(target=worker) for _ in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in ts)
    assert 1 <= len(made) <= 4


def test_served_calls_reuse_pooled_clones(spark, tmp_path, monkeypatch):
    """gRPC handler threads keep no Python thread state between calls, so
    a per-thread clone would be one clone per call. Served statements,
    schema lookups and streamed admin ticks from 3 concurrent clients
    make at most one clone per concurrent call."""
    import micromegas_spark.engine as engine_mod
    from micromegas_spark.flightsql.client import FlightSQLClient
    from micromegas_spark.flightsql.server import FlightSQLServer

    from micromegas_spark.materialize import BatchViewSpec

    made = _count_clones(monkeypatch, engine_mod)
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.register_table("served_src", spark.range(3).toDF("x"))
    eng.register_batch_view(
        BatchViewSpec(
            name="served_view",
            count_query="SELECT COUNT(*) FROM served_src",
            extract_query="SELECT x AS t FROM served_src WHERE {begin} < {end}",
            merge_query="SELECT * FROM source",
            time_column="t",
        )
    )
    tick = f"SELECT * FROM materialize_partitions('served_view', '0', '{HOUR}', 3600)"
    errors: list = []

    def worker(uri):
        try:
            with FlightSQLClient(uri) as c:
                for _ in range(4):
                    assert c.query("SELECT COUNT(*) AS n FROM served_src")["n"][0] == 3
                    schema = c.prepare_statement("SELECT x FROM served_src").dataset_schema
                    assert schema.names == ["x"]
                    msgs = list(c.query(tick)["msg"])
                    assert not [m for m in msgs if m.startswith("error")], msgs
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    with FlightSQLServer(eng) as srv:
        ts = [threading.Thread(target=worker, args=(srv.uri,)) for _ in range(3)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=300)
    assert not any(t.is_alive() for t in ts)
    assert errors == []
    assert 1 <= len(made) <= 3, f"{len(made)} clones for 36 served calls"
    assert [t.name for t in spark.catalog.listTables() if t.name == "served_src"] == []


def test_merges_of_a_view_reuse_one_session(spark, tmp_path, monkeypatch):
    """A view's merges bind `source` in one session made on its first
    merge, never in the parent and never in a clone per merge."""
    import micromegas_spark.materialize.batch as batch
    from micromegas_spark.materialize import BatchViewSpec, Lakehouse

    made = _count_clones(monkeypatch, batch)
    spark.range(0, 4 * HOUR, HOUR // 4).selectExpr("id AS t").createOrReplaceTempView(
        "merge_src"
    )
    window = "FROM merge_src WHERE t >= {begin} AND t < {end}"
    spec = BatchViewSpec(
        name="merge_reuse",
        count_query=f"SELECT COUNT(*) {window}",
        extract_query=f"SELECT t {window}",
        merge_query="SELECT * FROM source",
        time_column="t",
    )
    lake = Lakehouse(spark, str(tmp_path / "wh"))
    try:
        for lo in (0, 2 * HOUR):
            lake.materialize_range(spec, lo, lo + 2 * HOUR, HOUR)
            assert lake.merge_partitions(spec, lo, lo + 2 * HOUR) == "merged"
    finally:
        spark.catalog.dropTempView("merge_src")
    assert len(made) == 1
    assert len(lake.list_partitions("merge_reuse")) == 2
    assert lake.read("merge_reuse").count() == 16
    assert not spark.catalog.tableExists("source")


def test_merge_session_follows_the_parent_conf(spark, tmp_path):
    """A view's merge session is reused across merges, and each merge
    runs it on the conf the Lakehouse's session has then: a conf set
    between two merges reaches the second."""
    import micromegas_spark.materialize.batch as batch
    from micromegas_spark.materialize import BatchViewSpec, Lakehouse

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.range(0, 4 * HOUR, HOUR // 4).selectExpr("id AS t").createOrReplaceTempView(
        "merge_conf_src"
    )
    window = "FROM merge_conf_src WHERE t >= {begin} AND t < {end}"
    spec = BatchViewSpec(
        name="merge_conf",
        count_query=f"SELECT COUNT(*) {window}",
        extract_query=f"SELECT t {window}",
        merge_query="SELECT * FROM source",
        time_column="t",
    )
    lake = Lakehouse(spark, str(tmp_path / "wh"))
    try:
        lake.materialize_range(spec, 0, 2 * HOUR, HOUR)
        assert lake.merge_partitions(spec, 0, 2 * HOUR) == "merged"
        merge_session = batch._MERGE_SESSIONS[(lake.fs.root_url, "merge_conf")]
        assert merge_session.conf.get(key) == prev
        spark.conf.set(key, "3")
        lake.materialize_range(spec, 2 * HOUR, 4 * HOUR, HOUR)
        assert lake.merge_partitions(spec, 2 * HOUR, 4 * HOUR) == "merged"
        assert batch._MERGE_SESSIONS[(lake.fs.root_url, "merge_conf")] is merge_session
        assert merge_session.conf.get(key) == "3"
    finally:
        spark.conf.set(key, prev)
        spark.catalog.dropTempView("merge_conf_src")


def test_concurrent_planning_stress(spark):
    """More planning threads than cores, with a short switch interval:
    register_table racing the view snapshot and query_log reads racing
    the log appends never raise, and every statement sees its own range."""
    import sys

    eng = Engine(spark)
    eng.register_table("stress_src", spark.range(100).selectExpr("id AS t"), time_column="t")
    errors: list = []

    def worker(i):
        try:
            for j in range(4):
                eng.register_table(f"stress_{i}_{j}", spark.range(1).toDF("x"))
                assert eng.query("SELECT COUNT(*) AS n FROM stress_src", i, i + 10).first().n == 10
                eng.query("SELECT COUNT(*) AS n FROM query_log").first()
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        ts = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in ts)
    assert errors == []
