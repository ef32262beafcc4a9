"""S11 task-log surface: the partition-admin table functions' SQL
spelling returns the operation's progress log as a (time, msg) relation
(reference: dfext/task_log_exec_plan.rs + log_stream_table_provider.rs,
wired in lakehouse/{materialize,retire,regenerate}_partitions_table_
function.rs; our semantics and the documented streaming delta live in
micromegas_spark/materialize/tasklog.py)."""

from __future__ import annotations

import pytest

from micromegas_spark.engine import Engine, InvalidArgument

HOUR = 3_600 * 10**9


@pytest.fixture()
def admin_engine(spark, tmp_path):
    from micromegas_spark.materialize import LOG_STATS
    from micromegas_spark.sources.synthetic import generate

    data = generate(seed=11)
    spark.createDataFrame(data["blocks"]).join(
        spark.createDataFrame(data["streams"]).select("stream_id", "tags"),
        "stream_id",
    ).createOrReplaceTempView("blocks")
    spark.createDataFrame(data["log_entries"]).createOrReplaceTempView("log_entries")
    eng = Engine(spark, warehouse=str(tmp_path / "wh_tasklog"))
    eng.register_batch_view(LOG_STATS)
    ins = [b["insert_time_ns"] for b in data["blocks"]]
    lo = min(ins) - min(ins) % HOUR
    hi = max(ins) - max(ins) % HOUR + HOUR
    return eng, lo, hi


def test_materialize_sql_spelling_returns_task_log(admin_engine):
    eng, lo, hi = admin_engine
    df = eng.query(
        f"SELECT * FROM materialize_partitions('log_stats', '{lo}', '{hi}', 3600)"
    )
    # the reference's result schema: (time Timestamp, msg Utf8)
    assert [f.name for f in df.schema.fields] == ["time", "msg"]
    assert df.schema["time"].dataType.typeName() == "timestamp"
    rows = df.collect()
    # one row per bucket decision + the summary row
    n_buckets = (hi - lo) // HOUR
    assert len(rows) == n_buckets + 1
    assert sum(": created" in r.msg for r in rows) >= 1
    assert rows[-1].msg.startswith("log_stats: done,")
    # log times are non-decreasing (the stream order the reference emits)
    ts = [r.time for r in rows]
    assert ts == sorted(ts)
    # the op actually ran: partitions exist now
    assert len(eng.lakehouse.list_partitions("log_stats")) >= 1

    # second tick: everything fresh -> up_to_date rows, nothing recreated
    df2 = eng.query(
        f"SELECT msg FROM materialize_partitions('log_stats', '{lo}', '{hi}', 3600)"
    )
    msgs2 = [r.msg for r in df2.collect()]
    assert sum(": up_to_date" in m for m in msgs2) == n_buckets


def test_retire_and_regenerate_sql_spellings(admin_engine):
    eng, lo, hi = admin_engine
    eng.query(
        f"SELECT * FROM materialize_partitions('log_stats', '{lo}', '{hi}', 3600)"
    ).collect()
    n_parts = len(eng.lakehouse.list_partitions("log_stats"))
    assert n_parts >= 1

    # retire: one row per retired partition (path included) + summary,
    # and the catalog is actually empty afterwards
    msgs = [
        r.msg
        for r in eng.query(
            f"SELECT * FROM retire_partitions('log_stats', '{lo}', '{hi}')"
        ).collect()
    ]
    assert sum(m.startswith("retired partition log_stats[") for m in msgs) == n_parts
    assert msgs[-1] == f"log_stats: retired {n_parts} partition(s)"
    assert eng.lakehouse.list_partitions("log_stats") == []

    # regenerate: retire phase (nothing to drop now) + rebuild phase
    msgs = [
        r.msg
        for r in eng.query(
            f"SELECT * FROM regenerate_partitions('log_stats', '{lo}', '{hi}', 3600)"
        ).collect()
    ]
    assert "log_stats: retired 0 partition(s)" in msgs
    assert sum(": created" in m for m in msgs) >= 1
    assert len(eng.lakehouse.list_partitions("log_stats")) >= 1


def test_task_log_composes_with_plain_sql(admin_engine):
    """The log is a real relation: aggregations over it work in the same
    statement (the reference's LogStreamTableProvider is a TableProvider
    for exactly this reason)."""
    eng, lo, hi = admin_engine
    out = eng.query(
        "SELECT COUNT(*) AS n FROM "
        f"materialize_partitions('log_stats', '{lo}', '{hi}', 3600) "
        "WHERE msg LIKE '%created%'"
    ).collect()
    assert out[0].n >= 1


def test_non_admin_gets_not_found_parity(spark, tmp_path):
    """Non-admin sessions never have the admin functions registered
    (reference query.rs:150-175): the SQL spelling fails as 'not found',
    not as a permission error."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh_na_tl"), admin=False)
    with pytest.raises(LookupError, match="not found"):
        eng.query(
            "SELECT * FROM materialize_partitions('log_stats', '0', '1', 3600)"
        )


def test_non_literal_args_rejected(admin_engine):
    eng, lo, hi = admin_engine
    with pytest.raises(InvalidArgument, match="literal arguments"):
        eng.query(
            "SELECT * FROM materialize_partitions(view_col, '0', '1', 3600)"
        )


def test_call_text_inside_string_literal_is_data(admin_engine):
    """Occurrences inside SQL strings are data, not calls — same lexing
    contract as view_instance (no admin op runs, no gate trips)."""
    eng, _, _ = admin_engine
    out = eng.query(
        "SELECT 'retire_partitions(''x'', ''0'', ''1'')' AS s"
    ).collect()
    assert out[0].s == "retire_partitions('x', '0', '1')"


def test_iso_timestamp_arguments(admin_engine):
    """Timestamp literals in ISO form parse via the same path as the
    client surface (timeutils.to_epoch_ns)."""
    eng, lo, hi = admin_engine
    import datetime as dt

    iso = lambda ns: dt.datetime.fromtimestamp(
        ns / 1e9, tz=dt.timezone.utc
    ).isoformat()
    rows = eng.query(
        "SELECT * FROM materialize_partitions("
        f"'log_stats', '{iso(lo)}', '{iso(hi)}', 3600)"
    ).collect()
    assert any(": created" in r.msg or ": up_to_date" in r.msg for r in rows)


def test_non_positive_delta_rejected_before_any_op_runs(admin_engine):
    """ADVICE r9: a negative delta previously never terminated the bucket
    loop (b decreases forever) and 0 hit ZeroDivisionError. Must raise a
    clean InvalidArgument at plan time, with the catalog untouched."""
    eng, lo, hi = admin_engine
    for bad in (-1, 0):
        with pytest.raises(InvalidArgument, match="positive"):
            eng.query(
                f"SELECT * FROM materialize_partitions('log_stats', '{lo}', '{hi}', {bad})"
            )
    assert eng.lakehouse.list_partitions("log_stats") == []
    # validation is all-calls-first: a good call paired with a bad one
    # must not run before the bad one raises
    with pytest.raises(InvalidArgument, match="positive"):
        eng.query(
            f"SELECT * FROM materialize_partitions('log_stats', '{lo}', '{hi}', 3600) a "
            f"CROSS JOIN materialize_partitions('log_stats', '{lo}', '{hi}', 0) b"
        )
    assert eng.lakehouse.list_partitions("log_stats") == []


def test_mixed_functions_execute_in_statement_order(admin_engine):
    """ADVICE r9: a statement spelling retire THEN materialize must run
    retire first (source-position order), not function-tuple order —
    these ops mutate the same catalog, so the order is observable."""
    eng, lo, hi = admin_engine
    eng.query(
        f"SELECT * FROM materialize_partitions('log_stats', '{lo}', '{hi}', 3600)"
    ).collect()
    assert len(eng.lakehouse.list_partitions("log_stats")) >= 1
    # retire first, materialize second: end state = partitions EXIST.
    # (The old per-function loop ran all materialize calls before any
    # retire call, which would leave the catalog empty here.)
    eng.query(
        f"SELECT * FROM retire_partitions('log_stats', '{lo}', '{hi}') r "
        f"CROSS JOIN materialize_partitions('log_stats', '{lo}', '{hi}', 3600) m"
    ).collect()
    assert len(eng.lakehouse.list_partitions("log_stats")) >= 1


def test_tasklog_temp_views_are_statement_scoped(admin_engine):
    """ADVICE r9: the _tasklog_* temp views must not outlive their
    statement — otherwise the admin op's output stays queryable by later
    statements on the thread — and never reach the parent session, which
    other Engines (a non-admin one included) share. The same holds for
    the _vi_* views view_instance calls are substituted with: statements
    over N distinct instances leave none behind in the pooled session."""
    from micromegas_spark.engine import JitViewSet

    eng, lo, hi = admin_engine
    eng.register_jit_view_set(
        JitViewSet(
            "vs",
            source_count=lambda inst, b, e: 1,
            build=lambda inst, b, e: eng.spark.createDataFrame(
                [(b, inst)], "t BIGINT, inst STRING"
            ),
            time_column="t",
        )
    )
    dfs = [
        eng.query(
            f"SELECT * FROM materialize_partitions('log_stats', '{lo}', '{hi}', 3600)"
        )
    ]
    n = 4
    dfs += [
        eng.query(f"SELECT t, inst FROM view_instance('vs', 'p{i}')", 0, HOUR)
        for i in range(n)
    ]
    with eng.planning_session() as planning:
        for session in (planning, eng.spark):
            leftovers = [
                t.name
                for t in session.catalog.listTables()
                if t.name.startswith(("_tasklog_", "_vi_"))
            ]
            assert leftovers == []
    # the analyzed plan holds the resolved relation: still collectable
    assert len(dfs[0].collect()) >= 1
    assert [df.collect()[0].inst for df in dfs[1:]] == [f"p{i}" for i in range(n)]


def test_task_failure_becomes_final_log_row(admin_engine):
    """Reference parity (ADVICE r9): the spawner catches the task's error
    and writes it as the final (time, msg) row — the query SUCCEEDS with
    the error as the last entry (materialize_partitions_table_function.rs
    producers), it does not raise out of query()."""
    from micromegas_spark.materialize import BatchViewSpec

    eng, lo, hi = admin_engine
    eng.register_batch_view(
        BatchViewSpec(
            name="broken_view",
            count_query="SELECT 1 AS src",
            extract_query="SELECT boom FROM table_that_does_not_exist_{begin}",
            merge_query="SELECT * FROM source",
            time_column="boom",
        )
    )
    rows = eng.query(
        f"SELECT * FROM materialize_partitions('broken_view', '{lo}', '{hi}', 3600)"
    ).collect()
    assert rows, "failed task must still return its log"
    assert rows[-1].msg.startswith("error: ")
    # argument errors are NOT task failures: unknown view raises (plan time)
    with pytest.raises(Exception, match="no_such_view|unknown|not"):
        eng.query(
            f"SELECT * FROM materialize_partitions('no_such_view', '{lo}', '{hi}', 3600)"
        )


def test_escaped_string_literals_mode_is_loud(admin_engine):
    """VERDICT r9 wrong #3: under spark.sql.parser.escapedStringLiterals
    =true the literal scanner could silently desync; both rewrites must
    refuse with a clear error instead."""
    eng, lo, hi = admin_engine
    conf = "spark.sql.parser.escapedStringLiterals"
    eng.spark.conf.set(conf, "true")
    try:
        with pytest.raises(InvalidArgument, match="escapedStringLiterals"):
            eng.query(
                f"SELECT * FROM materialize_partitions('log_stats', '{lo}', '{hi}', 3600)"
            )
        with pytest.raises(InvalidArgument, match="escapedStringLiterals"):
            eng.query("SELECT * FROM view_instance('a', 'b')", 0, 1)
    finally:
        eng.spark.conf.unset(conf)
    # back to default: the same statement plans fine again
    rows = eng.query(
        f"SELECT * FROM materialize_partitions('log_stats', '{lo}', '{hi}', 3600)"
    ).collect()
    assert rows
