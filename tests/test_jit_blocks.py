"""Event-time JIT block grouping (reference changelog #1429; jit_partitions.rs
group_blocks_into_partitions with BlockOrder::EventTime, insert-safe cuts,
RetireMatch::Overlap): partitions are cut from the block list ordered by
EVENT time, so a stream whose blocks register out of event-time order still
assembles cross-block call trees, and a producer that stamps the replacement
block's begin before closing the outgoing one (overlapping blocks — the
``begin <= last_end`` gap-only contiguity fix) interleaves correctly."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from micromegas_spark.engine import Engine, JitViewSet, group_blocks_into_partitions
from micromegas_spark.materialize.batch import instance_view
from micromegas_spark.operators.spans import build_thread_spans


def blk(bid, begin, end, insert, n=10):
    return {
        "block_id": bid,
        "begin_ns": begin,
        "end_ns": end,
        "insert_ns": insert,
        "nb_objects": n,
    }


# ---------------------------------------------------------------- grouping


def test_group_empty():
    assert group_blocks_into_partitions([], 100) == []


def test_group_orders_by_event_time_not_registration():
    # registration (list) order is c, a, b; event-time order is a, b, c
    blocks = [blk("c", 200, 300, 3), blk("a", 0, 100, 1), blk("b", 100, 200, 2)]
    parts = group_blocks_into_partitions(blocks, 10**9)
    assert [b["block_id"] for p in parts for b in p] == ["a", "b", "c"]


def test_group_cuts_at_soft_limit_when_safe():
    # insert order == event order, so every index is a safe cut
    blocks = [blk(f"b{i}", i * 10, i * 10 + 10, i, n=10) for i in range(6)]
    parts = group_blocks_into_partitions(blocks, 20)
    assert [len(p) for p in parts] == [2, 2, 2]


def test_group_unsafe_cut_falls_back_to_last_safe_index():
    # event-time order a,b,c,d but c inserted BEFORE b: a|b is safe
    # (insert max 0 <= min(5,1,6)), b|c is NOT (insert 5 > c's 1).
    # Soft limit trips at b → cut must land at the safe point after a... no:
    # after [a, b] prefix-max insert is 5 > suffix-min 1 (c) → unsafe; the
    # most recent safe index inside the open partition is a (prefix [a],
    # max 0 <= min(5,1,6)).
    blocks = [
        blk("a", 0, 10, 0, n=10),
        blk("b", 10, 20, 5, n=10),
        blk("c", 20, 30, 1, n=10),
        blk("d", 30, 40, 6, n=10),
    ]
    parts = group_blocks_into_partitions(blocks, 20)
    assert [b["block_id"] for b in parts[0]] == ["a"]
    # remaining blocks regroup; partitions' insert ranges must not overlap
    ranges = [
        (min(b["insert_ns"] for b in p), max(b["insert_ns"] for b in p))
        for p in parts
    ]
    for i in range(len(ranges) - 1):
        assert ranges[i][1] < ranges[i + 1][0]


def test_group_grows_past_soft_limit_when_no_safe_point():
    # inserts strictly decreasing: NO interior cut is insert-safe, so the
    # soft limit is exceeded and everything lands in one partition
    blocks = [blk(f"b{i}", i * 10, i * 10 + 10, 100 - i, n=10) for i in range(5)]
    parts = group_blocks_into_partitions(blocks, 20)
    assert len(parts) == 1 and len(parts[0]) == 5


def test_group_insert_ranges_never_overlap_random():
    import random

    rng = random.Random(7)
    for _ in range(50):
        n = rng.randint(1, 12)
        ins = list(range(n))
        rng.shuffle(ins)
        blocks = [
            blk(f"b{i}", i * 10, i * 10 + rng.randint(5, 15), ins[i], n=rng.randint(1, 9))
            for i in range(n)
        ]
        parts = group_blocks_into_partitions(blocks, rng.randint(5, 25))
        ranges = sorted(
            (min(b["insert_ns"] for b in p), max(b["insert_ns"] for b in p))
            for p in parts
        )
        for i in range(len(ranges) - 1):
            assert ranges[i][1] < ranges[i + 1][0], (blocks, parts)
        # every block exactly once
        got = sorted(b["block_id"] for p in parts for b in p)
        assert got == sorted(b["block_id"] for b in blocks)


# ------------------------------------------------------------ engine path


def _ev(eid, etype, t, h, name, stream_id, block_id):
    return {
        "stream_id": stream_id,
        "block_id": block_id,
        "event_id": eid,
        "event_type": etype,
        "time_ns": t,
        "hash": h,
        "name": name,
        "target": "mod",
        "filename": "a.rs",
        "line": 1,
    }


def _block_view_set(edf, blocks_by_id, max_nb_objects=10**9):
    def list_blocks(instance, b, e):
        return [
            m
            for m in blocks_by_id.values()
            if m["instance"] == instance and m["begin_ns"] < e and m["end_ns"] > b
        ]

    def build_blocks(instance, block_ids):
        ev = edf.where(
            (F.col("stream_id") == instance) & F.col("block_id").isin(list(block_ids))
        )
        return build_thread_spans(ev, 0, 2**62).drop("stream_id")

    return JitViewSet(
        "thread_spans_bt",
        source_count=lambda *_: 0,
        build=lambda *_: None,
        time_column="begin_ns",
        list_blocks=list_blocks,
        build_blocks=build_blocks,
        max_nb_objects=max_nb_objects,
    )


def test_cross_block_call_tree_assembles_out_of_order_registration(spark, tmp_path):
    """The #1429 headline: block B2 holds the END of a span whose BEGIN is
    in B1; B2 was INSERTED first (out of event-time order), and B2's event
    range overlaps B1's (begin <= last_end, the buffer-swap overlap). The
    JIT view must still produce one complete parent span."""
    sid = "s0"
    events = [
        # B1: outer begin at 10, inner begin/end 20..30; block event range [10, 35]
        _ev(1, "begin", 10, 100, "outer", sid, "B1"),
        _ev(2, "begin", 20, 200, "inner", sid, "B1"),
        _ev(3, "end", 30, 200, "inner", sid, "B1"),
        # B2: begins at 32 BEFORE B1's end 35 (overlap), holds outer's end
        _ev(4, "begin", 32, 300, "tail", sid, "B2"),
        _ev(5, "end", 34, 300, "tail", sid, "B2"),
        _ev(6, "end", 40, 100, "outer", sid, "B2"),
    ]
    edf = spark.createDataFrame(events)
    blocks = {
        # insert order: B2 first (insert 1), B1 second (insert 2)
        "B1": dict(blk("B1", 10, 35, 2, n=3), instance=sid),
        "B2": dict(blk("B2", 32, 40, 1, n=3), instance=sid),
    }
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.register_jit_view_set(_block_view_set(edf, blocks))
    rows = {
        r["name"]: r
        for r in eng.view_instance("thread_spans_bt", sid, 0, 10**6).collect()
    }
    # outer spans the block boundary: closed by B2's event, not healed
    assert rows["outer"]["begin_ns"] == 10 and rows["outer"]["end_ns"] == 40
    assert rows["outer"]["parent"] == -1 and rows["outer"]["depth"] == 0
    assert rows["inner"]["parent"] == rows["outer"]["id"]
    assert rows["tail"]["parent"] == rows["outer"]["id"]


def test_jit_blocks_cache_reuse_and_overlap_retire(spark, tmp_path):
    """Freshness by block-set identity; a moved cut point retires the old
    partition by inclusive insert-range OVERLAP (RetireMatch::Overlap),
    with this run's partitions protected by identity."""
    sid = "s0"

    def mk_events(block_id, t0, eid0):
        return [
            _ev(eid0, "begin", t0, 100, "f", sid, block_id),
            _ev(eid0 + 1, "end", t0 + 5, 100, "f", sid, block_id),
        ]

    events = mk_events("B1", 10, 1) + mk_events("B2", 20, 3)
    blocks = {
        "B1": dict(blk("B1", 10, 15, 1, n=2), instance=sid),
        "B2": dict(blk("B2", 20, 25, 2, n=2), instance=sid),
    }
    edf1 = spark.createDataFrame(events)
    eng = Engine(spark, warehouse=str(tmp_path / "wh2"))
    vs = _block_view_set(edf1, blocks, max_nb_objects=10)
    eng.register_jit_view_set(vs)
    assert eng.view_instance("thread_spans_bt", sid, 0, 10**6).count() == 2
    part_root = os.path.join(eng.warehouse, instance_view("thread_spans_bt", sid))
    first_parts = set(os.listdir(part_root))
    assert len(first_parts) == 1  # both blocks fit one partition

    # re-query: identical block set → reuse, no new partition dirs
    assert eng.view_instance("thread_spans_bt", sid, 0, 10**6).count() == 2
    assert set(os.listdir(part_root)) == first_parts

    # a late-inserted block lands BETWEEN B1 and B2 in event time and the
    # soft limit now forces the cut point to move: neither new partition
    # equals the old [B1,B2] one, which merely OVERLAPS both by insert
    # range → retired (the exact shape RetireMatch::Containment misses)
    events += mk_events("B0", 16, 5)
    blocks["B0"] = dict(blk("B0", 16, 18, 3, n=2), instance=sid)
    edf2 = spark.createDataFrame(events)
    vs2 = _block_view_set(edf2, blocks, max_nb_objects=4)
    eng.register_jit_view_set(vs2)
    assert eng.view_instance("thread_spans_bt", sid, 0, 10**6).count() == 3
    second_parts = set(os.listdir(part_root))
    assert first_parts.isdisjoint(second_parts)  # old partition retired
    assert len(second_parts) == 2  # [B1] and [B0,B2] (insert-safe cut at B1)


def test_jit_blocks_time_filter_prunes(spark, tmp_path):
    sid = "s0"
    events = [
        _ev(1, "begin", 10, 100, "early", sid, "B1"),
        _ev(2, "end", 15, 100, "early", sid, "B1"),
        _ev(3, "begin", 1000, 200, "late", sid, "B2"),
        _ev(4, "end", 1005, 200, "late", sid, "B2"),
    ]
    blocks = {
        "B1": dict(blk("B1", 10, 15, 1, n=2), instance=sid),
        "B2": dict(blk("B2", 1000, 1005, 2, n=2), instance=sid),
    }
    eng = Engine(spark, warehouse=str(tmp_path / "wh3"))
    eng.register_jit_view_set(_block_view_set(spark.createDataFrame(events), blocks))
    got = eng.view_instance("thread_spans_bt", sid, 0, 100).collect()
    assert [r["name"] for r in got] == ["early"]


def test_group_never_overshoots_soft_limit_when_safe():
    # every cut is safe and max=25 is NOT a multiple of the block size:
    # the overflowing block must start the NEXT partition (reference
    # cuts before adding — partitions stay <= max_nb_objects), not be
    # absorbed into a 30-object overshoot
    blocks = [blk(f"b{i}", i * 10, i * 10 + 10, i, n=10) for i in range(5)]
    parts = group_blocks_into_partitions(blocks, 25)
    assert [len(p) for p in parts] == [2, 2, 1]
    assert all(sum(b["nb_objects"] for b in p) <= 25 for p in parts)


# ------------------------------------------- write-time order check (#1429)


def _mini_jit_engine(spark, tmp_path, build_blocks):
    from micromegas_spark.engine import Engine, JitViewSet

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.register_jit_view_set(
        JitViewSet(
            "ordered_view",
            source_count=lambda *_: 0,
            build=lambda *_: None,
            time_column="begin_ns",
            list_blocks=lambda inst, b, e: [blk("b0", 0, 100, 0, n=3)],
            build_blocks=build_blocks,
            ensure_begin_non_decreasing=True,
        )
    )
    return eng


def test_write_time_begin_non_decreasing_accepts_sorted(spark, tmp_path):
    def build(instance, block_ids):
        return spark.createDataFrame(
            [(10,), (20,), (20,), (30,)], ["begin_ns"]
        ).coalesce(1)

    eng = _mini_jit_engine(spark, tmp_path, build)
    assert eng.view_instance("ordered_view", "s1", 0, 100).count() == 4


def test_write_time_begin_non_decreasing_rejects_out_of_order(spark, tmp_path):
    import pytest

    def build(instance, block_ids):
        # 30 before 20: a builder regression the reference's #1429
        # ensure_begin_non_decreasing catches at write time
        return spark.createDataFrame(
            [(10,), (30,), (20,)], ["begin_ns"]
        ).coalesce(1)

    eng = _mini_jit_engine(spark, tmp_path, build)
    with pytest.raises(RuntimeError, match="ensure_begin_non_decreasing"):
        eng.view_instance("ordered_view", "s1", 0, 100)
    # the rejected partition must NOT have been written or cached
    import os

    assert not os.path.exists(str(tmp_path / "wh" / "ordered_view"))


# ------------------------------------------------- net-spans tree builder


def test_build_net_spans_tree_shape(spark):
    from micromegas_spark.views.netspans import build_net_spans, tree_violations

    # conn(0..1000) > objA(0..600) > p1(0..300); objB(600..1000)
    rows = [
        ("c1", 1, "begin", 0, True, "conn"),
        ("c1", 2, "begin", 0, True, "objA"),
        ("c1", 3, "begin", 0, True, "p1"),
        ("c1", 4, "end", 300, True, "p1"),
        ("c1", 5, "end", 600, True, "objA"),
        ("c1", 6, "begin", 600, True, "objB"),
        ("c1", 7, "end", 1000, True, "objB"),
        ("c1", 8, "end", 1000, True, "conn"),
    ]
    ev = spark.createDataFrame(
        rows,
        ["connection_name", "event_id", "event_type", "offset_bits", "is_outgoing", "name"],
    )
    spans = {r.name: r for r in build_net_spans(ev).collect()}
    assert spans["conn"].kind == "connection" and spans["conn"].parent_span_id == -1
    assert spans["conn"].depth == 0 and spans["conn"].bit_size == 1000
    assert spans["objA"].kind == "object" and spans["objA"].parent_span_id == 1
    assert spans["objB"].begin_bits == 600 and spans["objB"].end_bits == 1000
    assert spans["p1"].kind == "property" and spans["p1"].parent_span_id == 2
    assert spans["p1"].depth == 2
    # FIXTURES §11 structural invariants hold on the built tree
    assert tree_violations(build_net_spans(ev)).count() == 0


# ------------------------------------------- SQL spelling of view_instance


def test_view_instance_sql_rewrite_literal(spark, tmp_path):
    """Reference UX parity: SELECT ... FROM view_instance('set', 'id') as
    SQL text resolves through the plan-time rewrite — the scan reads the
    JIT parquet, zero data through Python UDTFs."""

    def build(instance, block_ids):
        return spark.createDataFrame([(5,), (7,)], ["begin_ns"]).coalesce(1)

    eng = _mini_jit_engine(spark, tmp_path, build)
    out = eng.query(
        "SELECT COUNT(*) AS n FROM view_instance('ordered_view', 's1')"
    ).collect()
    assert out[0]["n"] == 2
    # repeat query reuses the catalog-cached partition
    out2 = eng.query(
        "SELECT SUM(begin_ns) AS s FROM view_instance('ordered_view', 's1')"
    ).collect()
    assert out2[0]["s"] == 12


def test_view_instance_sql_rewrite_non_literal_is_user_error(spark, tmp_path):
    """Non-literal args are the CALLER's error (the reference evaluates
    them at plan time; #1435 class 'user'), as is an unknown view set."""
    import pytest

    from micromegas_spark.engine import Engine
    from micromegas_spark.flightsql.errors import (
        USER,
        InvalidArgument,
        classify_exception,
    )

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    with pytest.raises(InvalidArgument) as ei:
        eng.query("SELECT * FROM view_instance(some_col, 'x')")
    assert classify_exception(ei.value) == USER
    with pytest.raises(InvalidArgument) as ei2:
        eng.query("SELECT * FROM view_instance('no_such_set', 'x')")
    assert classify_exception(ei2.value) == USER


def test_view_instance_text_inside_string_literal_is_data(spark, tmp_path):
    """'view_instance(...)' INSIDE a SQL string literal is data, not a
    call — the rewrite lexes quote spans (with '' escaping) and must
    neither substitute nor reject it."""
    def build(instance, block_ids):
        return spark.createDataFrame([(5,), (7,)], ["begin_ns"]).coalesce(1)

    eng = _mini_jit_engine(spark, tmp_path, build)
    row = eng.query(
        "SELECT 'see view_instance(''a'', ''b'') docs' AS note, "
        "COUNT(*) AS n FROM view_instance('ordered_view', 's1')"
    ).collect()[0]
    assert row["note"] == "see view_instance('a', 'b') docs"
    assert row["n"] == 2
    # a pure-data occurrence with no real call also passes through
    out = eng.query("SELECT 'view_instance(x)' AS s").collect()
    assert out[0]["s"] == "view_instance(x)"


def test_view_instance_rewrite_comment_and_boundary_awareness(spark, tmp_path):
    """Round-8 lexer hardening: (a) a view_instance( occurrence inside a
    `--` line comment or a /* */ block comment is DATA — neither rejected
    (non-literal form) nor needlessly materialized (literal form); (b) an
    identifier that merely ENDS in 'view_instance' is someone else's
    function and must not be rewritten mid-identifier."""
    import pytest

    from micromegas_spark.flightsql.errors import InvalidArgument

    builds = []

    def build(instance, block_ids):
        builds.append(instance)
        return spark.createDataFrame([(5,), (7,)], ["begin_ns"]).coalesce(1)

    def vi_views(session):
        return {t.name for t in session.catalog.listTables() if t.name.startswith("_vi_")}

    eng = _mini_jit_engine(spark, tmp_path, build)
    # commented-out NON-literal call: previously raised InvalidArgument
    row = eng.query(
        "SELECT COUNT(*) AS n -- view_instance(some_col, 'x') ignore me\n"
        "FROM view_instance('ordered_view', 's1')"
    ).collect()[0]
    assert row["n"] == 2
    # block comment (nested, Spark 3.0+ grammar) around a literal call:
    # must NOT materialize a second view; the statement reads the cached
    # partition without rebuilding it, and its `_vi_` view lives only
    # while the statement is analyzed — none is left in the engine's
    # planning session, and none ever lands in the parent session
    with eng.planning_session() as session:
        before = vi_views(session)
    row2 = eng.query(
        "SELECT /* view_instance('no_such_set', 'x') /* nested */ still "
        "comment */ SUM(begin_ns) AS s FROM view_instance('ordered_view', 's1')"
    ).collect()[0]
    assert row2["s"] == 12
    with eng.planning_session() as session:
        assert before == set() and vi_views(session) == before
    assert builds == ["s1"]  # cached partition reused; commented set never built
    assert vi_views(spark) == set()
    # identifier boundary: my_view_instance is not our function — the
    # rewrite must leave it alone (Spark then fails resolution, a user
    # error, but NOT an InvalidArgument from the rewrite and NOT '_vi_'
    # garbage mid-identifier)
    with pytest.raises(Exception) as ei:
        eng.query("SELECT * FROM my_view_instance('a', 'b')")
    assert not isinstance(ei.value, InvalidArgument)
    assert "my_view_instance" in str(ei.value)


def test_view_instance_rewrite_double_quote_and_escapes(spark, tmp_path):
    """(a) Spark's default non-ANSI mode reads "..." as a string literal —
    a view_instance occurrence inside one is data; (b) '' escapes inside
    the two argument literals are legal SQL and must resolve to the
    UNESCAPED instance key."""

    def build(instance, block_ids):
        # the builder sees the unescaped key
        assert instance == "s'1"
        return spark.createDataFrame([(5,), (7,)], ["begin_ns"]).coalesce(1)

    from micromegas_spark.engine import Engine, JitViewSet

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.register_jit_view_set(
        JitViewSet(
            "ordered_view",
            source_count=lambda *_: 0,
            build=lambda *_: None,
            time_column="begin_ns",
            list_blocks=lambda inst, b, e: [blk("b0", 0, 100, 0, n=3)],
            build_blocks=build,
            ensure_begin_non_decreasing=True,
        )
    )
    row = eng.query(
        'SELECT "view_instance(a, b)" AS note, COUNT(*) AS n '
        "FROM view_instance('ordered_view', 's''1')"
    ).collect()[0]
    assert row["note"] == "view_instance(a, b)"
    assert row["n"] == 2


def test_view_instance_rewrite_backslash_escapes(spark, tmp_path):
    """ADVICE r8: Spark's DEFAULT string parsing accepts backslash-escaped
    quotes ('it\\'s'); a literal containing \\' must not desync the span
    scanner — the view_instance( text inside the string stays data and
    the live call after it still resolves. (Hive-compat
    escapedStringLiterals=true input is documented as unsupported.)"""
    from micromegas_spark.engine import _sql_data_spans

    # unit: the scanner stays in sync across \' and \\ inside ' and "
    s = "'a\\'b' live"
    spans = _sql_data_spans(s)
    assert all(spans[:6]) and not any(spans[6:])
    s2 = "'ends with backslash-escape \\\\' live"
    spans2 = _sql_data_spans(s2)
    assert not spans2[-1]  # 'live' is live: \\\\ is an escaped backslash
    assert not any(_sql_data_spans("`tick\\` x")[7:])  # backticks: no \\ escape

    def build(instance, block_ids):
        return spark.createDataFrame([(5,), (7,)], ["begin_ns"]).coalesce(1)

    eng = _mini_jit_engine(spark, tmp_path, build)
    row = eng.query(
        "SELECT 'it\\'s view_instance(fake, call)' AS note, COUNT(*) AS n "
        "FROM view_instance('ordered_view', 's1')"
    ).collect()[0]
    assert row["n"] == 2 and "view_instance" in row["note"]


def test_view_instance_temp_view_names_never_collide(spark, tmp_path):
    """Distinct (set, instance) keys that sanitize to the same identifier
    (('ordered_view','b-c') vs ('ordered_view','b_c')) must get distinct
    temp views — a shared name would silently retarget the earlier
    substitution in the same statement."""

    def build(instance, block_ids):
        # one row whose value identifies the instance
        v = 1 if instance == "b-c" else 2
        return spark.createDataFrame([(v,)], ["begin_ns"]).coalesce(1)

    from micromegas_spark.engine import Engine, JitViewSet

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.register_jit_view_set(
        JitViewSet(
            "ordered_view",
            source_count=lambda *_: 0,
            build=lambda *_: None,
            time_column="begin_ns",
            list_blocks=lambda inst, b, e: [blk("b0", 0, 100, 0, n=1)],
            build_blocks=build,
            ensure_begin_non_decreasing=True,
        )
    )
    row = eng.query(
        "SELECT a.begin_ns AS x, b.begin_ns AS y "
        "FROM view_instance('ordered_view', 'b-c') a "
        "CROSS JOIN view_instance('ordered_view', 'b_c') b"
    ).collect()[0]
    assert (row["x"], row["y"]) == (1, 2)


def test_rejected_jit_build_does_not_leak_cached_partition(spark, tmp_path):
    """The persist taken for the #1429 order check must be released even
    when the check rejects the builder output — a leaked MEMORY_AND_DISK
    partition would otherwise pin memory for the session's lifetime."""
    import pytest

    def build(instance, block_ids):
        return spark.createDataFrame([(10,), (30,), (20,)], ["begin_ns"]).coalesce(1)

    eng = _mini_jit_engine(spark, tmp_path, build)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="ensure_begin_non_decreasing"):
        eng.view_instance("ordered_view", "s1", 0, 100)
    assert jsc.getPersistentRDDs().size() == before
