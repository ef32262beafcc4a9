"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import random
import sys
import threading

import pytest

import ingest
import mix
import serving
from stats import Outcomes, percentile, self_time, tail_percentile, union_length
from tracing import Tracer, req_of, span_cost_s, tag_sql

HERE = os.path.dirname(os.path.abspath(__file__))


# -- percentiles -------------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [
        (10_000, 99.9),  # 10 samples beyond p99.9
        (9_999, 99.0),
        (1_000, 99.0),  # exactly 10 beyond p99
        (999, 95.0),
        (200, 95.0),
        (199, 90.0),
        (100, 90.0),
        (40, 75.0),
        (20, 50.0),
        (19, None),
        (0, None),
    ],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_percentile_interpolates_linearly():
    assert percentile([4, 1, 3, 2], 50) == 2.5
    assert percentile([10], 95) == 10.0
    assert percentile(range(101), 90) == 90.0
    assert percentile([0, 10], 25) == 2.5
    with pytest.raises(ValueError):
        percentile([], 50)


# -- self time ---------------------------------------------------------------


def test_union_length_merges_overlaps_and_nesting():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([(3, 3), (5, 4)]) == 0  # empty and inverted
    assert union_length([]) == 0


def test_self_time_subtracts_overlapping_children_once():
    # children [1,3] and [2,5] overlap: together they cover [1,5]
    assert self_time(0, 10, [(1, 3), (2, 5)]) == 6
    # a child sticking out of the parent counts only inside it
    assert self_time(0, 10, [(8, 12)]) == 8
    # a child entirely outside covers nothing
    assert self_time(0, 10, [(11, 12)]) == 10
    # parallel children covering the whole parent leave no self time
    assert self_time(0, 10, [(0, 6), (4, 10), (2, 3)]) == 0


def test_tracer_spans_nest_and_carry_the_request_id():
    class Layer:
        def outer(self, sql):
            return self.inner(sql)

        def inner(self, sql):
            return list(self.stream())

        def stream(self):
            yield 1
            yield 2

    tr = Tracer()
    tr.wrap(Layer, "outer", "outer", req_arg=1)
    tr.wrap(Layer, "inner", "inner")
    tr.wrap_generator(Layer, "stream", "stream", lambda a, kw: 7)
    try:
        assert Layer().outer(tag_sql("SELECT 1", 42)) == [1, 2]
    finally:
        tr.close()
    assert Layer.outer.__name__ == "outer" and not hasattr(Layer.outer, "__wrapped__")
    by = {s.name: s for s in tr.finished()}
    assert by["outer"].req == 42 and by["outer"].parent is None
    assert by["inner"].parent == by["outer"].sid
    assert by["inner"].req == 42  # inherited from the parent span
    assert by["stream"].req == 7 and by["stream"].parent == by["inner"].sid
    assert tr.child_count("outer", "stream") == [1]
    assert 0 <= tr.self_ms("outer")[0] <= tr.durations_ms("outer")[0]


def test_span_cost_is_positive_and_small():
    assert 0 < span_cost_s() < 1e-3


def test_req_comment_round_trip():
    assert req_of(tag_sql("SELECT 1", 123)) == 123
    assert req_of("SELECT 1") is None
    assert req_of(None) is None


# -- fail_ratio counting -----------------------------------------------------


def test_outcomes_counts_each_failed_operation_once():
    o = Outcomes()
    ops = [o.attempt() for _ in range(4)]
    o.fail(ops[0], "raised")
    o.fail(ops[0], "and its result was wrong too")
    o.fail(ops[2], "wrong result")
    assert (o.attempted, o.failed) == (4, 2)
    assert o.fail_ratio == 0.5
    assert Outcomes().fail_ratio == 0.0


def test_outcomes_under_thread_contention():
    """More threads than cores and a tiny switch interval: a lost update
    in attempt() or fail() would break the totals."""
    o = Outcomes()
    n_threads, per = 16, 2_000
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def work():
            for _ in range(per):
                op = o.attempt()
                if op % 3 == 0:
                    o.fail(op, "x")

        threads = [threading.Thread(target=work) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    total = n_threads * per
    assert o.attempted == total
    assert o.failed == total // 3
    assert len(o.errors) == 20  # the message list stays bounded


# -- the query mix -----------------------------------------------------------


def test_schedule_keeps_the_class_shares_in_every_round():
    specs = mix.make_specs(random.Random(1), 0, 300 * mix.MIN_NS, ins=0)
    per_round = sum(mix.SLOTS.values())
    for offset in (0, per_round // 2):
        order = mix.schedule(random.Random(2), specs, offset)
        assert len(order) == per_round * mix.SPECS_PER_CLASS
        for r in range(mix.SPECS_PER_CLASS):
            chunk = order[r * per_round : (r + 1) * per_round]
            counts = {c: sum(specs[i].cls == c for i in chunk) for c in mix.SLOTS}
            assert counts == mix.SLOTS
        # any ten consecutive statements hold each class within one of
        # its share
        for k in range(len(order) - 10):
            for c, n in mix.SLOTS.items():
                got = sum(specs[i].cls == c for i in order[k : k + 10])
                assert abs(got - n * 10 / per_round) <= 1


def test_schedules_differ_by_seed_only_in_statement_order():
    specs = mix.make_specs(random.Random(1), 0, 300 * mix.MIN_NS, ins=0)
    a = mix.schedule(random.Random(1), specs, 0)
    b = mix.schedule(random.Random(2), specs, 0)
    assert [specs[i].cls for i in a] == [specs[i].cls for i in b]
    assert a != b


def test_specs_differ_by_seed_only_in_their_windows():
    a = mix.make_specs(random.Random(1), 0, 300 * mix.MIN_NS, ins=7)
    b = mix.make_specs(random.Random(2), 0, 300 * mix.MIN_NS, ins=7)
    assert [s.end_ns - s.begin_ns for s in a] == [s.end_ns - s.begin_ns for s in b]
    assert [s.begin_ns for s in a] != [s.begin_ns for s in b]
    assert all(s.begin_ns % mix.MIN_NS == 0 for s in a)
    # statements over log_entries read a fixed insert-time prefix
    for s in a:
        if "log_entries" in s.sql:
            assert "insert_time_ns < 7" in s.sql and "insert_time_ns < 7" in s.duck_sql


def test_stats_twin_reads_the_insert_time_prefix():
    spec = next(
        s for s in mix.make_specs(random.Random(1), 0, 300 * mix.MIN_NS, ins=0)
        if s.cls == "stats"
    )
    sql = mix.stats_sql(spec, 123)
    assert "FROM log_stats_upto(123) WHERE" in sql and "FROM log_stats " not in sql


def test_within_bounds_each_group_count():
    agg = mix.Spec("stats", "", "", 1, 0, 1)
    lo = mix.digest(agg, [("a", 2), ("b", 1)])
    hi = mix.digest(agg, [("a", 5), ("b", 1), ("c", 3)])
    ok = [("a", 3), ("b", 1)], [("a", 2), ("b", 1)], [("a", 5), ("b", 1), ("c", 1)]
    for rows in ok:
        assert mix.within(mix.digest(agg, rows), lo, hi, 1)
    bad = (
        [("a", 1), ("b", 1)],  # below the lower snapshot
        [("a", 6), ("b", 1)],  # above the upper snapshot
        [("a", 3)],  # a group of the lower snapshot missing
        [("a", 3), ("b", 1), ("d", 1)],  # a group neither snapshot has
    )
    for rows in bad:
        assert not mix.within(mix.digest(agg, rows), lo, hi, 1)


# -- the ingest cadence ------------------------------------------------------


def test_merge_range_is_the_coarse_bucket_before_last():
    minute = ingest.BUCKET_S * 10**9
    coarse = ingest.MERGE_BUCKETS * minute
    now = 1000 * coarse
    assert ingest.merge_range(now) == (now - 2 * coarse, now - coarse)
    assert all(ingest.merge_range(now + k * minute) is None
               for k in range(1, ingest.MERGE_BUCKETS))
    # merged buckets stay below the tick window
    assert now - coarse <= now - ingest.WINDOW * minute
    # the first merge after set-up finds only fine partitions: set-up
    # ingested SETUP_BUCKETS minutes after the hour-aligned base
    base_end = 3600 * 10**9 * 500
    first_now = base_end + (ingest.SETUP_BUCKETS + 1) * minute
    merges = [ingest.merge_range(first_now + k * minute) for k in range(2 * ingest.MERGE_BUCKETS)]
    first = next(m for m in merges if m is not None)
    assert first[0] >= base_end


def test_gate_holds_readers_off_while_writing():
    gate = serving.Gate()
    log: list = []
    in_read = threading.Event()
    release = threading.Event()

    def reader():
        with gate.read():
            log.append("read")
            in_read.set()
            release.wait(5)

    def writer():
        with gate.write():
            log.append("write")

    r = threading.Thread(target=reader)
    r.start()
    assert in_read.wait(5)
    w = threading.Thread(target=writer)
    w.start()
    w.join(0.2)
    assert w.is_alive()  # waits for the statement in flight
    release.set()
    r.join(5)
    w.join(5)
    assert log == ["read", "write"]


def test_digests_ignore_row_order_and_float_noise():
    fetch = mix.Spec("fetch", "", "", 0, 0, 1)
    rows = [(1, "a"), (2, "b")]
    assert mix.digest(fetch, rows) == mix.digest(fetch, rows[::-1])
    agg = mix.Spec("udf", "", "", 1, 0, 1)
    got = mix.digest(agg, [("x", 0.1 + 0.2), ("y", 1.0)])
    want = mix.digest(agg, [("y", 1.0), ("x", 0.3)])
    assert mix.same(got, want)
    assert not mix.same(got, mix.digest(agg, [("y", 1.0), ("x", 0.31)]))
    assert not mix.same(got, mix.digest(agg, [("x", 0.3)]))


# -- BENCHMARK.json agrees with the code -------------------------------------


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    import layers
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    assert {
        m["name"] for m in bench["per_layer"] if m["better"] == "higher"
    } == layers.HIGHER_IS_BETTER
    assert {w["name"] for w in bench["workloads"]} <= set(run.MODULES)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
