"""Every catalog mutation deletes exactly what its commit made unreachable:
the Lakehouse's retires, merge and bucket rebuilds and a JIT instance's
bucket-mode and block-mode rebuilds, all through Lakehouse._commit_delta.
For each: the dropped directories are gone, every directory the manifest
still lists exists, and the return value or count matches."""

from __future__ import annotations

from typing import Callable, NamedTuple

import pytest

from micromegas_spark.engine import Engine, JitViewSet
from micromegas_spark.materialize import BatchViewSpec, Lakehouse
from micromegas_spark.materialize.batch import Partition, instance_view

HOUR = 3_600 * 10**9
VIEW = "cm_view"
SRC = "cm_src"
_W = f"FROM {SRC} WHERE t >= {{begin}} AND t < {{end}}"
SPEC = BatchViewSpec(
    name=VIEW,
    count_query=f"SELECT COUNT(*) {_W}",
    extract_query=f"SELECT t, v {_W}",
    merge_query="SELECT t, v FROM source",
    time_column="t",
)


class Case(NamedTuple):
    listed: Callable[[], set]  # directories the manifest lists now
    exists: Callable[[str], bool]
    mutate: Callable[[], object]
    expect: Callable[[object, set], bool]  # (result, dropped dirs)


def _source(spark, hours=range(4), extra=()):
    rows = [(h * HOUR + m, m) for h in hours for m in range(3)] + list(extra)
    spark.createDataFrame(rows, "t bigint, v bigint").createOrReplaceTempView(SRC)


def _case(lake, mutate, expect) -> Case:
    return Case(
        lambda: {p.path for p in lake.list_partitions(VIEW)},
        lake.fs.exists,
        mutate,
        expect,
    )


def _synthetic(spark, tmp_path, schema_hashes=("",) * 4):
    """Four hourly partitions with real (empty) directories."""
    lake = Lakehouse(spark, f"file://{tmp_path}/wh")
    parts = []
    for h, sh in enumerate(schema_hashes):
        d = lake.fs.unique_dir_url(VIEW, f"{h * HOUR}_{(h + 1) * HOUR}")
        lake.fs.mkdirs(d)
        parts.append(
            Partition(h * HOUR, (h + 1) * HOUR, 1, h * HOUR, (h + 1) * HOUR, d,
                      schema_hash=sh)
        )
    lake._save_manifest(VIEW, parts)
    return lake, parts


def _materialized(spark, tmp_path, buckets=2):
    _source(spark)
    lake = Lakehouse(spark, f"file://{tmp_path}/wh")
    assert lake.materialize_range(SPEC, 0, buckets * HOUR, HOUR) == {"created": buckets}
    return lake


def retire_partitions(spark, tmp_path):
    lake, parts = _synthetic(spark, tmp_path)
    return _case(
        lake,
        lambda: lake.retire_partitions(VIEW, 0, 2 * HOUR),
        lambda n, dropped: n == 2 and dropped == {parts[0].path, parts[1].path},
    )


def retire_older_than(spark, tmp_path):
    lake, parts = _synthetic(spark, tmp_path)
    return _case(
        lake,
        lambda: lake.retire_older_than(VIEW, 3 * HOUR),
        lambda n, dropped: n == 3 and dropped == {p.path for p in parts[:3]},
    )


def retire_partition_by_metadata(spark, tmp_path):
    lake, parts = _synthetic(spark, tmp_path)
    return _case(
        lake,
        lambda: lake.retire_partition_by_metadata(VIEW, "global", HOUR, 2 * HOUR),
        lambda n, dropped: n == 1 and dropped == {parts[1].path},
    )


def retire_partition_by_file(spark, tmp_path):
    lake, parts = _synthetic(spark, tmp_path)
    # the caller's spelling (plain path) differs from the manifest's
    plain = parts[2].path[len("file://"):]
    return _case(
        lake,
        lambda: lake.retire_partition_by_file(plain),
        lambda n, dropped: n == 1 and dropped == {parts[2].path},
    )


def retire_incompatible_partitions(spark, tmp_path):
    _source(spark)
    cur = Lakehouse(spark, f"file://{tmp_path}/probe").current_schema_hash(SPEC)
    lake, parts = _synthetic(spark, tmp_path, ("old", cur, "old", cur))
    return _case(
        lake,
        lambda: lake.retire_incompatible_partitions([SPEC]),
        lambda out, dropped: out == {VIEW: 2}
        and dropped == {parts[0].path, parts[2].path},
    )


def merge_partitions(spark, tmp_path):
    lake = _materialized(spark, tmp_path)
    return _case(
        lake,
        lambda: lake.merge_partitions(SPEC, 0, 2 * HOUR),
        lambda status, dropped: status == "merged"
        and len(dropped) == 2
        and lake.read(VIEW).count() == 6,
    )


def stale_bucket_rebuild(spark, tmp_path):
    lake = _materialized(spark, tmp_path)
    _source(spark, extra=[(7, 70)])  # a late row in hour 0
    return _case(
        lake,
        lambda: lake.materialize_bucket(SPEC, 0, HOUR),
        lambda status, dropped: status == "created"
        and len(dropped) == 1
        and lake.read(VIEW).count() == 7,
    )


def stale_covering_rebuild(spark, tmp_path):
    """A stale covering partition is retired by the same single commit
    that publishes the bucket's rebuild."""
    lake = _materialized(spark, tmp_path)
    assert lake.merge_partitions(SPEC, 0, 2 * HOUR) == "merged"
    _source(spark, extra=[(7, 70)])
    commits = []
    commit = lake._commit_manifest

    def counting(*a, **kw):
        commits.append(a)
        return commit(*a, **kw)

    def mutate():
        lake._commit_manifest = counting
        try:
            return lake.materialize_bucket(SPEC, 0, HOUR)
        finally:
            del lake._commit_manifest

    return _case(
        lake,
        mutate,
        lambda status, dropped: status == "created"
        and len(dropped) == 1
        and len(commits) == 1
        and [(p.begin_insert_ns, p.end_insert_ns) for p in lake.list_partitions(VIEW)]
        == [(0, HOUR)],
    )


def stale_overlap_over_empty_source(spark, tmp_path):
    """An empty source still retires the stale overlaps and reads
    'empty'."""
    lake = _materialized(spark, tmp_path)
    assert lake.merge_partitions(SPEC, 0, 2 * HOUR) == "merged"
    _source(spark, hours=range(1, 4))  # hour 0 emptied
    return _case(
        lake,
        lambda: lake.materialize_bucket(SPEC, 0, HOUR),
        lambda status, dropped: status == "empty"
        and len(dropped) == 1
        and lake.list_partitions(VIEW) == [],
    )


def _jit_case(eng, view_set, mutate, expect) -> Case:
    view = instance_view(view_set, "i")
    return Case(
        lambda: {p.path for p in eng.lakehouse.list_partitions(view)},
        eng.fs.exists,
        mutate,
        expect,
    )


def jit_bucket_rebuild(spark, tmp_path):
    n = {"rows": 1}
    eng = Engine(spark, warehouse=f"file://{tmp_path}/wh_jit")
    eng.register_jit_view_set(
        JitViewSet(
            "cm_jit",
            source_count=lambda inst, b, e: n["rows"] if b < 2 * HOUR else 0,
            build=lambda inst, b, e: spark.range(n["rows"]).selectExpr(f"id + {b} AS t"),
            time_column="t",
        )
    )

    def read():
        return eng.view_instance("cm_jit", "i", 0, 2 * HOUR, bucket_ns=HOUR).count()

    assert read() == 2
    n["rows"] = 3  # both buckets go stale
    return _jit_case(
        eng,
        "cm_jit",
        read,
        lambda rows, dropped: rows == 6 and len(dropped) == 2,
    )


def jit_block_rebuild(spark, tmp_path):
    def blk(bid, begin, end, insert):
        return {"block_id": bid, "begin_ns": begin, "end_ns": end,
                "insert_ns": insert, "nb_objects": 2}

    blocks = [blk("B1", 10, 15, 1), blk("B2", 20, 25, 2)]
    eng = Engine(spark, warehouse=f"file://{tmp_path}/wh_jitb")

    def register(max_nb_objects):
        eng.register_jit_view_set(
            JitViewSet(
                "cm_jitb",
                source_count=lambda *_: 0,
                build=lambda *_: None,
                time_column="begin_ns",
                list_blocks=lambda inst, b, e: list(blocks),
                build_blocks=lambda inst, ids: spark.range(len(ids)).selectExpr(
                    "id + 10 AS begin_ns"
                ),
                max_nb_objects=max_nb_objects,
            )
        )

    def read():
        return eng.view_instance("cm_jitb", "i", 0, 10**6).count()

    register(10)
    assert read() == 2  # one partition holds both blocks
    # a late block between them and a lower limit move the cut point: the
    # old [B1, B2] partition overlaps both new ones and is retired
    blocks.append(blk("B0", 16, 18, 3))
    register(4)
    return _jit_case(
        eng,
        "cm_jitb",
        read,
        lambda rows, dropped: rows == 3 and len(dropped) == 1,
    )


CASES = [
    retire_partitions,
    retire_older_than,
    retire_partition_by_metadata,
    retire_partition_by_file,
    retire_incompatible_partitions,
    merge_partitions,
    stale_bucket_rebuild,
    stale_covering_rebuild,
    stale_overlap_over_empty_source,
    jit_bucket_rebuild,
    jit_block_rebuild,
]


@pytest.mark.parametrize("make", CASES, ids=[c.__name__ for c in CASES])
def test_mutation_deletes_exactly_what_it_made_unreachable(spark, tmp_path, make):
    case = make(spark, tmp_path)
    before = case.listed()
    try:
        result = case.mutate()
        after = case.listed()
        dropped = before - after
        assert dropped, "the mutation retired nothing"
        assert not [d for d in dropped if case.exists(d)], "a dropped dir survived"
        assert all(case.exists(d) for d in after), "a listed dir is gone"
        assert case.expect(result, dropped)
    finally:
        spark.catalog.dropTempView(SRC)


def test_rebuild_keeps_a_rival_commit_made_during_its_write(spark, tmp_path):
    """A bucket rebuild retires the stale overlaps it saw at list time,
    not whatever overlaps the bucket when it commits: a covering
    partition a flock-less rival commits during the extract and write
    stays listed and keeps its files."""
    lake = _materialized(spark, tmp_path)
    assert lake.merge_partitions(SPEC, 0, 2 * HOUR) == "merged"
    (stale,) = lake.list_partitions(VIEW)
    _source(spark, extra=[(7, 70)])
    unique_dir_url = lake.fs.unique_dir_url
    rival = []

    def rival_commits_first(*parts):
        if not rival:  # the rebuild's output dir: a rival wins meanwhile
            d = unique_dir_url(VIEW, f"0_{2 * HOUR}")
            lake.fs.mkdirs(d)
            rival.append(Partition(0, 2 * HOUR, 7, 0, 2 * HOUR, d))
            lake._commit_delta(VIEW, drop=lambda p: p.path == stale.path, add=rival)
        return unique_dir_url(*parts)

    lake.fs.unique_dir_url = rival_commits_first
    try:
        assert lake.materialize_bucket(SPEC, 0, HOUR) == "created"
    finally:
        del lake.fs.unique_dir_url
        spark.catalog.dropTempView(SRC)
    listed = {p.path for p in lake.list_partitions(VIEW)}
    assert rival[0].path in listed and lake.fs.exists(rival[0].path)
    assert not lake.fs.exists(stale.path)


def _race(eng, read, second_in):
    """Run ``read`` in two threads at once and count both results after
    both have committed; ``second_in`` is set once the second thread has
    entered ``eng.view_instance``."""
    from concurrent.futures import ThreadPoolExecutor

    entered = []
    view_instance = eng.view_instance

    def counting(*a, **kw):
        entered.append(1)
        if len(entered) >= 2:
            second_in.set()
        return view_instance(*a, **kw)

    eng.view_instance = counting
    with ThreadPoolExecutor(2) as pool:
        dfs = [f.result() for f in [pool.submit(read) for _ in range(2)]]
    return [df.count() for df in dfs]


def _hold_first_build(second_in, builds):
    """A builder hook: count the build and hold it until the second
    thread has entered view_instance, so both calls overlap."""
    builds.append(1)
    assert second_in.wait(120)


def test_concurrent_jit_bucket_builds_both_read(spark, tmp_path):
    """Two readers of the same cold bucket: the first builds while the
    second is inside view_instance; the second waits on the view's lock
    and reuses the first's commit, so the builder runs once and both
    results read."""
    import threading

    second_in = threading.Event()
    builds = []
    eng = Engine(spark, warehouse=f"file://{tmp_path}/wh_race")

    def build(inst, b, e):
        _hold_first_build(second_in, builds)
        return spark.range(3).selectExpr(f"id + {b} AS t")

    eng.register_jit_view_set(
        JitViewSet("race", source_count=lambda *_: 3, build=build, time_column="t")
    )
    read = lambda: eng.view_instance("race", "i", 0, HOUR, bucket_ns=HOUR)  # noqa: E731
    assert _race(eng, read, second_in) == [3, 3]
    assert len(builds) == 1


def test_concurrent_jit_block_builds_both_read(spark, tmp_path):
    """Two readers of the same new block group: the builder runs once and
    both results read."""
    import threading

    second_in = threading.Event()
    builds = []
    eng = Engine(spark, warehouse=f"file://{tmp_path}/wh_raceb")
    blocks = [{"block_id": "B1", "begin_ns": 10, "end_ns": 15,
               "insert_ns": 1, "nb_objects": 2}]

    def build_blocks(inst, ids):
        _hold_first_build(second_in, builds)
        return spark.range(len(ids)).selectExpr("id + 10 AS begin_ns")

    eng.register_jit_view_set(
        JitViewSet("raceb", source_count=lambda *_: 0, build=lambda *_: None,
                   time_column="begin_ns",
                   list_blocks=lambda inst, b, e: list(blocks),
                   build_blocks=build_blocks)
    )
    read = lambda: eng.view_instance("raceb", "i", 0, 10**6)  # noqa: E731
    assert _race(eng, read, second_in) == [1, 1]
    assert len(builds) == 1
