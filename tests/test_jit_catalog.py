"""JIT view instances are ordinary views of the Lakehouse catalog: one
catalog view per (view_set, instance), named so no instance string can
write outside the warehouse; the admin surface (list_partitions,
partitions_df, retire_partition_by_metadata) reaches them; and catalog
reads plan from the recorded schema without a schema-inference job."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from micromegas_spark.engine import Engine, JitViewSet
from micromegas_spark.materialize import BatchViewSpec, Lakehouse
from micromegas_spark.materialize.batch import instance_view

HOUR = 3_600 * 10**9


def _bucket_view_set(spark, name, builds=None):
    """A bucket-mode view set with a constant source count: two rows per
    bucket, tagged with the instance; ``builds`` collects each build's
    bucket start."""

    def build(inst, b, e):
        if builds is not None:
            builds.append(b)
        return spark.range(2).select(
            (F.col("id") + b).alias("t"), F.lit(inst).alias("inst")
        )

    return JitViewSet(name, source_count=lambda *_: 2, build=build, time_column="t")


def _outside(root, wh) -> set[str]:
    """Every path under ``root`` that is not ``wh`` or inside it."""
    out = set()
    for d, dirs, files in os.walk(root):
        out.update(os.path.join(d, n) for n in dirs + files)
    return {f for f in out if f != str(wh) and not f.startswith(f"{wh}{os.sep}")}


def test_instance_id_cannot_escape_the_warehouse(spark, tmp_path):
    wh = tmp_path / "wh"
    eng = Engine(spark, warehouse=str(wh))
    eng.register_jit_view_set(_bucket_view_set(spark, "esc"))
    outside = _outside(tmp_path, wh)
    for inst in (f"../../../../{tmp_path}/escape", "a/b", "a_b"):
        rows = eng.view_instance("esc", inst, 0, HOUR, bucket_ns=HOUR).collect()
        assert {r.inst for r in rows} == {inst} and len(rows) == 2
    assert _outside(tmp_path, wh) == outside
    # 'a/b' and 'a_b' sanitize alike but keep separate catalogs and rows
    views = [instance_view("esc", i) for i in ("a/b", "a_b")]
    assert views[0] != views[1]
    assert set(views) <= set(eng.lakehouse.list_view_sets())
    paths = [{p.path for p in eng.lakehouse.list_partitions(v)} for v in views]
    assert all(len(p) == 1 for p in paths) and paths[0] != paths[1]


def test_admin_surface_reaches_jit_instances(spark, tmp_path):
    builds: list[int] = []
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.register_jit_view_set(_bucket_view_set(spark, "adm", builds))

    def read():
        return eng.view_instance("adm", "p1", 0, 2 * HOUR, bucket_ns=HOUR).count()

    assert read() == 4 and builds == [0, HOUR]
    view = instance_view("adm", "p1")
    parts = eng.lakehouse.list_partitions(view)
    assert sorted((p.begin_insert_ns, p.end_insert_ns) for p in parts) == [
        (0, HOUR), (HOUR, 2 * HOUR)
    ]
    listed = eng.lakehouse.partitions_df().where(F.col("view_set") == view).collect()
    assert sorted(r.begin_insert_ns for r in listed) == [0, HOUR]

    (victim,) = [p for p in parts if p.begin_insert_ns == HOUR]
    assert eng.lakehouse.retire_partition_by_metadata("adm", "p1", HOUR, 2 * HOUR) == 1
    assert not eng.fs.exists(victim.path)
    assert [p.begin_insert_ns for p in eng.lakehouse.list_partitions(view)] == [0]
    # the next read rebuilds exactly the retired bucket
    assert read() == 4 and builds == [0, HOUR, HOUR]
    # an instance never built retires nothing and gets no catalog
    assert eng.lakehouse.retire_partition_by_metadata("adm", "p2", 0, HOUR) == 0
    assert instance_view("adm", "p2") not in eng.lakehouse.list_view_sets()


def _jobs_started(spark, plan) -> int:
    """Spark jobs started while ``plan()`` runs (a DataFrame is built,
    never executed), counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "planning")
    try:
        plan()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_catalog_reads_start_no_schema_inference_job(spark, tmp_path):
    src = "jc_src"
    w = f"FROM {src} WHERE t >= {{begin}} AND t < {{end}}"
    spec = BatchViewSpec(
        name="jc_view",
        count_query=f"SELECT COUNT(*) {w}",
        extract_query=f"SELECT t, v {w}",
        merge_query="SELECT t, v FROM source",
        time_column="t",
    )
    spark.createDataFrame(
        [(h * HOUR + m, m) for h in range(4) for m in range(3)], "t bigint, v bigint"
    ).createOrReplaceTempView(src)
    try:
        lake = Lakehouse(spark, str(tmp_path / "wh"))
        assert lake.materialize_range(spec, 0, 4 * HOUR, HOUR) == {"created": 4}
        parts = lake.list_partitions("jc_view")
        # control: the counter sees the inference job a plain read starts
        assert _jobs_started(spark, lambda: spark.read.parquet(*[p.path for p in parts])) >= 1

        assert _jobs_started(spark, lambda: lake.read("jc_view", 0, 3 * HOUR, "t")) == 0
        assert lake.read("jc_view", 0, 3 * HOUR, "t").count() == 9
        empty = []
        assert _jobs_started(
            spark, lambda: empty.append(lake.read("jc_view", 9 * HOUR, 10 * HOUR, "t"))
        ) == 0
        assert empty[0].columns == ["t", "v"] and empty[0].count() == 0

        eng = Engine(spark, warehouse=str(tmp_path / "wh_jit"))
        eng.register_jit_view_set(_bucket_view_set(spark, "jc_jit"))
        assert eng.view_instance("jc_jit", "i", 0, 2 * HOUR, bucket_ns=HOUR).count() == 4
        assert _jobs_started(
            spark, lambda: eng.view_instance("jc_jit", "i", 0, 2 * HOUR, bucket_ns=HOUR)
        ) == 0
    finally:
        spark.catalog.dropTempView(src)


def test_view_instance_over_a_range_with_no_partition_is_typed(spark, tmp_path):
    """An empty time range must still plan: a view_instance read over a
    range where the instance has no partition keeps the schema of a live
    partition (Lakehouse.read's rule), so column references resolve."""

    def build(inst, b, e):
        return spark.range(2).select(
            (F.col("id") + b).alias("t"), F.lit(inst).alias("inst")
        )

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.register_jit_view_set(
        JitViewSet(
            "vs",
            source_count=lambda inst, b, e: 2 if b < HOUR else 0,
            build=build,
            time_column="t",
        )
    )
    sql = "SELECT t, inst FROM view_instance('vs', 'p')"
    assert len(eng.query(sql, 0, HOUR).collect()) == 2
    empty = eng.query(sql, 5 * HOUR, 6 * HOUR)
    assert empty.columns == ["t", "inst"]
    assert empty.collect() == []
