"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from micromegas_spark.functions import datetime_fns as DT
from micromegas_spark.functions import properties as P
from micromegas_spark.functions.jsonb import jsonb_each


def test_properties_length_json(spark):
    df = spark.createDataFrame([('{"a": "1", "b": "2"}',), ("{}",), ("not json",)], ["j"])
    out = [r.n for r in df.select(P.properties_length(F.col("j"), is_json=True).alias("n")).collect()]
    assert out == [2, 0, None]


def test_jsonb_each_key_with_metacharacters(spark):
    df = spark.createDataFrame([(1, '{"a.b": 1, "c$d": "x"}')], ["id", "j"])
    rows = {r.key: r.value for r in jsonb_each(df, "j", ["id"]).collect()}
    assert rows == {"a.b": "1", "c$d": "x"}


def test_date_bin_pre_origin_floors(spark):
    # 1969-12-31 23:59:58 must floor DOWN to the earlier bucket
    df = spark.createDataFrame([(datetime.datetime(1969, 12, 31, 23, 59, 58),)], ["t"])
    row = df.select(
        DT.date_bin(60, F.col("t")).alias("b"),
        DT.date_bin_epoch(60, F.lit(-2_500_000)).alias("e"),
    ).collect()[0]
    assert row.b == datetime.datetime(1969, 12, 31, 23, 59, 0)
    assert row.e == -60  # floor(-2.5s / 60s) bucket start, BIGINT
    assert isinstance(row.e, int)


def test_salted_join_rejects_right_outer(spark):
    from micromegas_spark.operators.skew import salted_join

    l = spark.createDataFrame([(1, "a")], ["k", "v"])
    r = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "w"])
    with pytest.raises(ValueError):
        salted_join(l, r, ["k"], how="full")
    with pytest.raises(ValueError):
        salted_join(l, r, ["k"], how="right")
    # left outer stays correct: unmatched LEFT rows survive exactly once
    l2 = spark.createDataFrame([(1, "a"), (3, "z")], ["k", "v"])
    got = sorted((r_.k, r_.v, r_.w) for r_ in salted_join(l2, r, ["k"], how="left").collect())
    assert got == [(1, "a", "x"), (3, "z", None)]


def test_materialize_after_merge_no_duplication(spark, tmp_path):
    """A fresh covering partition (merge output) must abort bucket
    re-creation — re-materializing after merge previously doubled data."""
    from micromegas_spark.materialize import LOG_STATS, Lakehouse
    from micromegas_spark.sources.synthetic import generate

    data = generate(seed=21)
    spark.createDataFrame(data["blocks"]).join(
        spark.createDataFrame(data["streams"]).select("stream_id", "tags"), "stream_id"
    ).createOrReplaceTempView("blocks")
    ledf = spark.createDataFrame(data["log_entries"])
    ledf.createOrReplaceTempView("log_entries")
    lake = Lakehouse(spark, str(tmp_path / "wh"))
    HOUR = 3600 * 10**9
    ins = [b["insert_time_ns"] for b in data["blocks"]]
    lo = min(ins) - min(ins) % HOUR
    hi = max(ins) - max(ins) % HOUR + HOUR
    lake.materialize_range(LOG_STATS, lo, hi, HOUR)
    lake.merge_partitions(LOG_STATS, lo, hi)
    total_before = lake.read("log_stats").agg(F.sum("count")).collect()[0][0]

    stats = lake.materialize_range(LOG_STATS, lo, hi, HOUR)
    assert stats.get("created", 0) == 0 and stats.get("covered", 0) > 0
    total_after = lake.read("log_stats").agg(F.sum("count")).collect()[0][0]
    assert total_after == total_before == len(data["log_entries"])

    # late data invalidates the covering partition → buckets recreated once
    some = data["log_entries"][0]
    late_block = dict(data["blocks"][0], block_id="late", nb_objects=1)
    late_row = dict(some, block_id="late", properties={"error_code": "1"})
    spark.createDataFrame(data["blocks"] + [late_block]).join(
        spark.createDataFrame(data["streams"]).select("stream_id", "tags"), "stream_id"
    ).createOrReplaceTempView("blocks")
    ledf.unionByName(spark.createDataFrame([late_row])).createOrReplaceTempView("log_entries")
    stats2 = lake.materialize_range(LOG_STATS, lo, hi, HOUR)
    assert stats2.get("created", 0) >= 1
    total_late = lake.read("log_stats").agg(F.sum("count")).collect()[0][0]
    assert total_late == len(data["log_entries"]) + 1


def test_query_stream_is_incremental(spark):
    from micromegas_spark.client import Client
    from micromegas_spark.engine import Engine
    from tests.conftest import SF_SMOKE, arrow_batch_rows

    c = Client(Engine.from_test_tables(spark, SF_SMOKE))
    with arrow_batch_rows(spark, 100):
        gen = c.query_stream("SELECT event_id, value FROM events")
        first = next(gen)
        assert first.num_rows == 100
        total = first.num_rows + sum(b.num_rows for b in gen)
    assert total == 1000


# --- round-4 review findings ------------------------------------------------


def test_bpe_train_handles_regex_special_symbols(spark):
    """Merge pairs containing '$'/'\\' must not crash or corrupt the
    rewrite (Java appendReplacement treats them specially)."""
    from micromegas_spark.operators.text import bpe_train

    df = spark.createDataFrame(
        [(1, "$5 $5 $5 $5 a\\b a\\b a\\b")], "doc_id bigint, text string"
    )
    merges = bpe_train(df, n_merges=3)
    assert merges, "special-char corpus must still train"
    assert merges[0][:2] == ("$", "5")  # most frequent pair, crash-free


def test_rrf_fuse_rejects_empty_rankings(spark):
    import pytest as _pytest

    from micromegas_spark.operators.similarity import rrf_fuse

    with _pytest.raises(ValueError, match="non-empty"):
        rrf_fuse([])


def test_stream_minhash_reads_pre_mhs_store(spark, tmp_path):
    """A signature store written by the old (id, sh)-only layout must
    still be joinable after the upgrade (mhs derived on read)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from micromegas_spark.operators.dedup import _shingle_sets
    from micromegas_spark.streaming.incremental import stream_minhash_neardup

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    t = "the quick brown fox jumps over the lazy dog again and again today"
    rows0 = [(1, t), (2, "totally unrelated content words here for the second doc")]
    rows1 = [(3, t)]  # near-dup of doc 1, arriving after the upgrade

    # simulate the OLD store: (id, sh) only, written directly
    store = tmp_path / "store"
    old = _shingle_sets(
        spark.createDataFrame(rows0, schema), "text", "doc_id", 3
    )
    old.write.mode("append").parquet(str(store / "sigs"))

    src, pairs, ckpt = (str(tmp_path / x) for x in ("src", "pairs", "ckpt"))
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src)
    q = stream_minhash_neardup(
        spark, src, schema, str(store), pairs, ckpt, threshold=0.9, store_files=1
    )
    q.awaitTermination()
    got = spark.read.parquet(pairs).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(1, 3)]


def test_query_log_is_bounded_and_lazy(spark, tmp_path):
    """Round-3 review: the engine's query log rotates at QUERY_LOG_MAX
    (no unbounded driver state on a long-lived engine), the log view is
    only re-materialized for statements that reference it, and a user
    view may not shadow 'query_log'."""
    import pytest

    from micromegas_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh_qlog"))
    eng.QUERY_LOG_MAX  # exists
    eng.register_table("tiny", spark.range(3).toDF("x"))
    for _ in range(5):
        eng.query("SELECT COUNT(*) AS c FROM tiny")
    assert len(eng._query_log) == 5
    # rotation: force the cap low by refilling a fresh deque
    from collections import deque

    eng._query_log = deque(eng._query_log, maxlen=3)
    eng.query("SELECT 1 AS one")
    assert len(eng._query_log) == 3
    # the log view reflects history when queried THROUGH sql
    n = eng.query("SELECT COUNT(*) AS c FROM query_log").collect()[0].c
    assert n == 3  # view registered before the in-flight query is appended
    with pytest.raises(ValueError):
        eng.register_table("query_log", spark.range(1).toDF("x"))


def test_column_predicate_type_mismatch_never_prunes(spark, tmp_path):
    """Round-3 review: an int predicate against a string column's stats
    must follow the 'unusable stats never prune' contract instead of
    raising TypeError during manifest pruning."""
    from micromegas_spark.materialize import BatchViewSpec, Lakehouse

    HOUR = 3600 * 10**9
    rows = [(int(h * HOUR + 5), f"u{h}") for h in range(3)]
    spark.createDataFrame(rows, "time_ns bigint, who string").createOrReplaceTempView(
        "evmm"
    )
    spec = BatchViewSpec(
        name="mm_view",
        count_query="SELECT COUNT(*) FROM evmm WHERE time_ns >= {begin} AND time_ns < {end}",
        extract_query="SELECT time_ns, who FROM evmm WHERE time_ns >= {begin} AND time_ns < {end}",
        merge_query="SELECT * FROM source",
        time_column="time_ns",
    )
    lake = Lakehouse(spark, str(tmp_path / "wh_mm"))
    lake.materialize_range(spec, 0, 3 * HOUR, HOUR)
    # int predicate on the string column: stats are unusable -> no pruning,
    # and the row-level filter simply matches nothing (typed compare)
    got = lake.read("mm_view", column_predicates={"who": (">=", 1)})
    assert len(got.inputFiles()) == len(lake.read("mm_view").inputFiles())


def test_stream_minhash_bucketed_band_store(spark, tmp_path):
    """Round-3: with band_store_table set, the streaming LSH store is a
    managed table bucketed on (band, bkey): results equal the plain-store
    run, and the store side of the candidate join scans WITHOUT an
    Exchange (the bucketed layout IS the join partitioning)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from micromegas_spark.streaming.incremental import stream_minhash_neardup

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    t = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, t),
        (2, "totally unrelated content words here for the second document body"),
        (3, t),  # arrives in batch 2: cross-batch pair (1,3) via the store
        (4, "another unrelated set of words that matches nothing else at all"),
    ]
    tbl = "mh_bands_test_store"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        src, store, pairs, ckpt = (
            str(tmp_path / x) for x in ("src", "store", "pairs", "ckpt")
        )
        d = spark.createDataFrame(rows, schema)
        for pred in (F.col("doc_id") <= 2, F.col("doc_id") >= 3):
            d.where(pred).coalesce(1).write.mode("append").parquet(src)
        q = stream_minhash_neardup(
            spark, src, schema, store, pairs, ckpt, threshold=0.9,
            max_files_per_trigger=1, store_files=1,
            band_store_table=tbl, band_store_buckets=4,
        )
        q.awaitTermination()
        got = sorted((r.id_a, r.id_b) for r in spark.read.parquet(pairs).collect())
        assert got == [(1, 3)]
        # the store table accumulated every doc's band keys, bucketed
        assert spark.table(tbl).select("doc_id").distinct().count() == 4
        # plan shape: joining fresh band keys against the store must not
        # exchange the store side — its bucketed scan IS the join
        # partitioning. Force the non-broadcast (big-store) strategy and
        # count exchanges: exactly one, and it belongs to the probe side.
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            probe = spark.createDataFrame(
                [(0, "b0", 99)], "band int, bkey string, doc_id long"
            )
            joined = probe.join(spark.table(tbl), ["band", "bkey"])
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SelectedBucketsCount" in plan, plan  # bucketed scan active
            assert plan.count("Exchange") == 1, plan  # probe side only
            store_scan = plan[plan.index(f"spark_catalog.default.{tbl}") :]
            assert "Exchange" not in store_scan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


# --- round-3 code-review findings -------------------------------------------


def test_jsonb_and_binds_tighter_than_or(spark):
    """SQL/JSON-path precedence: a || b && c == a || (b && c)."""
    from micromegas_spark.functions import jsonb as J

    df = spark.createDataFrame(
        [(1, '[{"a":1},{"b":2,"c":0},{"b":2,"c":3}]')], ["i", "j"]
    )
    got = df.select(
        J.jsonb_path_query(
            F.col("j"), '$[*] ? (@.a == 1 || @.b == 2 && @.c == 3)'
        ).alias("m")
    ).collect()[0].m
    assert got == '[{"a":1},{"b":2,"c":3}]'


def test_query_log_reference_is_case_insensitive(spark, tmp_path):
    """Spark resolves view names case-insensitively; the lazy query_log
    refresh and the shadow guard must match."""
    import pytest

    from micromegas_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh_ci"))
    eng.register_table("tiny_ci", spark.range(2).toDF("x"))
    eng.query("SELECT COUNT(*) AS c FROM tiny_ci")
    n = eng.query("SELECT COUNT(*) AS c FROM QUERY_LOG").collect()[0].c
    assert n == 1
    with pytest.raises(ValueError):
        eng.register_table("Query_Log", spark.range(1).toDF("x"))


def test_bpe_train_honors_n_merges_cap(spark):
    from micromegas_spark.operators.text import bpe_train

    df = spark.createDataFrame(
        [("ab ab ab cd cd ef gh ij kl mn op qr",)], ["text"]
    )
    got = bpe_train(df, n_merges=3, merges_per_round=4)
    assert len(got) <= 3


def test_band_store_backfills_preexisting_sig_store(spark, tmp_path):
    """Enabling the bucketed band table on a store_dir with prior ingests
    must backfill the table so old docs stay in candidate generation."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from micromegas_spark.operators.dedup import (
        _shingle_sets,
        minhash_signature_from_hashes,
    )
    from micromegas_spark.streaming.incremental import stream_minhash_neardup

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    t = "the quick brown fox jumps over the lazy dog again and again today"
    # pre-existing store written WITHOUT the band table
    old = _shingle_sets(
        spark.createDataFrame([(1, t), (2, "unrelated old words entirely")], schema),
        "text", "doc_id", 3,
    ).withColumn("mhs", minhash_signature_from_hashes(F.col("sh"), 8))
    store = tmp_path / "store"
    old.write.mode("append").parquet(str(store / "sigs"))

    tbl = "mh_bands_backfill_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        src, pairs, ckpt = (str(tmp_path / x) for x in ("src", "pairs", "ckpt"))
        spark.createDataFrame([(3, t)], schema).coalesce(1).write.parquet(src)
        q = stream_minhash_neardup(
            spark, src, schema, str(store), pairs, ckpt, threshold=0.9,
            store_files=1, band_store_table=tbl, band_store_buckets=4,
        )
        q.awaitTermination()
        got = [(r.id_a, r.id_b) for r in spark.read.parquet(pairs).collect()]
        assert got == [(1, 3)]  # pair against the PRE-TABLE store doc
        # table now covers old and new docs
        assert spark.table(tbl).select("doc_id").distinct().count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_jsonb_path_string_literal_full_escape_semantics(spark):
    """JSON-path predicate string literals decode with FULL JSON escape
    semantics: \\n/\\t/\\uXXXX are the control/unicode characters, not the
    letters 'n'/'t'/'uXXXX' (the old backslash-strip made
    '@.x == "a\\nb"' unmatchable against a value holding a real newline)."""
    from micromegas_spark.functions import jsonb as J

    df = spark.createDataFrame(
        [('[{"x":"a\\nb"},{"x":"anb"},{"x":"\\u00e9"}]',)], ["j"]
    )
    got = df.select(
        J.jsonb_path_query_first(
            F.col("j"), '$[*] ? (@.x == "a\\nb")'
        ).alias("nl"),
        J.jsonb_path_query_first(F.col("j"), '$[*] ? (@.x == "\\u00e9")').alias("uni"),
    ).collect()[0]
    import json

    assert got.nl is not None and json.loads(got.nl)["x"] == "a\nb"
    assert got.uni is not None and json.loads(got.uni)["x"] == "é"


def test_sql_jsonb_get_numeric_key_is_array_index(spark):
    """The SQL-registered jsonb_get must mirror the Python surface (and
    the reference's get.rs): a digit key addresses an ARRAY INDEX, not an
    object member named '1'."""
    from micromegas_spark.functions import register_all

    register_all(spark)
    row = spark.sql(
        """SELECT jsonb_get('["a","b","c"]', '1') AS arr,
                  jsonb_get('{"k":"v"}', 'k') AS obj,
                  jsonb_get('{"1":"member"}', '1') AS digit_member"""
    ).collect()[0]
    assert row.arr == '"b"'
    assert row.obj == '"v"'
    # parity cost of reference semantics: digit keys never address object
    # members (the Python jsonb_get behaves identically)
    assert row.digit_member is None


def test_property_get_legacy_array_format_roundtrip(spark):
    """Reference parity (property_get.rs handles the legacy
    List<Struct{key,value}> encoding): map → properties_to_array →
    property_get(fmt='array') round-trips every entry, the SQL spelling
    property_get_legacy agrees, and duplicate keys resolve to the FIRST
    entry (the reference's in-order list scan)."""
    from micromegas_spark.functions import register_all
    from micromegas_spark.functions import properties as P

    register_all(spark)
    df = spark.createDataFrame(
        [({"a": "1", "b": "x"},), ({"c": "only"},), ({},)], ["m"]
    ).withColumn("legacy", P.properties_to_array(F.col("m")))
    got = df.select(
        P.property_get(F.col("m"), "a").alias("direct"),
        P.property_get(F.col("legacy"), "a", fmt="array").alias("via_array"),
        F.expr("property_get_legacy(legacy, 'a')").alias("via_sql"),
    ).collect()
    for r in got:
        assert r.direct == r.via_array == r.via_sql

    dup = spark.sql(
        "SELECT property_get_legacy(array(named_struct('key','k','value','first'),"
        " named_struct('key','k','value','second')), 'k') AS v"
    ).collect()[0]
    assert dup.v == "first"

    # unknown fmt is a clear error, not silent map semantics
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown property format"):
        P.property_get(F.col("m"), "a", fmt="bogus")
