"""The synthetic telemetry lake of the ``ingest`` workload: seeded data
(``sources.synthetic.generate``), one counting builder per view,
``log_stats`` as a Lakehouse-backed view, and a DuckDB oracle over the
same rows."""

from __future__ import annotations

import os
import threading

import pyarrow as pa
import pyarrow.parquet as pq

MIN_NS = 60 * 10**9
TABLES = ("processes", "streams", "blocks", "log_entries", "measures")
# range key per view: the out-of-band query range filters these columns
TIME_COLUMNS = {"log_entries": "time_ns", "measures": "time_ns"}

_MAP = pa.map_(pa.string(), pa.string())
SCHEMAS = {
    "processes": pa.schema([
        ("process_id", pa.string()), ("exe", pa.string()),
        ("username", pa.string()), ("computer", pa.string()),
        ("start_time_ns", pa.int64()), ("insert_time_ns", pa.int64()),
        ("properties", _MAP),
    ]),
    "streams": pa.schema([
        ("stream_id", pa.string()), ("process_id", pa.string()),
        ("tags", pa.list_(pa.string())), ("properties", _MAP),
        ("insert_time_ns", pa.int64()),
    ]),
    # blocks carry their stream's tags: log_stats' count query filters on them
    "blocks": pa.schema([
        ("block_id", pa.string()), ("stream_id", pa.string()),
        ("process_id", pa.string()), ("begin_time_ns", pa.int64()),
        ("end_time_ns", pa.int64()), ("nb_objects", pa.int64()),
        ("object_offset", pa.int64()), ("payload_size", pa.int64()),
        ("insert_time_ns", pa.int64()), ("tags", pa.list_(pa.string())),
    ]),
    "log_entries": pa.schema([
        ("process_id", pa.string()), ("stream_id", pa.string()),
        ("block_id", pa.string()), ("time_ns", pa.int64()),
        ("insert_time_ns", pa.int64()), ("level", pa.int64()),
        ("target", pa.string()), ("msg", pa.string()), ("properties", _MAP),
    ]),
    "measures": pa.schema([
        ("process_id", pa.string()), ("stream_id", pa.string()),
        ("block_id", pa.string()), ("time_ns", pa.int64()),
        ("insert_time_ns", pa.int64()), ("name", pa.string()),
        ("unit", pa.string()), ("value", pa.float64()),
    ]),
}


def generate_telemetry(seed: int) -> dict[str, pa.Table]:
    """8 processes x (log, metrics, cpu) streams of 100 blocks of ~120
    events: ~96k log entries and ~96k measures over a bit more than two
    hours."""
    from micromegas_spark.sources.synthetic import generate

    d = generate(
        seed=seed, n_processes=8, streams_per_process=3,
        blocks_per_stream=100, events_per_block=120, window_hours=1,
    )
    tags = {s["stream_id"]: s["tags"] for s in d["streams"]}
    for b in d["blocks"]:
        b["tags"] = tags[b["stream_id"]]
    return {
        name: pa.Table.from_pylist(d[name], schema=SCHEMAS[name]) for name in TABLES
    }


def write_parquet(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, tbl in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths


class ViewCounter:
    """Counts calls of the benchmark's registered view builders — the
    engine calls every builder on every statement it plans."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.builds = 0

    def counted(self, builder):
        def build(begin_ns, end_ns):
            with self._lock:
                self.builds += 1
            return builder(begin_ns, end_ns)

        return build


LOG_STATS_TIME = "time_bin_ns"


def register_log_stats(engine, counter: ViewCounter) -> None:
    """``log_stats`` as a queryable view: every statement reads the
    materialized partitions through ``Lakehouse.read`` (catalog-pruned by
    the query range)."""
    lake = engine.lakehouse
    engine.register_view(
        "log_stats",
        counter.counted(
            lambda b, e: lake.read("log_stats", b, e, time_column=LOG_STATS_TIME)
        ),
    )


def insert_range(tables: dict[str, pa.Table], bucket_ns: int) -> tuple[int, int]:
    """Aligned [lo, hi) insert-time range covering every block."""
    ins = tables["blocks"].column("insert_time_ns").to_pylist()
    lo, hi = min(ins), max(ins)
    return lo - lo % bucket_ns, hi - hi % bucket_ns + bucket_ns


def event_range(tables: dict[str, pa.Table]) -> tuple[int, int]:
    ts = tables["log_entries"].column("time_ns").to_pylist()
    return min(ts), max(ts) + 1


def duck_connect(tables: dict[str, pa.Table]):
    """DuckDB over the same rows, with log_stats defined from its source
    (the oracle of the materialized view is the view's definition) over
    the log entries inserted before a cut: ``log_stats_upto(cut)``."""
    import duckdb

    con = duckdb.connect()
    for name, tbl in tables.items():
        con.register(f"{name}_arrow", tbl)
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_arrow")
        con.unregister(f"{name}_arrow")
    con.execute(
        "CREATE MACRO log_stats_upto(cut) AS TABLE SELECT time_ns - time_ns % "
        "60000000000 AS time_bin_ns, process_id, level, target, COUNT(*) AS count "
        "FROM log_entries WHERE insert_time_ns < cut GROUP BY 1, 2, 3, 4"
    )
    return con
