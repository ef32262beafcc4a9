"""Arrow Flight(SQL) network server over the Engine.

The reference serves Arrow FlightSQL from its analytics service
(rust/public/src/servers/flight_sql_service_impl.rs:502-1160): statement
tickets arrive as Any-wrapped ``TicketStatementQuery``, the query time range
rides gRPC headers ``query_range_begin``/``query_range_end`` as RFC 3339
strings (:514-545), ``preserve_dictionary: true`` keeps dictionary encoding
in result batches (:491-499, :693), prepared statements are
schema-discovery actions (:1098-1141), and bulk ingest is a DoPut with a
``CommandStatementIngest`` descriptor (:1054-1071).

This module serves the same wire surface from ``pyarrow.flight`` (which
bundles its own gRPC — no external wheel needed) on top of the in-process
``Engine``: DoGet streams the Arrow record batches Spark's executors
encode, pulled one partition at a time (``client._stream_batches``; one
batch in driver memory at a time), so a network client can consume a
result larger than the driver heap. Spark remains the execution engine;
this is purely the transport the rebuild was missing (in-process
``client.Client`` covers the same surface without a network).

The partition-admin ops have four spellings — the planned SQL call, the
same call streamed by DoGet, ``Client`` and the JSON DoActions — and one
op table behind them (``Engine.admin_op``): one admin gate, one argument
check, the partition delta checked positive on every path.

Scale shape: one server process fronts one SparkSession; each call plans
in a clone of it that it holds alone while planning, taken from the
engine's pool (``Engine.planning_session``), so concurrent calls never wait
on each other's planning — the contract the reference gets from per-query
SessionContexts.
"""

from __future__ import annotations

import json
import re
from typing import TYPE_CHECKING

from micromegas_spark.flightsql import pb

if TYPE_CHECKING:  # pragma: no cover
    from micromegas_spark.engine import Engine

_HEADERS_KEY = "micromegas-headers"

# The partition-admin DoActions: wire kind → (the Engine.admin_op op it
# runs, the description list_actions shows). The JSON body carries the
# op's arguments by parameter name (engine._ADMIN_OPS).
_ADMIN_ACTIONS = {
    "RetirePartitions": ("retire_partitions", "admin: drop partitions in range"),
    "MaterializePartitions": ("materialize_partitions", "admin: build partitions in range"),
    "RegeneratePartitions": ("regenerate_partitions", "admin: force-rebuild partitions"),
    "RetirePartitionByFile": ("retire_partition_by_file", "admin: retire one partition file"),
    "RetirePartitionByMetadata": (
        "retire_partition_by_metadata", "admin: retire one partition by ids"
    ),
}


def _selects_one_admin_call(sql: str, calls) -> bool:
    """Whether ``sql`` is one admin table-function call selected whole —
    ``SELECT * FROM <call>`` plus an optional ``;``, nothing else but
    whitespace — given the calls the engine's scan found in it
    (Engine.table_function_calls)."""
    if len(calls) != 1 or calls[0].fn == "view_instance":
        return False
    c = calls[0]
    return bool(
        re.fullmatch(r"\s*select\s*\*\s*from\s*", sql[: c.start], re.I)
        and re.fullmatch(r"\s*;?\s*", sql[c.end :])
    )


def _flight():
    import pyarrow.flight as flight

    return flight


def _make_middleware(flight):
    class _Factory(flight.ServerMiddlewareFactory):
        def __init__(self, auth_token: str | None, key_store=None):
            self.auth_token = auth_token
            self.key_store = key_store

        def start_call(self, info, headers):
            low = {k.lower(): v for k, v in headers.items()}
            if self.auth_token is not None:
                got = low.get("authorization", [])
                if f"Bearer {self.auth_token}" not in got:
                    raise flight.FlightUnauthenticatedError("invalid or missing bearer token")
            if self.key_store is not None:
                from micromegas_spark.flightsql.apikeys import StoreUnavailable

                keys = [
                    v[len("Bearer "):]
                    for v in low.get("authorization", [])
                    if v.startswith("Bearer ")
                ]
                try:
                    ok = bool(keys) and self.key_store.validate(keys[0])
                except StoreUnavailable as e:
                    # #1383: a key-store OUTAGE is a retryable failure
                    # (UNAVAILABLE), never a rejected credential — a DB
                    # blip must not tell clients their key was revoked
                    raise flight.FlightUnavailableError(
                        f"api key store unavailable: {e}"
                    )
                if not ok:
                    raise flight.FlightUnauthenticatedError(
                        "invalid, revoked, or missing api key"
                    )
            return _Middleware(low)

    class _Middleware(flight.ServerMiddleware):
        def __init__(self, headers):
            self.headers = headers

    return _Factory


# preserve_dictionary encodes a string column only up to this many
# distinct values; above it the column streams as plain strings
MAX_DICTIONARY_VALUES = 4096


def dictionary_encode_stream(df, schema, batches):
    """(schema, batch-iter) → same stream with low-cardinality string
    columns dictionary-encoded, mirroring the reference's
    preserve_dictionary response path (flight_sql_service_impl.rs:693).

    pyarrow's Flight transport does NOT honor dictionary replacement —
    batches after the first silently decode against the first batch's
    dictionary — so the stream must carry ONE dictionary per column for
    its whole life. That dictionary is computed up front with two small
    Spark jobs: approx_count_distinct to find eligible columns (bounded
    driver memory even on a 100 TB scan — high-cardinality columns stay
    plain strings, which is also when dictionary encoding stops paying),
    then collect_set for the eligible ones. Each batch is then encoded
    against the fixed dictionary JVM-free via pyarrow.compute.index_in."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    str_cols = [f.name for f in schema if pa.types.is_string(f.type)]
    if not str_cols:
        return schema, batches
    approx = df.agg(
        *[F.approx_count_distinct(df[c]).alias(f"c{i}") for i, c in enumerate(str_cols)]
    ).collect()[0]
    # 2x margin: approx_count_distinct under-counting must not let a
    # too-big dictionary through to collect_set
    maybe = [c for i, c in enumerate(str_cols) if approx[f"c{i}"] <= 2 * MAX_DICTIONARY_VALUES]
    dictionaries: dict[str, "pa.Array"] = {}
    if maybe:
        sets = df.agg(
            *[F.collect_set(df[c]).alias(f"c{i}") for i, c in enumerate(maybe)]
        ).collect()[0]
        for i, c in enumerate(maybe):
            values = sorted(sets[f"c{i}"])
            if len(values) <= MAX_DICTIONARY_VALUES:
                dictionaries[c] = pa.array(values, type=pa.string())
    if not dictionaries:
        return schema, batches
    fields = [
        pa.field(f.name, pa.dictionary(pa.int32(), f.type), f.nullable)
        if f.name in dictionaries
        else f
        for f in schema
    ]
    dschema = pa.schema(fields)

    def gen():
        for b in batches:
            cols = []
            for field, col in zip(schema, b.columns):
                d = dictionaries.get(field.name)
                if d is None:
                    cols.append(col)
                else:
                    idx = pc.index_in(col, value_set=d).cast(pa.int32())
                    # backstop: a value absent from the precomputed
                    # dictionary would silently become NULL — fail loudly
                    # instead (can only happen if the persisted result
                    # was recomputed non-deterministically)
                    if idx.null_count > col.null_count:
                        raise RuntimeError(
                            f"dictionary miss streaming column {field.name!r}"
                        )
                    cols.append(pa.DictionaryArray.from_arrays(idx, d))
            yield pa.RecordBatch.from_arrays(cols, schema=dschema)

    return dschema, gen()


class FlightSQLServer:
    """Network front-end: ``FlightSQLServer(engine).serve()`` then connect
    any Flight client (including the reference's Python client framing) to
    ``grpc://host:port``.

    Supported calls (reference parity noted per method):
    - DoGet(TicketStatementQuery | raw-utf8 SQL) → record-batch stream;
      ``SELECT * FROM <admin call>`` streams the op's task log per bucket
    - GetFlightInfo(CommandStatementQuery) → schema + self endpoint
    - DoAction CreatePreparedStatement / ClosePreparedStatement
    - DoPut(CommandStatementIngest) → bulk ingest, DoPutUpdateResult reply
    - DoAction RetirePartitions / MaterializePartitions /
      RegeneratePartitions / RetirePartitionByMetadata /
      RetirePartitionByFile (_ADMIN_ACTIONS; JSON body by the op's
      parameter names → ``{"result": …}``; the reference spells these as
      SQL UDTFs — one op table, Engine.admin_op, behind both)
    - DoAction CreateApiKey / ListApiKeys / RevokeApiKey (admin-gated)
    """

    def __init__(
        self,
        engine: "Engine",
        location: str = "grpc://127.0.0.1:0",
        auth_token: str | None = None,
        key_store=None,
    ):
        flight = _flight()
        if auth_token is not None and key_store is not None:
            # the middleware ANDs its checks, so one Bearer value would
            # have to equal the static token AND be a valid stored key —
            # a dead combination no client can satisfy with a single
            # credential; refuse it loudly instead of rejecting every call
            raise ValueError(
                "configure either auth_token (static bearer) or key_store "
                "(hashed API keys), not both"
            )
        self.engine = engine
        # the admin mint/list/revoke actions manage this same store —
        # the reference's #1383 "mint keys without redeploy" loop (its
        # OIDC-gated /auth/api_keys HTTP routes; here the admin-gated
        # DoAction surface, like the partition-admin UDTFs)
        self._key_store = key_store
        outer = self

        class _Server(flight.FlightServerBase):
            def do_get(self, context, ticket):
                return outer._do_get(context, ticket)

            def get_flight_info(self, context, descriptor):
                return outer._get_flight_info(context, descriptor)

            def do_action(self, context, action):
                return outer._do_action(context, action)

            def do_put(self, context, descriptor, reader, writer):
                return outer._do_put(context, descriptor, reader, writer)

            def list_actions(self, context):
                return [
                    ("CreatePreparedStatement", "SQL → result-schema discovery"),
                    ("ClosePreparedStatement", "no-op (stateless handles)"),
                    *((kind, desc) for kind, (_, desc) in _ADMIN_ACTIONS.items()),
                    ("CreateApiKey", "admin: mint an API key (plaintext returned once)"),
                    ("ListApiKeys", "admin: list API keys with audit trail"),
                    ("RevokeApiKey", "admin: revoke an API key"),
                ]

        factory = _make_middleware(flight)(auth_token, key_store)
        # remember the bound host so .uri reports the real endpoint
        # (the port may have been 0 = ephemeral; the host is as given)
        self._host = location.split("://", 1)[-1].rsplit(":", 1)[0] or "127.0.0.1"
        self._server = _Server(location, middleware={_HEADERS_KEY: factory})

    # -- lifecycle ---------------------------------------------------------

    @property
    def port(self) -> int:
        return self._server.port

    @property
    def uri(self) -> str:
        return f"grpc://{self._host}:{self.port}"

    def serve(self):
        """Blocks. Run in a thread for in-process tests."""
        self._server.serve()

    def shutdown(self):
        self._server.shutdown()

    def __enter__(self):
        import threading

        self._thread = threading.Thread(target=self.serve, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.shutdown()

    # -- call-option plumbing ---------------------------------------------

    def _call_options(self, context) -> tuple[int | None, int | None, bool]:
        """Headers → (begin_ns, end_ns, preserve_dictionary). Like the
        reference (:526-545), the range applies only when BOTH bounds
        parse; a malformed bound is a client error, not a silent miss."""
        from micromegas_spark.timeutils import to_epoch_ns

        flight = _flight()
        mw = context.get_middleware(_HEADERS_KEY)
        headers = mw.headers if mw is not None else {}

        def first(name):
            vals = headers.get(name, [])
            if not vals:
                return None
            v = vals[0]
            return v.decode() if isinstance(v, bytes) else v

        begin, end = first("query_range_begin"), first("query_range_end")
        try:
            begin_ns = to_epoch_ns(begin) if begin is not None else None
            end_ns = to_epoch_ns(end) if end is not None else None
        except (ValueError, TypeError) as e:
            raise flight.FlightServerError(f"unparseable query_range header: {e}")
        if (begin_ns is None) != (end_ns is None):
            begin_ns = end_ns = None
        preserve = (first("preserve_dictionary") or "").lower() == "true"
        return begin_ns, end_ns, preserve

    @staticmethod
    def _ticket_sql(raw: bytes) -> str:
        """Any(TicketStatementQuery) → SQL; raw utf-8 accepted as a
        lightweight fallback so `flight.Ticket(b"SELECT 1")` works too."""
        try:
            name, value = pb.unpack_any(raw)
            if name in (
                "TicketStatementQuery",
                "CommandStatementQuery",
                # prepared handle IS the SQL (stateless, like the reference
                # where prepared_statement_handle carries the query text)
                "CommandPreparedStatementQuery",
            ):
                # proto3 omits empty fields: absent field 1 = empty SQL
                fields = pb.decode_fields(value)
                return fields.get(1, [b""])[0].decode("utf-8")
        except (ValueError, UnicodeDecodeError):
            pass
        return raw.decode("utf-8")

    def _schema_for(self, sql: str, context):
        """Result schema without executing (prepared-statement purpose),
        planned over the call's query range like DoGet (Engine._plan)."""
        from micromegas_spark.client import _arrow_schema

        begin_ns, end_ns, _ = self._call_options(context)
        return _arrow_schema(self.engine._plan(sql, begin_ns, end_ns, execute=False))

    # -- RPC handlers ------------------------------------------------------

    def _do_get(self, context, ticket):
        import uuid

        from micromegas_spark.client import _arrow_schema, _stream_batches
        from micromegas_spark.engine import attributed_iter, job_group
        from micromegas_spark.flightsql.errors import to_flight_error

        flight = _flight()
        sc = self.engine.spark.sparkContext
        sql = self._ticket_sql(ticket.ticket)
        begin_ns, end_ns, preserve = self._call_options(context)
        # #1435: one query_id per request — it rides every client-facing
        # error message, the query_log audit record, and the job group
        # (so query_metrics attributes this request's task metrics)
        query_id = uuid.uuid4().hex[:16]
        df = None
        try:
            # S11 streaming (VERDICT r9 #3): a statement that is one admin
            # call selected whole streams its task log per bucket WHILE
            # the op runs — the reference's mpsc → AsyncLogStream shape,
            # which streams exactly when the call IS the plan root
            # (task_log_exec_plan.rs:35-60). Any other statement plans
            # through resolve(), where the log is an at-completion
            # relation Spark can compose over.
            try:
                calls = self.engine.table_function_calls(sql)
            except Exception:
                # a rejected call: resolve() raises the same error and
                # writes its classified query_log record
                calls = []
            if _selects_one_admin_call(sql, calls):
                return self._stream_task_log(calls[0], sql, query_id)
            df = self.engine.resolve(sql, begin_ns, end_ns, query_id=query_id)
            schema = _arrow_schema(df)
            if preserve:
                from pyspark import StorageLevel

                # ONE execution feeds both the dictionary aggregates and
                # the batch stream: without the persist, a
                # non-deterministic query (LIMIT without ORDER BY, rand())
                # could stream values absent from the collected dictionary
                # — which the transport would deliver as NULLs
                df.persist(StorageLevel.MEMORY_AND_DISK)
                with job_group(sc, query_id, sql):
                    schema, batches = dictionary_encode_stream(
                        df, schema, _stream_batches(df)
                    )
            else:
                batches = _stream_batches(df)
        except Exception as e:
            # classify: caller mistakes surface as gRPC InvalidArgument
            # (pyarrow ArrowInvalid client-side), not Internal
            if preserve and df is not None:
                df.unpersist()
            _cls, err = to_flight_error(e, query_id)
            raise err from None

        def served():
            # job groups are THREAD-local and Flight pulls the generator on
            # a gRPC serving thread, not the do_get handler thread that ran
            # resolve() — attributed_iter re-pins the group around EACH pull
            # (and clears it between pulls) so the streaming jobs are
            # attributed to this query_id and nothing else's (#1406 audit)
            try:
                yield from attributed_iter(
                    sc, query_id, sql, batches,
                    check=lambda: self.engine.check_spill_budget(query_id),
                )
            except Exception as e:
                # EXECUTION-time failures classify too (#1435: the
                # reference reclassified UDF arity/type exec errors) — a
                # Python-UDF ValueError mid-stream surfaces as
                # InvalidArgument, not Internal
                _cls, err = to_flight_error(e, query_id)
                raise err from None
            finally:
                if preserve:
                    # don't leave the result cached in the long-lived
                    # server session
                    df.unpersist()

        if preserve:
            import pyarrow as pa

            # GeneratorStream's writer doesn't emit the dictionary batches
            # a dictionary-typed schema requires; a RecordBatchReader-backed
            # stream goes through the full IPC dictionary path
            return flight.RecordBatchStream(
                pa.RecordBatchReader.from_batches(schema, served())
            )
        return flight.GeneratorStream(schema, served())

    def _stream_task_log(self, call, sql: str, query_id: str):
        """Stream an admin call's (time, msg) log per bucket AS IT RUNS —
        the served-path closure of S11's documented delta (reference:
        ``dfext/task_log_exec_plan.rs:35-60`` feeds an AsyncLogStream
        from an mpsc channel while the spawned task progresses; here a
        queue-backed TaskLog feeds DoGet one record batch per progress
        row while the op runs on a worker thread). The arguments are
        checked first (Engine.admin_op, as on every spelling), and
        the op runs through TaskLog.run, so its own error becomes the
        final log row and the stream completes cleanly (reference
        producers catch and write, then close). The embedded (non-served)
        path keeps at-completion semantics — a Spark temp-view relation
        cannot emit partial batches (materialize/tasklog.py docstring)."""
        import queue as _queue
        import threading
        import time as _time

        import pyarrow as pa

        from micromegas_spark.engine import job_group
        from micromegas_spark.materialize.tasklog import TaskLog

        flight = _flight()
        op, op_args = self.engine.admin_op(call.fn, *call.args)
        q: _queue.SimpleQueue = _queue.SimpleQueue()
        done = object()

        class _StreamingLog(TaskLog):
            def write(self, msg: str) -> None:
                super().write(msg)
                q.put(self.rows[-1])

        log = _StreamingLog()
        t0 = _time.time()

        def run() -> None:
            try:
                # attribute the op's Spark jobs to this request (#1406).
                # The op binds its views and holds the planning session
                # they live in for its whole run, on this worker thread.
                with job_group(self.engine.spark.sparkContext, query_id, sql):
                    log.run(op, op_args)
            finally:
                q.put(done)

        worker = threading.Thread(
            target=run, daemon=True, name=f"tasklog-{query_id}"
        )
        schema = pa.schema(
            [
                pa.field("time", pa.timestamp("us", tz="UTC")),
                pa.field("msg", pa.string()),
            ]
        )

        def batches():
            from micromegas_spark.flightsql.errors import to_flight_error

            worker.start()
            try:
                while True:
                    # same guards as every other DoGet stream (ADVICE
                    # r10): the op's own failure becomes the final log
                    # row, but a fault in THIS generator — including a
                    # spill-budget kill of the op's attributed jobs —
                    # surfaces #1435-classified, not as a bare gRPC
                    # Internal
                    try:
                        self.engine.check_spill_budget(query_id)
                    except Exception as e:
                        _cls, err = to_flight_error(e, query_id)
                        raise err from None
                    try:
                        # bounded wait so the budget re-checks even while
                        # the op grinds between progress rows
                        item = q.get(timeout=2.0)
                    except _queue.Empty:
                        continue
                    if item is done:
                        break
                    t_ns, msg = item
                    yield pa.record_batch(
                        [
                            pa.array([t_ns // 1000], pa.timestamp("us", tz="UTC")),
                            pa.array([msg], pa.string()),
                        ],
                        schema=schema,
                    )
            finally:
                worker.join(timeout=60)
                self.engine.log_query(
                    sql, None, None, (_time.time() - t0) * 1000.0, query_id
                )

        return flight.GeneratorStream(schema, batches())

    def _get_flight_info(self, context, descriptor):
        import uuid

        from micromegas_spark.flightsql.errors import to_flight_error

        flight = _flight()
        sql = self._ticket_sql(descriptor.command)
        try:
            schema = self._schema_for(sql, context)
        except Exception as e:
            # plan-time failures (unknown column, syntax) are the caller's:
            # InvalidArgument with the Spark line/column pointer + query_id
            _cls, err = to_flight_error(e, uuid.uuid4().hex[:16])
            raise err from None
        endpoint = flight.FlightEndpoint(pb.ticket_statement_query(sql), [])
        return flight.FlightInfo(schema, descriptor, [endpoint], -1, -1)

    def _do_action(self, context, action):
        import pyarrow as pa

        flight = _flight()
        body = action.body.to_pybytes() if action.body is not None else b""
        if action.type == "CreatePreparedStatement":
            import uuid

            from micromegas_spark.flightsql.errors import to_flight_error

            _, value = pb.unpack_any(body)
            sql = pb.decode_fields(value).get(1, [b""])[0].decode("utf-8")
            try:
                schema = self._schema_for(sql, context)
            except Exception as e:
                _cls, err = to_flight_error(e, uuid.uuid4().hex[:16])
                raise err from None
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, schema):
                pass  # schema message + EOS: what ipc.open_stream expects
            result = pb.create_prepared_statement_result(
                sql.encode("utf-8"), sink.getvalue().to_pybytes()
            )
            return iter([flight.Result(pa.py_buffer(result))])
        if action.type == "ClosePreparedStatement":
            return iter([])  # handles are stateless — nothing to free
        if action.type in _ADMIN_ACTIONS:
            return self._admin_action(_ADMIN_ACTIONS[action.type][0], body)
        if action.type in ("CreateApiKey", "ListApiKeys", "RevokeApiKey"):
            return self._apikey_action(action.type, body)
        raise flight.FlightServerError(f"unknown action {action.type!r}")

    def _apikey_action(self, kind: str, body: bytes):
        """API-key admin over the wire (reference #1383's OIDC-gated
        POST/GET/DELETE /auth/api_keys, mkdocs/docs/admin/api-keys.md) —
        spelled as admin-gated DoActions here, exactly like the
        partition-admin surface: a non-admin engine fails them as
        unknown (engine.require_admin), and the plaintext of a minted
        key travels once in the reply and is never stored."""
        import pyarrow as pa

        from micromegas_spark.flightsql.errors import InvalidArgument

        flight = _flight()
        args = json.loads(body.decode("utf-8")) if body else {}
        try:
            self.engine.require_admin(kind)
        except LookupError as e:
            # non-admin parity: same user-visible failure as the
            # partition admin actions (query.rs:150-175)
            raise flight.FlightServerError(str(e))
        if self._key_store is None:
            raise flight.FlightServerError(
                "no api key store configured on this server"
            )
        from micromegas_spark.flightsql.apikeys import StoreUnavailable

        try:
            if kind == "CreateApiKey":
                plaintext = self._key_store.create_key(
                    args["name"], created_by=args.get("created_by", "")
                )
                out = {"name": args["name"], "key": plaintext}
            elif kind == "RevokeApiKey":
                self._key_store.revoke(
                    args["name"], revoked_by=args.get("revoked_by", "")
                )
                out = {"name": args["name"], "revoked": True}
            else:
                out = {"keys": self._key_store.list_keys()}
        except InvalidArgument as e:
            raise flight.FlightServerError(str(e))
        except StoreUnavailable as e:
            raise flight.FlightUnavailableError(str(e))
        payload = json.dumps({"result": out}).encode("utf-8")
        return iter([flight.Result(pa.py_buffer(payload))])

    def _admin_action(self, fn: str, body: bytes):
        """One partition-admin DoAction: the JSON body's fields, read by
        the op's parameter names, go through Engine.admin_op like every
        other spelling; the reply is ``{"result": <count or stats>}``.
        Every failure is classified with a query_id (to_flight_error):
        argument errors reach the client as ArrowInvalid, the non-admin
        "not found" (require_admin) as FlightServerError."""
        import uuid

        import pyarrow as pa

        from micromegas_spark.engine import _ADMIN_OPS
        from micromegas_spark.flightsql.errors import InvalidArgument, to_flight_error

        flight = _flight()
        try:
            try:
                args = dict(json.loads(body or b"{}"))
            except (ValueError, TypeError) as e:
                raise InvalidArgument(f"{fn}: the body is not a JSON object: {e}") from None
            _, params, _ = _ADMIN_OPS[fn]
            op, op_args = self.engine.admin_op(
                fn, **{p: args[p] for p, _ in params if p in args}
            )
            out = op(*op_args)
        except Exception as e:
            _cls, err = to_flight_error(e, uuid.uuid4().hex[:16])
            raise err from None
        payload = json.dumps({"result": out}).encode("utf-8")
        return iter([flight.Result(pa.py_buffer(payload))])

    def _do_put(self, context, descriptor, reader, writer):
        flight = _flight()
        try:
            name, value = pb.unpack_any(descriptor.command)
        except ValueError:
            raise flight.FlightServerError("DoPut descriptor is not a FlightSQL command")
        if name != "CommandStatementIngest":
            raise flight.FlightServerError(f"unsupported DoPut command {name}")
        names = pb.decode_fields(value).get(2)
        if not names:
            raise flight.FlightServerError("CommandStatementIngest without a table name")
        table_name = names[0].decode("utf-8")

        from micromegas_spark.client import Client

        table = reader.read_all()
        n = Client(self.engine).bulk_ingest(table_name, table)
        import pyarrow as pa

        writer.write(pa.py_buffer(pb.do_put_update_result(n)))
