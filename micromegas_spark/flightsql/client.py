"""Network FlightSQL client — same method surface as the reference's
python/micromegas/micromegas/flightsql/client.py (FlightSQLClient):
``query`` / ``query_stream`` / ``query_arrow`` / ``prepare_statement`` /
``prepared_statement_stream`` / ``bulk_ingest`` + the partition-admin
calls, speaking the same wire framing (Any-wrapped TicketStatementQuery
tickets, RFC 3339 ``query_range_begin``/``query_range_end`` headers,
``preserve_dictionary`` header, CommandStatementIngest DoPut) via the
hand-rolled codec in ``pb`` — so it interoperates with any FlightSQL
server that accepts the reference client, and the reference client's
framing is accepted by our ``FlightSQLServer``.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

from micromegas_spark.flightsql import pb

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd
    import pyarrow as pa


class PreparedStatement:
    """Schema-discovery handle (client.py:124-155): ``query`` text plus the
    server-computed ``dataset_schema`` — no execution happened."""

    def __init__(self, query: str, dataset_schema: "pa.Schema"):
        self.query = query
        self.dataset_schema = dataset_schema


def make_call_headers(begin=None, end=None, preserve_dictionary=False) -> list:
    """Out-of-band query range as RFC 3339 header values (client.py:64-89)."""
    from micromegas_spark.timeutils import format_datetime

    headers = [(b"x-client-type", b"python")]
    if begin is not None:
        headers.append((b"query_range_begin", format_datetime(begin).encode()))
    if end is not None:
        headers.append((b"query_range_end", format_datetime(end).encode()))
    if preserve_dictionary:
        headers.append((b"preserve_dictionary", b"true"))
    return headers


def _decode_dictionaries(table: "pa.Table") -> "pa.Table":
    """Dictionary columns → plain values for pandas conversion (the
    reference's _prepare_table_for_pandas role), so ``query`` returns the
    same plain string columns with or without preserve_dictionary rather
    than pandas categoricals. The server sends one dictionary per column
    for the whole stream; the Arrow path (query_arrow) keeps the
    encoding."""
    import pyarrow as pa

    cols, changed = [], False
    for col, field in zip(table.columns, table.schema):
        if pa.types.is_dictionary(field.type):
            cols.append(col.cast(field.type.value_type))
            changed = True
        else:
            cols.append(col)
    if not changed:
        return table
    return pa.Table.from_arrays(cols, names=table.column_names)


class FlightSQLClient:
    def __init__(
        self,
        uri: str,
        headers: dict | None = None,
        preserve_dictionary: bool = False,
        auth_provider=None,
    ):
        """``uri`` like ``grpc://127.0.0.1:50051``; ``headers`` are static
        call headers (e.g. ``{"authorization": "Bearer <token>"}``).
        ``auth_provider`` (anything with ``get_token() -> str``, e.g.
        flightsql.oidc.OidcAuthProvider) is consulted before EVERY call so
        refreshed tokens take effect mid-session — the reference client's
        contract (auth/oidc.py:400 'called before each query')."""
        import pyarrow.flight as flight

        self._flight = flight
        self._client = flight.FlightClient(uri)
        self._static = [
            (k.lower().encode(), v.encode()) for k, v in (headers or {}).items()
        ]
        self._auth = auth_provider
        self._preserve = preserve_dictionary

    def close(self):
        self._client.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def _options(self, begin=None, end=None):
        headers = self._static + make_call_headers(begin, end, self._preserve)
        if self._auth is not None:
            headers = headers + [
                (b"authorization", f"Bearer {self._auth.get_token()}".encode())
            ]
        return self._flight.FlightCallOptions(headers=headers)

    # -- queries -----------------------------------------------------------

    def query(self, sql: str, begin=None, end=None) -> "pd.DataFrame":
        table = self.query_arrow(sql, begin, end)
        if self._preserve:
            table = _decode_dictionaries(table)
        return table.to_pandas()

    def query_arrow(self, sql: str, begin=None, end=None) -> "pa.Table":
        import pyarrow as pa

        reader = self._client.do_get(
            self._flight.Ticket(pb.ticket_statement_query(sql)),
            options=self._options(begin, end),
        )
        batches = [chunk.data for chunk in reader]
        return pa.Table.from_batches(batches, reader.schema)

    def query_stream(self, sql: str, begin=None, end=None) -> Iterator["pa.RecordBatch"]:
        reader = self._client.do_get(
            self._flight.Ticket(pb.ticket_statement_query(sql)),
            options=self._options(begin, end),
        )
        for chunk in reader:
            yield chunk.data

    def get_flight_info(self, sql: str):
        """Schema + endpoint without executing (ADBC-style discovery)."""
        desc = self._flight.FlightDescriptor.for_command(pb.command_statement_query(sql))
        return self._client.get_flight_info(desc, options=self._options())

    # -- prepared statements ----------------------------------------------

    def prepare_statement(self, sql: str) -> PreparedStatement:
        import pyarrow as pa

        action = self._flight.Action("CreatePreparedStatement", pb.create_prepared_statement_request(sql))
        for result in self._client.do_action(action, options=self._options()):
            _, value = pb.unpack_any(result.body.to_pybytes())
            fields = pb.decode_fields(value)
            # proto3-canonical servers omit empty fields entirely
            handle = fields.get(1, [b""])[0]
            schema_ipc = fields.get(2, [b""])[0]
            if not schema_ipc:
                raise RuntimeError("prepared-statement result carries no schema")
            with pa.ipc.open_stream(schema_ipc) as r:
                schema = r.schema
            return PreparedStatement(handle.decode("utf-8"), schema)
        raise RuntimeError("server returned no prepared-statement result")

    def prepared_statement_stream(self, statement: PreparedStatement):
        """Like the reference (client.py:531): handles are the SQL text, so
        execution is just query_stream."""
        return self.query_stream(statement.query)

    # -- ingestion + admin -------------------------------------------------

    def bulk_ingest(self, table_name: str, table: "pa.Table") -> int:
        """DoPut with CommandStatementIngest (client.py:534-605); returns
        the ingested record count from DoPutUpdateResult."""
        import pyarrow as pa

        if not isinstance(table, pa.Table):
            raise TypeError(f"bulk_ingest expects a pyarrow.Table, got {type(table).__name__}")
        desc = self._flight.FlightDescriptor.for_command(
            pb.command_statement_ingest(table_name)
        )
        writer, reader = self._client.do_put(
            desc, table.schema, options=self._options()
        )
        with writer:
            for rb in table.to_batches():
                writer.write_batch(rb)
            writer.done_writing()
            result = reader.read()
        if result is None:
            return 0
        return pb.parse_do_put_update_result(result.to_pybytes())

    def _admin(self, kind: str, **args) -> dict:
        import json

        from micromegas_spark.timeutils import format_datetime

        import datetime

        for k in ("begin", "end"):
            if isinstance(args.get(k), datetime.datetime):  # covers pd.Timestamp
                args[k] = format_datetime(args[k])
        action = self._flight.Action(kind, json.dumps(args).encode("utf-8"))
        for result in self._client.do_action(action, options=self._options()):
            return json.loads(result.body.to_pybytes().decode("utf-8"))
        return {}

    def retire_partitions(self, view_set_name: str, begin, end) -> dict:
        return self._admin(
            "RetirePartitions", view_set_name=view_set_name, begin=begin, end=end
        )

    def retire_partition_by_file(self, file_path: str) -> dict:
        return self._admin("RetirePartitionByFile", file_path=file_path)

    def retire_partition_by_metadata(
        self, view_set_name: str, view_instance_id: str, begin, end
    ) -> dict:
        return self._admin(
            "RetirePartitionByMetadata",
            view_set_name=view_set_name,
            view_instance_id=view_instance_id,
            begin=begin,
            end=end,
        )

    def materialize_partitions(
        self, view_name: str, begin, end, partition_delta_seconds: int
    ) -> dict:
        return self._admin(
            "MaterializePartitions",
            view_name=view_name,
            begin=begin,
            end=end,
            partition_delta_seconds=partition_delta_seconds,
        )

    # -- api-key admin (reference #1383 /auth/api_keys routes) --------------

    def create_api_key(self, name: str, created_by: str = "") -> dict:
        """Mint a key on the server's store; the reply carries the
        plaintext ONCE (``{"name": ..., "key": ...}``) — it is never
        stored or retrievable again."""
        return self._admin("CreateApiKey", name=name, created_by=created_by)

    def list_api_keys(self) -> dict:
        """Audit listing: names + created/last-used/revoked trail, no
        hashes or plaintext."""
        return self._admin("ListApiKeys")

    def revoke_api_key(self, name: str, revoked_by: str = "") -> dict:
        return self._admin("RevokeApiKey", name=name, revoked_by=revoked_by)

    def regenerate_partitions(
        self, view_name: str, begin, end, partition_delta_seconds: int
    ) -> dict:
        return self._admin(
            "RegeneratePartitions",
            view_name=view_name,
            begin=begin,
            end=end,
            partition_delta_seconds=partition_delta_seconds,
        )
