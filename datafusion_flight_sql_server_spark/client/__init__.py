"""Flight SQL client executor — the federation side.

Analogue of the reference's ``datafusion-flight-sql-table-provider`` crate
(reference: datafusion-flight-sql-table-provider/src/lib.rs:15-106): forward
SQL strings to a remote Flight SQL server, stream Arrow record batches back,
merge multi-endpoint streams (lib.rs:43-53 ``select_all``), probe remote
schemas with ``SELECT * FROM {t} LIMIT 1`` (lib.rs:91-101).

Everything speaks the wire protocol from ``protocol/`` over
``pyarrow.flight.FlightClient`` — usable against this repo's server or any
Flight SQL server (the messages are the public Arrow ones).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.flight as fl

from datafusion_flight_sql_server_spark.protocol.flightsql import (
    ActionClosePreparedStatementRequest,
    ActionCreatePreparedStatementRequest,
    ActionCreatePreparedStatementResult,
    CommandGetCatalogs,
    CommandGetDbSchemas,
    CommandGetSqlInfo,
    CommandGetTables,
    CommandGetTableTypes,
    CommandPreparedStatementQuery,
    CommandStatementQuery,
    DoPutPreparedStatementResult,
    Message,
    ProtobufAny,
    TYPE_URL_PREFIX,
)


def _read_schema_bytes(data: bytes) -> pa.Schema:
    return pa.ipc.read_schema(pa.BufferReader(data))


class FlightSQLExecutor:
    """Remote SQL push-down executor (lib.rs:33-105 analogue).

    ``context`` is the remote endpoint URI, e.g. ``grpc://host:port``
    (lib.rs:25-31); ``token`` adds a bearer Authorization header
    (examples/bearer_auth_flight_sql.rs:120-135 client side).
    """

    def __init__(self, uri: str, token: str | None = None):
        self.uri = uri
        self._client = fl.FlightClient(uri)
        headers = []
        if token is not None:
            headers.append((b"authorization", f"Bearer {token}".encode()))
        self._options = fl.FlightCallOptions(headers=headers)

    # -- ad-hoc SQL (lib.rs:33-59, examples/flight-sql.rs:42-63) ------------

    def execute(self, sql: str) -> pa.Table:
        """GetFlightInfo(CommandStatementQuery) → DoGet every endpoint →
        concatenated table (the client-side merge, lib.rs:43-53)."""
        info = self.flight_info(CommandStatementQuery(query=sql))
        return self._collect_endpoints(info)

    def execute_update(self, sql: str) -> pa.Table:
        raise NotImplementedError("DML is not supported (service stubs DoPut updates)")

    def get_table_schema(self, table_name: str) -> pa.Schema:
        """Plan-only remote schema probe: ``select * from {t} limit 1``
        (lib.rs:91-101) — reads FlightInfo's schema, never calls DoGet."""
        info = self.flight_info(
            CommandStatementQuery(query=f"select * from {table_name} limit 1")
        )
        return info.schema

    def table_names(self) -> list[str]:
        """Remote table inference via the GetTables metadata endpoint.

        The reference leaves this as a stub (lib.rs:85-89: 'Implement table
        inference'); the server-side catalog endpoint it needs exists in
        both implementations, so this goes one step past parity and asks it.
        Filters to base tables plus session temp views (the JDBC getTables
        convention — without the filter a catalog exposing views/system
        tables would over-report them as queryable tables). GetTables lists
        every database, so a catalog table comes back qualified by its
        database (``db.table``); a temp view, which has none, comes back bare.
        """
        tables = self.get_tables(table_types=["BASE TABLE", "TABLE", "TEMPORARY"])
        return sorted(
            f"{db}.{name}" if db else name
            for db, name in zip(
                tables.column("db_schema_name").to_pylist(),
                tables.column("table_name").to_pylist(),
            )
        )

    @property
    def dialect(self) -> str:
        """SQL dialect for unparsed pushed-down plans (lib.rs:103-105)."""
        return "spark"

    # -- prepared statements (service.rs:810-941 client side) ---------------

    def prepare(self, sql: str) -> "PreparedStatement":
        body = ActionCreatePreparedStatementRequest(query=sql).pack().encode()
        results = list(
            self._client.do_action(
                fl.Action("CreatePreparedStatement", body), self._options
            )
        )
        if not results:
            raise fl.FlightServerError("CreatePreparedStatement returned no result")
        any_msg = ProtobufAny.decode(results[0].body.to_pybytes())
        result = ActionCreatePreparedStatementResult.decode(any_msg.value)
        return PreparedStatement(
            self,
            handle=result.prepared_statement_handle,
            dataset_schema=_read_schema_bytes(result.dataset_schema)
            if result.dataset_schema
            else None,
            parameter_schema=_read_schema_bytes(result.parameter_schema)
            if result.parameter_schema
            else None,
        )

    # -- catalog metadata ---------------------------------------------------

    def get_catalogs(self) -> pa.Table:
        return self._metadata_query(CommandGetCatalogs())

    def get_db_schemas(
        self, catalog: str | None = None, db_schema_filter_pattern: str | None = None
    ) -> pa.Table:
        return self._metadata_query(
            CommandGetDbSchemas(
                catalog=catalog, db_schema_filter_pattern=db_schema_filter_pattern
            )
        )

    def get_tables(
        self,
        catalog: str | None = None,
        db_schema_filter_pattern: str | None = None,
        table_name_filter_pattern: str | None = None,
        table_types: list[str] | None = None,
        include_schema: bool = False,
    ) -> pa.Table:
        return self._metadata_query(
            CommandGetTables(
                catalog=catalog,
                db_schema_filter_pattern=db_schema_filter_pattern,
                table_name_filter_pattern=table_name_filter_pattern,
                table_types=table_types or [],
                include_schema=include_schema or None,
            )
        )

    def get_table_types(self) -> pa.Table:
        return self._metadata_query(CommandGetTableTypes())

    def get_sql_info(self, info: list[int] | None = None) -> pa.Table:
        """Server name/version/read-only rows (GetSqlInfo; the server's
        parity-plus minimal fill — the reference stubs the endpoint)."""
        return self._metadata_query(CommandGetSqlInfo(info=info or []))

    # -- plumbing -----------------------------------------------------------

    def flight_info(self, command: Message) -> fl.FlightInfo:
        descriptor = fl.FlightDescriptor.for_command(command.pack().encode())
        return self._client.get_flight_info(descriptor, self._options)

    def do_get(self, ticket: fl.Ticket) -> pa.Table:
        return self._client.do_get(ticket, self._options).read_all()

    def _collect_endpoints(self, info: fl.FlightInfo) -> pa.Table:
        tables = [self.do_get(ep.ticket) for ep in info.endpoints]
        return pa.concat_tables(tables) if tables else info.schema.empty_table()

    def _metadata_query(self, command: Message) -> pa.Table:
        return self._collect_endpoints(self.flight_info(command))

    def close(self) -> None:
        self._client.close()


class PreparedStatement:
    """Client-side stateless prepared statement: the handle (and any bound
    parameters) round-trips through this object, never the server
    (state.rs:55-58)."""

    def __init__(
        self,
        executor: FlightSQLExecutor,
        handle: bytes,
        dataset_schema: pa.Schema | None = None,
        parameter_schema: pa.Schema | None = None,
    ):
        self._executor = executor
        self.handle = handle
        self.dataset_schema = dataset_schema
        self.parameter_schema = parameter_schema

    def bind(self, batch: pa.RecordBatch) -> "PreparedStatement":
        """DoPut the single-row parameter batch; the server hands back an
        updated handle embedding the values (service.rs:810-862)."""
        command = CommandPreparedStatementQuery(prepared_statement_handle=self.handle)
        descriptor = fl.FlightDescriptor.for_command(command.pack().encode())
        writer, reader = self._executor._client.do_put(
            descriptor, batch.schema, self._executor._options
        )
        writer.write_batch(batch)
        writer.done_writing()
        buf = reader.read()
        writer.close()
        if buf is not None:
            any_msg = ProtobufAny.decode(buf.to_pybytes())
            payload = (
                any_msg.value if any_msg.type_url.startswith(TYPE_URL_PREFIX) else bytes(buf)
            )
            result = DoPutPreparedStatementResult.decode(payload)
            if result.prepared_statement_handle:
                self.handle = result.prepared_statement_handle
        return self

    def execute(self) -> pa.Table:
        command = CommandPreparedStatementQuery(prepared_statement_handle=self.handle)
        info = self._executor.flight_info(command)
        return self._executor._collect_endpoints(info)

    def schema(self) -> pa.Schema:
        command = CommandPreparedStatementQuery(prepared_statement_handle=self.handle)
        return self._executor.flight_info(command).schema

    def close(self) -> None:
        body = (
            ActionClosePreparedStatementRequest(prepared_statement_handle=self.handle)
            .pack()
            .encode()
        )
        list(
            self._executor._client.do_action(
                fl.Action("ClosePreparedStatement", body), self._executor._options
            )
        )


__all__ = ["FlightSQLExecutor", "PreparedStatement"]
