"""One timed Flight SQL client operation over ``pyarrow.flight``.

An operation is what a client application does for one request: a
statement is GetFlightInfo then DoGet on every endpoint; a prepared
operation is CreatePreparedStatement, a DoPut bind, GetFlightInfo, DoGet
and ClosePreparedStatement; a metadata operation is GetFlightInfo on the
metadata command then DoGet. Every batch is read, so the timing covers the
whole transfer.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

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
    CommandPreparedStatementQuery,
    CommandStatementQuery,
    DoPutPreparedStatementResult,
    ProtobufAny,
    TYPE_URL_PREFIX,
)

from tracing import HEADER
from workloads import Op


@dataclass
class Timed:
    table: pa.Table
    total_ms: float  # first RPC sent to last batch received
    first_batch_ms: float  # first RPC sent to first batch received
    get_flight_info_ms: float  # the GetFlightInfo RPC alone
    nbytes: int  # Arrow bytes received
    batches: int


def _unpack_any(raw: bytes) -> bytes:
    msg = ProtobufAny.decode(raw)
    return msg.value if msg.type_url.startswith(TYPE_URL_PREFIX) else raw


class Client:
    def __init__(self, port: int):
        self._client = fl.FlightClient(f"grpc://127.0.0.1:{port}")

    def close(self) -> None:
        self._client.close()

    def action(self, kind: str, body: bytes = b"") -> list[bytes]:
        return [r.body.to_pybytes() for r in self._client.do_action(fl.Action(kind, body))]

    def run(self, op: Op, request_id: str | None = None) -> Timed:
        headers = [(HEADER.encode(), request_id.encode())] if request_id else []
        opts = fl.FlightCallOptions(headers=headers)
        t0 = time.perf_counter()
        handle = None
        if op.kind == "statement":
            command = CommandStatementQuery(query=op.sql)
        elif op.kind == "prepared":
            handle = self._prepare(op, opts)
            command = CommandPreparedStatementQuery(prepared_statement_handle=handle)
        elif op.kind == "get_tables":
            command = CommandGetTables(table_types=[], **dict(op.options))
        elif op.kind == "get_catalogs":
            command = CommandGetCatalogs()
        elif op.kind == "get_db_schemas":
            command = CommandGetDbSchemas()
        elif op.kind == "get_sql_info":
            command = CommandGetSqlInfo(info=[])
        else:
            raise ValueError(f"unknown op kind {op.kind!r}")
        descriptor = fl.FlightDescriptor.for_command(command.pack().encode())
        g0 = time.perf_counter()
        info = self._client.get_flight_info(descriptor, opts)
        gfi_ms = (time.perf_counter() - g0) * 1000.0
        batches: list[pa.RecordBatch] = []
        first = None
        for endpoint in info.endpoints:
            reader = self._client.do_get(endpoint.ticket, opts)
            while True:
                try:
                    chunk = reader.read_chunk()
                except StopIteration:
                    break
                if first is None:
                    first = time.perf_counter()
                batches.append(chunk.data)
        if handle is not None:
            body = ActionClosePreparedStatementRequest(
                prepared_statement_handle=handle
            ).pack().encode()
            list(self._client.do_action(fl.Action("ClosePreparedStatement", body), opts))
        t1 = time.perf_counter()
        table = pa.Table.from_batches(batches, schema=info.schema)
        return Timed(
            table=table,
            total_ms=(t1 - t0) * 1000.0,
            first_batch_ms=((first or t1) - t0) * 1000.0,
            get_flight_info_ms=gfi_ms,
            nbytes=sum(b.nbytes for b in batches),
            batches=len(batches),
        )

    def _prepare(self, op: Op, opts) -> bytes:
        body = ActionCreatePreparedStatementRequest(query=op.sql).pack().encode()
        results = list(
            self._client.do_action(fl.Action("CreatePreparedStatement", body), opts)
        )
        created = ActionCreatePreparedStatementResult.decode(
            _unpack_any(results[0].body.to_pybytes())
        )
        handle = created.prepared_statement_handle
        params = pa.RecordBatch.from_pydict(
            {f"${i + 1}": [v] for i, v in enumerate(op.params)}
        )
        command = CommandPreparedStatementQuery(prepared_statement_handle=handle)
        descriptor = fl.FlightDescriptor.for_command(command.pack().encode())
        writer, reader = self._client.do_put(descriptor, params.schema, opts)
        writer.write_batch(params)
        writer.done_writing()
        buf = reader.read()
        writer.close()
        if buf is not None:
            result = DoPutPreparedStatementResult.decode(_unpack_any(buf.to_pybytes()))
            if result.prepared_statement_handle:
                handle = result.prepared_statement_handle
        return handle
