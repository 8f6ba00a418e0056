"""Expected results from DuckDB over the same parquet, and result digests.

``digest(table)`` is order-insensitive: every column is normalised to a
type both engines agree on (integers to int64, floats and decimals to
float64 rounded to 4 decimals, timestamps to epoch microseconds, dates to
epoch days), then DuckDB hashes each row and the digest is the row count,
the column names, and the sum and xor of the row hashes.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

import datagen
from workloads import Op

#: The server's catalog and schema names for session temp views.
CATALOG = "spark_catalog"
DB_SCHEMA = "default"


def _normalise(table: pa.Table) -> pa.Table:
    cols = []
    for f, col in zip(table.schema, table.columns):
        t = f.type
        if pa.types.is_timestamp(t):
            col = col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
        elif pa.types.is_date(t):
            col = col.cast(pa.date32()).cast(pa.int32()).cast(pa.int64())
        elif pa.types.is_integer(t) or pa.types.is_boolean(t):
            col = col.cast(pa.int64())
        elif pa.types.is_floating(t) or pa.types.is_decimal(t):
            col = pc.round(col.cast(pa.float64()), 4)
        elif pa.types.is_large_string(t):
            col = col.cast(pa.string())
        elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
            col = pc.binary_length(col)
        cols.append(col)
    return pa.table(cols, names=[f"c{i}" for i in range(len(cols))])


def digest(table: pa.Table, con=None) -> tuple:
    """(rows, column names, sum of row hashes, xor of row hashes)."""
    con = con or duckdb.connect()
    names = tuple(table.column_names)
    if not names:
        return (table.num_rows, names, None, None)
    norm = _normalise(table)
    cols = ", ".join(norm.column_names)
    con.register("perfbench_digest_input", norm)
    try:
        total, xor = con.execute(
            f"SELECT CAST(SUM(hash({cols})) AS VARCHAR), "
            f"CAST(bit_xor(hash({cols})) AS VARCHAR) FROM perfbench_digest_input"
        ).fetchone()
    finally:
        con.unregister("perfbench_digest_input")
    return (table.num_rows, names, total, xor)


def schema_names(table: pa.Table) -> pa.Table:
    """A GetTables(include_schema) answer with its serialized schemas
    replaced by comma-joined field names, for digesting."""
    if "table_schema" not in table.column_names:
        return table
    names = [
        ",".join(pa.ipc.read_schema(pa.py_buffer(raw)).names)
        for raw in table.column("table_schema").to_pylist()
    ]
    idx = table.column_names.index("table_schema")
    return table.set_column(idx, "table_schema", pa.array(names, pa.string()))


class Oracle:
    """DuckDB views named like the server's tables, over the same files."""

    def __init__(self, data_dir: str, threads: int = 2):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        for name in datagen.TABLES:
            path = os.path.join(data_dir, f"{name}.parquet").replace("'", "''")
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        self._cache: dict[tuple, tuple] = {}

    def result(self, op: Op) -> pa.Table:
        if op.kind == "get_catalogs":
            return pa.table({"catalog_name": [CATALOG]})
        if op.kind == "get_db_schemas":
            return pa.table({"catalog_name": [CATALOG], "db_schema_name": [DB_SCHEMA]})
        if op.kind == "get_tables":
            rows = self.con.execute(
                "SELECT table_name, string_agg(column_name, ',' ORDER BY ordinal_position) "
                "FROM information_schema.columns GROUP BY table_name"
            ).fetchall()
            return pa.table({
                "catalog_name": [CATALOG] * len(rows),
                "db_schema_name": pa.array([None] * len(rows), pa.string()),
                "table_name": [r[0] for r in rows],
                "table_type": ["TEMPORARY"] * len(rows),
                "table_schema": [r[1] for r in rows],
            })
        return self.con.execute(op.oracle_sql()).arrow()

    def expected(self, op: Op) -> tuple:
        """Digest of the right answer to ``op``, once per distinct request."""
        key = (op.kind, op.oracle_sql(), op.options)
        if key not in self._cache:
            self._cache[key] = digest(self.result(op), self.con)
        return self._cache[key]
