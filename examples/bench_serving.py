"""Serving-layer throughput: single- vs multi-endpoint DoGet.

The reference streams results through one FlightEndpoint
(reference: datafusion-flight-sql-server/src/service.rs:337-341); its
client already merges several (table-provider/src/lib.rs:43-53). Our
server can serve one endpoint per result bucket
(FlightSqlServiceConfig.result_endpoints), so this script measures what
that lever buys on a wide result: wall-clock and MB/s for the same
query served both ways, buckets read concurrently like a real client.

Usage: python examples/bench_serving.py [n_rows] [n_endpoints]
"""

from __future__ import annotations

import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import pyarrow.flight as fl  # noqa: E402

from datafusion_flight_sql_server_spark.client import FlightSQLExecutor  # noqa: E402
from datafusion_flight_sql_server_spark.engine.core import Engine  # noqa: E402
from datafusion_flight_sql_server_spark.engine.session import build_session  # noqa: E402
from datafusion_flight_sql_server_spark.protocol.flightsql import (  # noqa: E402
    CommandStatementQuery,
)
from datafusion_flight_sql_server_spark.server import (  # noqa: E402
    FlightSqlServer,
    FlightSqlServiceConfig,
)


def _serve(spark, endpoints: int) -> FlightSqlServer:
    srv = FlightSqlServer(
        Engine(spark),
        location="grpc://0.0.0.0:0",
        config=FlightSqlServiceConfig(result_endpoints=endpoints),
    )
    threading.Thread(target=srv.serve, daemon=True).start()
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            fl.connect(f"grpc://localhost:{srv.port}").close()
            break
        except Exception:
            time.sleep(0.05)
    return srv


def _read_all_endpoints(port: int, sql: str) -> tuple[int, int]:
    """GetFlightInfo + concurrent DoGet per endpoint; rows and bytes."""
    ex = FlightSQLExecutor(f"grpc://localhost:{port}")
    try:
        info = ex.flight_info(CommandStatementQuery(query=sql))
        raw = fl.FlightClient(f"grpc://localhost:{port}")
        try:
            def pull(ep):
                t = raw.do_get(ep.ticket).read_all()
                return t.num_rows, t.nbytes

            with ThreadPoolExecutor(max_workers=max(1, len(info.endpoints))) as pool:
                parts = list(pool.map(pull, info.endpoints))
            return sum(p[0] for p in parts), sum(p[1] for p in parts)
        finally:
            raw.close()
    finally:
        ex.close()


def main() -> int:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_eps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = build_session(app_name="bench-serving")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(n_rows).selectExpr(
        "id", "CAST(id AS DOUBLE) / 7 AS val", "md5(CAST(id AS STRING)) AS pad"
    ).createOrReplaceTempView("wide")
    sql = "SELECT * FROM wide"

    for label, eps in (("single-endpoint", 1), (f"{n_eps}-endpoint", n_eps)):
        srv = _serve(spark, eps)
        try:
            _read_all_endpoints(srv.port, sql)  # warm-up
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                rows, nbytes = _read_all_endpoints(srv.port, sql)
                samples.append(time.perf_counter() - t0)
                assert rows == n_rows
            med = statistics.median(samples)
            print(
                f"{label}: {med:.2f} s median of 3, "
                f"{nbytes / med / 1e6:.0f} MB/s "
                f"({rows} rows, {nbytes / 1e6:.0f} MB)"
            )
        finally:
            srv.shutdown()

    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
