"""Benchmark server launcher: one Flight SQL server in its own process.

``python3 perfbench/server.py --data DIR [--trace 0|1]`` builds a
``local[<cores>]`` SparkSession, registers the parquet tables under DIR with
``register_sf_tables``, and serves ``FlightSqlServer(Engine(spark))`` with the
default ``FlightSqlServiceConfig`` on an ephemeral loopback port. It prints
one JSON line ``{"port": N, "phases": {...}}`` once bound (``phases`` times
the session build, table registration and bind), then serves until killed.

The package is used as-is. With ``--trace 1`` the launcher wraps the
package's public layer functions (see ``perfbench/tracing.py``) to record
per-request spans and to tag each request's Spark jobs with a job group;
with ``--trace 0`` nothing is wrapped.

With ``--trace 1`` the benchmark-only DoAction ``perfbench.spans`` returns a
JSON dump of the per-request layer times and Spark counters.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_HERE)
for _p in (_ROOT, _HERE):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import pyarrow.flight as fl  # noqa: E402

from datafusion_flight_sql_server_spark.engine.core import Engine  # noqa: E402
from datafusion_flight_sql_server_spark.engine.registry import (  # noqa: E402
    register_sf_tables,
)
from datafusion_flight_sql_server_spark.engine.session import build_session  # noqa: E402
from datafusion_flight_sql_server_spark.server import (  # noqa: E402
    FlightSqlServer,
    FlightSqlServiceConfig,
)

import datagen  # noqa: E402


class BenchServer(FlightSqlServer):
    """``FlightSqlServer`` plus the ``perfbench.spans`` read-out action."""

    def __init__(self, *args, tracer=None, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer

    def do_action(self, context, action):
        if action.type == "perfbench.spans" and self.tracer is not None:
            return iter([fl.Result(json.dumps(self.tracer.dump()).encode())])
        return super().do_action(context, action)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data", required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    register_sf_tables(spark, args.data, datagen.TABLES)
    t2 = time.perf_counter()
    tracer, middleware = None, {}
    if args.trace:
        import tracing

        tracer = tracing.install(spark)
        middleware = {tracing.MIDDLEWARE_KEY: tracing.RequestIdMiddlewareFactory()}
    server = BenchServer(
        Engine(spark),
        location="grpc://127.0.0.1:0",
        config=FlightSqlServiceConfig(),
        middleware=middleware,
        tracer=tracer,
    )
    phases = {"session_s": t1 - t0, "register_s": t2 - t1,
              "bind_s": time.perf_counter() - t2}
    print(json.dumps({"port": server.port, "phases": phases}), flush=True)
    server.serve()
    return 0


if __name__ == "__main__":
    sys.exit(main())
