"""Per-request layer spans for the benchmark server (``--trace 1``).

``install(spark)`` wraps the package's public layer functions in place (the
package source is not edited) and returns the ``Tracer`` that records their
spans. Each Flight call carries a request id in the ``x-perfbench-req``
header; the handler wrappers read it through ``RequestIdMiddleware``, keep it
in a thread-local, and tag the Spark jobs the call submits with that id as
their job group. Spans stay in memory until ``Tracer.dump()``, which also
reads each request's Spark jobs back from the status store.

Layer (span) names follow the package modules:

=============================  ==============================================
``server.<rpc>``               ``FlightSqlServer.get_flight_info`` / ``do_get``
                               / ``do_put`` / ``do_action`` (an action's
                               result iteration included)
``plans.dialect.rewrite``      ``rewrite_sql`` and ``rewrite_information_schema``
``plans.gate.verify``          ``SQLOptions.verify``
``plans.params.bind``          ``bind_sql``
``plans.schema.arrow_schema``  ``arrow_schema_for_df``
``plans.schema.parameter_schema``  ``parameter_schema_for_sql``
``engine.sql_to_plan``         ``Engine.sql_to_plan``
``engine.info_schema_rows``    ``Engine.info_schema_rows``
``engine.get_tables``          ``Engine.get_tables``
``engine.execute_stream``      every ``next()`` on ``Engine.execute_stream``
=============================  ==============================================
"""

from __future__ import annotations

import functools
import threading
import time

import pyarrow.flight as fl

MIDDLEWARE_KEY = "perfbench"
HEADER = "x-perfbench-req"


class RequestIdMiddleware(fl.ServerMiddleware):
    def __init__(self, request_id: str | None):
        self.request_id = request_id


class RequestIdMiddlewareFactory(fl.ServerMiddlewareFactory):
    def start_call(self, info, headers):
        values = headers.get(HEADER) or []
        return RequestIdMiddleware(values[0] if values else None)


def union_ms(intervals) -> float:
    """Length of the union of ``(t0, t1)`` intervals, in ms."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total * 1000.0


def self_ms(t0: float, t1: float, children) -> float:
    """A span's self time: its duration minus the part of it its children
    cover (children clipped to the span; overlapping children count once)."""
    clipped = [(max(a, t0), min(b, t1)) for a, b in children]
    return (t1 - t0) * 1000.0 - union_ms([(a, b) for a, b in clipped if b > a])


class Tracer:
    """Span store. A span is ``[request_id, name, t0, t1, parent, first]``;
    ``parent`` indexes the span open on the same thread when it started,
    ``first`` is False on the continuation slices of a generator."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[list] = []
        self.extra: dict[str, dict] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- recording ----------------------------------------------------------

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current_request(self) -> str | None:
        return getattr(self._local, "request_id", None)

    def _open(self, name: str, first: bool = True) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = [self.current_request(), name, time.perf_counter(), None, parent, first]
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][3] = time.perf_counter()
        self._stack().pop()

    def enter_request(self, request_id: str | None):
        """Bind the calling thread to ``request_id`` and tag its Spark jobs;
        returns the previous binding for ``exit_request``."""
        prev = self.current_request()
        self._local.request_id = request_id
        if request_id is not None:
            self.spark.sparkContext.setJobGroup(request_id, request_id)
        return prev

    def exit_request(self, prev) -> None:
        self._local.request_id = prev
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", prev)

    def note(self, request_id: str, **values) -> None:
        with self._lock:
            entry = self.extra.setdefault(request_id, {})
            for k, v in values.items():
                entry[k] = entry.get(k, 0) + v

    # -- wrappers -----------------------------------------------------------

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.current_request() is None:
                return fn(*args, **kwargs)
            idx = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)

        return traced

    def wrap_handler(self, fn, name: str, iterate: bool = False):
        """Wrap a Flight RPC handler ``fn(self, context, ...)``. With
        ``iterate`` the returned iterable's ``next()`` calls are traced as
        slices of the same span name under the same request."""

        @functools.wraps(fn)
        def traced(server, context, *args, **kwargs):
            mw = context.get_middleware(MIDDLEWARE_KEY)
            rid = mw.request_id if mw is not None else None
            if rid is None:
                return fn(server, context, *args, **kwargs)
            prev = self.enter_request(rid)
            idx = self._open(name)
            try:
                out = fn(server, context, *args, **kwargs)
            finally:
                self._close(idx)
                self.exit_request(prev)
            # the handler call above was the span's first slice
            return self.slices(out, name, rid, first=False) if iterate else out

        return traced

    def slices(self, iterable, name: str, rid: str, on_item=None, first=True):
        """Re-yield ``iterable``; each ``next()`` is a span slice of ``name``
        bound to request ``rid`` (only the first slice counts as a call);
        ``on_item(item, t_next_done)`` sees each item as it is produced."""
        it = iter(iterable)
        while True:
            prev = self.enter_request(rid)
            idx = self._open(name, first)
            first = False
            try:
                item = next(it)
            except StopIteration:
                return
            finally:
                self._close(idx)
                self.exit_request(prev)
            if on_item is not None:
                on_item(item, self.spans[idx][3])
            yield item

    def wrap_stream(self, fn, name: str):
        """Wrap a generator method whose batches are Arrow RecordBatches:
        slices plus first-batch time, bytes and batch counts per request."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            gen = fn(*args, **kwargs)
            rid = self.current_request()
            if rid is None:
                return gen
            t_start = time.perf_counter()
            batches = 0

            def on_batch(batch, t_done):
                nonlocal batches
                batches += 1
                if batches == 1:
                    self.note(rid, first_batch_ms=(t_done - t_start) * 1000.0)
                self.note(rid, stream_bytes=batch.nbytes, stream_batches=1)

            def run():
                yield from self.slices(gen, name, rid, on_batch)
                self.note(rid, stream_wall_ms=(time.perf_counter() - t_start) * 1000.0)

            return run()

        return traced

    # -- read-out -----------------------------------------------------------

    def dump(self) -> dict:
        """Per request: per-layer self ms and call counts, the ms covered by
        any server span, stream notes, and Spark job counters."""
        with self._lock:
            spans = [list(s) for s in self.spans]
        children: dict[int, list] = {}
        for s in spans:
            if s[4] is not None and s[3] is not None:
                children.setdefault(s[4], []).append((s[2], s[3]))
        out: dict[str, dict] = {}
        for idx, s in enumerate(spans):
            rid, name, t0, t1, parent, first = s
            if rid is None or t1 is None:
                continue
            req = out.setdefault(rid, {"self_ms": {}, "calls": {}, "top": []})
            req["self_ms"][name] = req["self_ms"].get(name, 0.0) + self_ms(
                t0, t1, children.get(idx, [])
            )
            if first:
                req["calls"][name] = req["calls"].get(name, 0) + 1
            if parent is None:
                req["top"].append((t0, t1))
        for rid, req in out.items():
            req["covered_ms"] = union_ms(req.pop("top"))
            req.update(self.extra.get(rid, {}))
            req["spark"] = spark_counters(self.spark, rid)
        return out


def spark_counters(spark, group: str) -> dict:
    """Jobs, stages, tasks, job wall ms, executor CPU/GC, shuffle and result
    bytes, and scheduler wait (stage submit to first task launch) of the
    Spark jobs in job group ``group``, from the application status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    c = {"jobs": 0, "stages": 0, "tasks": 0, "job_ms": 0.0, "executor_cpu_ms": 0.0,
         "gc_ms": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
         "result_bytes": 0, "sched_wait_ms": 0.0}
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        try:
            job = store.job(job_id)
        except Exception:  # noqa: BLE001 - evicted from the store
            continue
        c["jobs"] += 1
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            c["job_ms"] += (
                job.completionTime().get().getTime()
                - job.submissionTime().get().getTime()
            )
        ids = job.stageIds()
        for i in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(i))
            except Exception:  # noqa: BLE001 - skipped or evicted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            c["gc_ms"] += st.jvmGcTime()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["result_bytes"] += st.resultSize()
            sub, launch = st.submissionTime(), st.firstTaskLaunchedTime()
            if sub.isDefined() and launch.isDefined():
                c["sched_wait_ms"] += launch.get().getTime() - sub.get().getTime()
    return c


def install(spark) -> Tracer:
    """Wrap the package's layer functions with spans; returns the tracer."""
    from datafusion_flight_sql_server_spark.engine import core
    from datafusion_flight_sql_server_spark.plans import dialect, gate, params, schema
    from datafusion_flight_sql_server_spark.server import service

    tracer = Tracer(spark)
    srv = service.FlightSqlServer
    for rpc in ("get_flight_info", "do_get", "do_put"):
        setattr(srv, rpc, tracer.wrap_handler(getattr(srv, rpc), f"server.{rpc}"))
    srv.do_action = tracer.wrap_handler(srv.do_action, "server.do_action", iterate=True)

    dialect.rewrite_sql = tracer.wrap(dialect.rewrite_sql, "plans.dialect.rewrite")
    dialect.rewrite_information_schema = tracer.wrap(
        dialect.rewrite_information_schema, "plans.dialect.rewrite"
    )
    gate.SQLOptions.verify = tracer.wrap(gate.SQLOptions.verify, "plans.gate.verify")
    traced_bind = tracer.wrap(params.bind_sql, "plans.params.bind")
    params.bind_sql = core.bind_sql = traced_bind
    traced_schema = tracer.wrap(schema.arrow_schema_for_df, "plans.schema.arrow_schema")
    schema.arrow_schema_for_df = service.arrow_schema_for_df = traced_schema
    traced_params = tracer.wrap(
        schema.parameter_schema_for_sql, "plans.schema.parameter_schema"
    )
    schema.parameter_schema_for_sql = service.parameter_schema_for_sql = traced_params

    eng = core.Engine
    for method in ("sql_to_plan", "info_schema_rows", "get_tables"):
        setattr(eng, method, tracer.wrap(getattr(eng, method), f"engine.{method}"))
    eng.execute_stream = tracer.wrap_stream(eng.execute_stream, "engine.execute_stream")
    return tracer
