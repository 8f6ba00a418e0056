"""Flight SQL serving benchmark: closed-loop clients over loopback gRPC.

Usage::

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 13 --trace 0

Workloads: ``interactive`` and ``bulk_scan`` (the two in BENCHMARK.json),
``analytic`` and ``mixed`` (see ``workloads.py``).

Run from the repository root. The command generates the sf0.1 tables once
(``datagen.py``, cached under ``.perfbench/``), computes every request's
expected result with DuckDB, starts the Flight SQL server in a subprocess
(``server.py``), warms it up, drives it with the workload's clients for
``--seconds`` (as whole request cycles, see ``cycles``), checks every
response against DuckDB, and prints a report followed by one JSON line:

- ``--trace 0``: the end-to-end metrics (``END_TO_END``).
- ``--trace 1``: the per-layer metrics (``PER_LAYER``) from a server whose
  layers record spans (``tracing.py``). Traced and untraced requests
  alternate, and ``trace.overhead_ms`` is the median over templates of the
  traced minus the untraced median latency.

The full result, host-noise telemetry included, is written to
``.perfbench/runs/``. A wrong result counts as a failed op and makes the
command exit 1.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
for _p in (ROOT, HERE):
    if _p not in sys.path:
        sys.path.insert(0, _p)

#: end-to-end metrics reported with ``--trace 0``: name -> unit. An op's
#: latency runs from its first RPC to its last batch; p50/p90 are over the
#: interactive clients' ops when a workload has any, else over all ops.
#: first_batch_p50_ms and scan_mb_s are over bulk ops when a workload has
#: any, else over all ops. throughput_rps sums each client's completed ops
#: per second of its own op time (result checks excluded).
#: server_cpu_ms_per_req is the server process tree's user+sys CPU (JVM and
#: Python workers) over the measured window, per completed op.
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "first_batch_p50_ms": "ms",
    "throughput_rps": "1/s",
    "scan_mb_s": "MB/s",
    "server_cpu_ms_per_req": "ms",
    "server_peak_rss_mb": "MB",
}
#: per-layer metrics reported with ``--trace 1``: name -> unit
PER_LAYER = {
    "client.get_flight_info_ms": "ms",
    "server.get_flight_info.self_ms": "ms",
    "server.do_get.self_ms": "ms",
    "plans.dialect.rewrite_ms": "ms",
    "plans.gate.verify_ms": "ms",
    "plans.gate.calls_per_req": "count",
    "plans.params.bind_ms": "ms",
    "plans.schema.arrow_schema_ms": "ms",
    "plans.schema.calls_per_req": "count",
    "engine.sql_to_plan_ms": "ms",
    "engine.sql_to_plan.calls_per_req": "count",
    "engine.plan_cache.hit_ratio": "ratio",
    "engine.execute_stream.first_batch_ms": "ms",
    "engine.execute_stream.self_ms": "ms",
    "engine.execute_stream.mb_s": "MB/s",
    "engine.execute_stream.batches_per_req": "count",
    "spark.jobs_per_req": "count",
    "spark.stages_per_req": "count",
    "spark.tasks_per_req": "count",
    "spark.job_ms": "ms",
    "spark.executor_cpu_ms_per_req": "ms",
    "spark.shuffle_read_mb_per_req": "MB",
    "spark.shuffle_write_mb_per_req": "MB",
    "spark.result_mb_per_req": "MB",
    "spark.sched_wait_ms_per_req": "ms",
    "spark.counts_stable": "ratio",
    "transport.wait_ms": "ms",
    "trace.overhead_ms": "ms",
    "setup.session_s": "s",
    "setup.register_s": "s",
    "setup.first_rpc_s": "s",
}
#: printed but not in the contract: layers only the interactive mix reaches,
#: and executor GC time, which often reads 0 on the small requests
PER_LAYER_EXTRA = {
    "server.do_action.self_ms": "ms",
    "server.do_put.self_ms": "ms",
    "plans.schema.parameter_schema_ms": "ms",
    "engine.info_schema_rows_ms": "ms",
    "engine.get_tables_ms": "ms",
    "spark.gc_ms_per_req": "ms",
}
#: a cycle's typical duration on a 4-core host: a run measures
#: ceil(seconds / this) whole cycles per client, so every run of a workload
#: sends the same request mix whatever the host's speed that minute
NOMINAL_CYCLE_S = {"interactive": 5.0, "analytic": 12.0, "bulk_scan": 16.0}
#: interactive warm-up cycles, and the client threads that share them
WARMUP_CYCLES = 3
WARMUP_THREADS = 4
P90_MIN_SAMPLES = 100
SERVER_START_TIMEOUT_S = 150
SERVER_MEMORY = "3g"


def _median(values):
    return statistics.median(values) if values else None


def _quantile(values, q):
    if not values:
        return None
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


# -- server process -------------------------------------------------------------


class Server:
    """A ``server.py`` subprocess in its own process group."""

    def __init__(self, data_dir: str, trace: int, log_path: str):
        env = dict(os.environ)
        local = os.path.join(WORK, "spark-local")
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        env.update(SPARK_LOCAL_DIRS=local, TMPDIR=tmp,
                   SPARK_DRIVER_MEMORY=SERVER_MEMORY, PYTHONUNBUFFERED="1")
        env.pop("SPARK_GRAFT_MASTER", None)
        self._log = open(log_path, "w")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), "--data", data_dir,
             "--trace", str(trace)],
            stdout=subprocess.PIPE, stderr=self._log, cwd=ROOT, env=env,
            start_new_session=True,
        )
        self.rss = None
        try:
            import proctree

            self.rss = proctree.PeakRss(self.proc.pid)
            ready, _, _ = select.select([self.proc.stdout], [], [], SERVER_START_TIMEOUT_S)
            line = self.proc.stdout.readline() if ready else b""
            if not line:
                raise RuntimeError(f"server did not start; see {log_path}")
            hello = json.loads(line)
        except BaseException:
            self.stop()
            raise
        self.port = hello["port"]
        self.phases = hello["phases"]
        self.bound_s = time.perf_counter() - self.t0

    def stop(self) -> None:
        import proctree

        # SIGKILL: a graceful Spark stop takes seconds and nothing of the
        # server's state is needed afterwards (run() wipes its scratch dirs).
        # Spark's Python worker daemons run in process groups of their own,
        # so the whole tree is killed, not only the server's group.
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        proctree.kill_descendants()
        if self.rss is not None:
            self.rss.stop()
        self.proc.stdout.close()
        self._log.close()


def start_server(data_dir, trace, tag):
    """Start a server and time it to its first successful RPC, a GetSqlInfo
    round trip (answered without a Spark job, so the first query's cold
    start stays in the warm-up, not in setup_s).

    A run starts one server, so setup_s has one sample per run and its
    median is taken across runs: a start costs ~14 s on a 4-core host, and
    a second start per run would put the 4 + 22 x 2 runs of a benchmark
    check near its 3420 s budget."""
    from flightops import Client
    from workloads import Op

    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    server = Server(data_dir, trace, os.path.join(WORK, "logs", f"server-{tag}.log"))
    try:
        client = Client(server.port)
        client.run(Op("get_sql_info", "get_sql_info"))
        client.close()
    except BaseException:
        server.stop()
        raise
    server.setup_s = time.perf_counter() - server.t0
    return server


# -- client loop -----------------------------------------------------------------


@dataclasses.dataclass
class Record:
    """One measured op; the timing fields stay None when it raised."""

    client: int
    op: object
    interactive: bool
    traced: bool
    rid: str | None
    ok: bool = False
    error: str | None = None
    total_ms: float | None = None
    first_batch_ms: float | None = None
    gfi_ms: float | None = None
    nbytes: int | None = None
    batches: int | None = None

    @property
    def label(self) -> str:
        return self.op.label

    @property
    def bulk(self) -> bool:
        return self.op.bulk


def cycles(mix: str, seconds: float, trace: int) -> int:
    """Whole cycles a client of ``mix`` measures; a traced run needs two, so
    that every op kind is seen both traced and untraced."""
    return max(2 if trace else 1, math.ceil(seconds / NOMINAL_CYCLE_S[mix]))


def drive(port, clients, mixes, expected, seconds, trace, tag, once=False):
    """Run every client's ops in its own thread for ``cycles()`` whole
    cycles; in ``mixed`` the other clients go on cycling until the bulk
    client is done. With ``once``: each op once.

    With ``trace``, every other op carries a request id (so the server
    traces it), the parity flipping each cycle. Returns (records, wall
    seconds)."""
    import duckdb

    import oracle
    from flightops import Client
    from workloads import CYCLES as OP_CYCLES

    records: list[Record] = []
    lock = threading.Lock()
    # in ``mixed`` the interactive clients keep going while a bulk client runs
    bulk_running = {ci for ci, mix in enumerate(mixes) if mix == "bulk_scan"}
    start = time.perf_counter()

    def worker(ci: int, ops):
        client = Client(port)
        con = duckdb.connect()
        con.execute("SET threads = 2")
        cycle = len(OP_CYCLES[mixes[ci]])
        todo = cycles(mixes[ci], seconds, trace)
        i = 0
        try:
            while True:
                if once and i == len(ops):
                    break
                done = i // cycle
                if not once and i % cycle == 0 and done >= todo:
                    with lock:
                        others_running = bool(bulk_running - {ci})
                    if not others_running:
                        break
                op = ops[i % len(ops)]
                traced = bool(trace) and (i % cycle + done) % 2 == 0
                rid = f"{tag}-{ci}-{i}" if traced else None
                rec = Record(client=ci, op=op, interactive=mixes[ci] == "interactive",
                             traced=traced, rid=rid)
                try:
                    res = client.run(op, rid)
                    got = oracle.digest(oracle.schema_names(res.table), con)
                    rec.ok = got == expected[(op.kind, op.oracle_sql(), op.options)]
                    if not rec.ok:
                        rec.error = f"result mismatch: got {got[:2]}"
                    rec.total_ms, rec.first_batch_ms = res.total_ms, res.first_batch_ms
                    rec.gfi_ms, rec.nbytes, rec.batches = (
                        res.get_flight_info_ms, res.nbytes, res.batches)
                except Exception as exc:  # noqa: BLE001 - a failed op is data
                    rec.error = f"{type(exc).__name__}: {exc}"[:300]
                with lock:
                    records.append(rec)
                i += 1
        finally:
            with lock:
                bulk_running.discard(ci)
            client.close()
            con.close()

    threads = [threading.Thread(target=worker, args=(ci, ops), daemon=True)
               for ci, ops in enumerate(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, time.perf_counter() - start


def end_to_end(records, cpu_s, peak_rss_mb, setup_s):
    ok = [r for r in records if r.ok]
    lat_pool = [r for r in ok if r.interactive] or ok
    bulk = [r for r in ok if r.bulk] or ok
    lat = [r.total_ms for r in lat_pool]
    busy = defaultdict(float)
    done = defaultdict(int)
    for r in ok:
        busy[r.client] += r.total_ms / 1000.0
        done[r.client] += 1
    bulk_s = sum(r.total_ms for r in bulk) / 1000.0
    metrics = {
        "setup_s": (setup_s, 1),
        "latency_p50_ms": (_median(lat), len(lat)),
        "latency_p90_ms": (
            _quantile(lat, 0.9) if len(lat) >= P90_MIN_SAMPLES else None, len(lat)),
        "first_batch_p50_ms": (_median([r.first_batch_ms for r in bulk]), len(bulk)),
        "throughput_rps": (sum(done[c] / busy[c] for c in busy if busy[c]), len(ok)),
        "scan_mb_s": (sum(r.nbytes for r in bulk) / 1e6 / bulk_s if bulk_s else None,
                      len(bulk)),
        "server_cpu_ms_per_req": (cpu_s * 1000.0 / len(ok) if ok else None, len(ok)),
        "server_peak_rss_mb": (peak_rss_mb, 1),
        "failed_ops_frac": (
            (len(records) - len(ok)) / len(records) if records else None, len(records)),
    }
    return metrics


def per_layer(records, dump, server):
    traced = [r for r in records if r.ok and r.traced and r.rid in dump]
    plain = [r for r in records if r.ok and not r.traced]
    n = len(traced)
    reqs = [dump[r.rid] for r in traced]

    def self_median(layer):
        vals = [q["self_ms"][layer] for q in reqs if layer in q["self_ms"]]
        return (_median(vals), len(vals))

    def calls_mean(layer):
        return (sum(q["calls"].get(layer, 0) for q in reqs) / n if n else None, n)

    def spark_mean(key, scale=1.0):
        return (sum(q["spark"][key] for q in reqs) * scale / n if n else None, n)

    streams = [q for q in reqs if q.get("stream_batches")]
    stream_ms = sum(q.get("stream_wall_ms", 0.0) for q in streams)
    gate_calls = sum(q["calls"].get("plans.gate.verify", 0) for q in reqs)
    plan_calls = sum(q["calls"].get("engine.sql_to_plan", 0) for q in reqs)
    by_label = defaultdict(set)
    for r in traced:
        s = dump[r.rid]["spark"]
        by_label[r.label].add((s["jobs"], s["stages"], s["tasks"]))
    traced_p50 = _median([r.total_ms for r in traced])
    plain_p50 = _median([r.total_ms for r in plain])
    # paired by template: both halves see every template, with other params
    overhead = _median([
        _median([r.total_ms for r in traced if r.label == label])
        - _median([r.total_ms for r in plain if r.label == label])
        for label in {r.label for r in traced} & {r.label for r in plain}
    ])
    m = {
        "client.get_flight_info_ms": (_median([r.gfi_ms for r in traced]), n),
        "server.get_flight_info.self_ms": self_median("server.get_flight_info"),
        "server.do_get.self_ms": self_median("server.do_get"),
        "server.do_action.self_ms": self_median("server.do_action"),
        "server.do_put.self_ms": self_median("server.do_put"),
        "plans.dialect.rewrite_ms": self_median("plans.dialect.rewrite"),
        "plans.gate.verify_ms": self_median("plans.gate.verify"),
        "plans.gate.calls_per_req": calls_mean("plans.gate.verify"),
        "plans.params.bind_ms": self_median("plans.params.bind"),
        "plans.schema.arrow_schema_ms": self_median("plans.schema.arrow_schema"),
        "plans.schema.calls_per_req": calls_mean("plans.schema.arrow_schema"),
        "plans.schema.parameter_schema_ms": self_median("plans.schema.parameter_schema"),
        "engine.sql_to_plan_ms": self_median("engine.sql_to_plan"),
        "engine.sql_to_plan.calls_per_req": calls_mean("engine.sql_to_plan"),
        "engine.plan_cache.hit_ratio": (
            1.0 - gate_calls / plan_calls if plan_calls else None, plan_calls),
        "engine.info_schema_rows_ms": self_median("engine.info_schema_rows"),
        "engine.get_tables_ms": self_median("engine.get_tables"),
        "engine.execute_stream.first_batch_ms": (
            _median([q["first_batch_ms"] for q in streams if "first_batch_ms" in q]),
            len(streams)),
        "engine.execute_stream.self_ms": self_median("engine.execute_stream"),
        "engine.execute_stream.mb_s": (
            sum(q["stream_bytes"] for q in streams) / 1e6 / (stream_ms / 1000.0)
            if stream_ms else None, len(streams)),
        "engine.execute_stream.batches_per_req": (
            sum(q["stream_batches"] for q in streams) / len(streams) if streams else None,
            len(streams)),
        "spark.jobs_per_req": spark_mean("jobs"),
        "spark.stages_per_req": spark_mean("stages"),
        "spark.tasks_per_req": spark_mean("tasks"),
        "spark.job_ms": spark_mean("job_ms"),
        "spark.executor_cpu_ms_per_req": spark_mean("executor_cpu_ms"),
        "spark.shuffle_read_mb_per_req": spark_mean("shuffle_read_bytes", 1e-6),
        "spark.shuffle_write_mb_per_req": spark_mean("shuffle_write_bytes", 1e-6),
        "spark.result_mb_per_req": spark_mean("result_bytes", 1e-6),
        "spark.gc_ms_per_req": spark_mean("gc_ms"),
        "spark.sched_wait_ms_per_req": spark_mean("sched_wait_ms"),
        "spark.counts_stable": (
            sum(len(v) == 1 for v in by_label.values()) / len(by_label)
            if by_label else None, len(by_label)),
        "transport.wait_ms": (
            _median([r.total_ms - dump[r.rid]["covered_ms"] for r in traced]), n),
        "trace.overhead_ms": (overhead, len(plain)),
        "setup.session_s": (server.phases["session_s"], 1),
        "setup.register_s": (server.phases["register_s"], 1),
        "setup.first_rpc_s": (server.setup_s - server.bound_s, 1),
    }
    counts = {
        "plan_cache_base": {"gate_calls": gate_calls, "sql_to_plan_calls": plan_calls},
        "spark_counts_by_label": {k: sorted(v) for k, v in by_label.items()},
        "latency_p50_ms": {"traced": traced_p50, "untraced": plain_p50},
    }
    return m, counts


# -- main ------------------------------------------------------------------------------


def _telemetry():
    import bench

    return {"steal_jiffies": bench._steal_jiffies(), "loadavg": bench._loadavg()}


def _noise(before, after):
    steal = None
    if before["steal_jiffies"] is not None and after["steal_jiffies"] is not None:
        steal = (after["steal_jiffies"] - before["steal_jiffies"]) / os.sysconf(
            "SC_CLK_TCK")
    return {"steal_s": steal,
            "loadavg_1m_start": (before["loadavg"] or [None])[0],
            "loadavg_1m_end": (after["loadavg"] or [None])[0]}


def run(args) -> dict:
    import datagen
    import oracle
    import proctree
    import workloads

    before = _telemetry()
    for scratch in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(WORK, scratch), ignore_errors=True)
    timings = {}
    t = time.perf_counter()
    data_dir = datagen.ensure(os.path.join(WORK, "data", f"sf0.1-v{datagen.VERSION}"))
    mixes = workloads.CLIENTS[args.workload]
    # in ``mixed`` the interactive clients may outlast their cycles and
    # start their list over
    clients = [workloads.client_ops(mix, args.seed, i, cycles(mix, args.seconds, args.trace))
               for i, mix in enumerate(mixes)]
    sent = {op.sql for ops in clients for op in ops}
    # warm-up (JIT, code generation, Python workers), run concurrently to
    # keep it short: WARMUP_CYCLES interactive cycles (statements from the
    # repeat pool) over WARMUP_THREADS clients; for the other mixes one
    # client per op of a cycle whose statements the run does not send
    warm_mixes, warm = [], []
    for i, mix in enumerate(mixes):
        if mix == "interactive":
            ops = workloads.client_ops(mix, args.seed, i, WARMUP_CYCLES, warmup=True)
            parts = [ops[k::WARMUP_THREADS] for k in range(WARMUP_THREADS)]
        else:
            ops = workloads.client_ops(mix, args.seed, i, 1, warmup=True, avoid=sent)
            parts = [[op] for op in ops]
        warm_mixes += [mix] * len(parts)
        warm += parts
    timings["data_s"] = time.perf_counter() - t
    t = time.perf_counter()
    orc = oracle.Oracle(data_dir)
    expected = {}
    for ops in clients + warm:
        for op in ops:
            expected[(op.kind, op.oracle_sql(), op.options)] = orc.expected(op)
    orc.con.close()
    timings["oracle_s"] = time.perf_counter() - t
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"

    server = start_server(data_dir, args.trace, tag)
    try:
        t = time.perf_counter()
        warm_records, _ = drive(server.port, warm, warm_mixes, expected, 0.0, 0,
                                "warm", once=True)
        timings["warmup_s"] = time.perf_counter() - t
        cpu0 = proctree.cpu_seconds(server.proc.pid)
        records, wall_s = drive(server.port, clients, mixes, expected, args.seconds,
                                args.trace, tag)
        cpu_s = proctree.cpu_seconds(server.proc.pid) - cpu0
        dump = {}
        if args.trace:
            from flightops import Client

            c = Client(server.port)
            dump = json.loads(c.action("perfbench.spans")[0])
            c.close()
    finally:
        server.stop()
    peak = server.rss.peak_mb
    after = _telemetry()

    e2e = end_to_end(records, cpu_s, peak, server.setup_s)
    layers, counts = per_layer(records, dump, server) if args.trace else ({}, {})
    failed = [r for r in records if not r.ok]
    # a wrong warm-up answer fails the run too, though it is not measured
    failed_warm = [r for r in warm_records if not r.ok]
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "clients": list(mixes), "wall_s": wall_s, "timings": timings,
        "setup_s": server.setup_s, "setup_phases": server.phases,
        "attempted": len(records), "failed": len(failed),
        "failed_warmup": len(failed_warm),
        "errors": sorted({r.error for r in failed + failed_warm})[:10],
        "repeat_share": workloads.repeat_share(
            [r.op for r in records], [op for ops in warm for op in ops]),
        "end_to_end": e2e, "per_layer": layers, "counts": counts,
        "ops_by_label": _by_label(records), "noise": _noise(before, after),
        "ops": [(r.client, r.label, r.total_ms, r.nbytes, r.ok) for r in records],
        "warmup_ops": [(r.client, r.label, r.total_ms, r.ok) for r in warm_records],
    }


def _by_label(records):
    out = {}
    for label in sorted({r.label for r in records}):
        rs = [r for r in records if r.label == label and r.ok]
        out[label] = {"n": len(rs), "p50_ms": _median([r.total_ms for r in rs]),
                      "mb": sum(r.nbytes for r in rs) / 1e6 / len(rs) if rs else None}
    return out


def report(result) -> dict:
    """Print the human-readable report; return the contract metrics."""
    trace = result["trace"]
    table = result["per_layer"] if trace else result["end_to_end"]
    units = dict(PER_LAYER, **PER_LAYER_EXTRA) if trace else dict(
        END_TO_END, latency_p90_ms="ms", failed_ops_frac="ratio")
    print(f"workload={result['workload']} seed={result['seed']} trace={trace} "
          f"clients={','.join(result['clients'])} attempted={result['attempted']} "
          f"failed={result['failed']} repeat_share={result['repeat_share']:.3f}")
    for name, unit in units.items():
        value, n = table.get(name, (None, 0))
        shown = "n/a" if value is None else f"{value:.4f}"
        print(f"  {name:40s} {shown:>14s} {unit:6s} n={n}")
    print(f"  noise: {json.dumps(result['noise'])}")
    for err in result["errors"]:
        print(f"  error: {err}")
    wanted = PER_LAYER if trace else END_TO_END
    metrics = {}
    for name, unit in wanted.items():
        value = table.get(name, (None, 0))[0]
        metrics[name] = {"value": float(value) if value is not None else None,
                         "unit": unit}
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Flight SQL serving benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args(argv)
    import proctree

    # every process the run starts ends before it exits, on every path out
    proctree.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _main(ap, args)
    finally:
        proctree.kill_descendants()


def _main(ap, args) -> int:
    # Flight buffers are not 64-byte aligned; DuckDB's Arrow scan would warn
    # on every digest otherwise
    os.environ.setdefault("ACERO_ALIGNMENT_HANDLING", "ignore")
    try:
        import bench  # noqa: F401 - host-noise telemetry helpers
        import datafusion_flight_sql_server_spark.server  # noqa: F401
        import workloads
    except ImportError as exc:
        print(f"perfbench: run from the repository root ({exc})", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(workloads.WORKLOADS)}")

    result = run(args)
    metrics = report(result)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    out = os.path.join(WORK, "runs", f"{result['workload']}-seed{args.seed}"
                       f"-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=1, default=str)
    complete = all(m["value"] is not None for m in metrics.values())
    correct = (result["failed"] == result["failed_warmup"] == 0
               and result["attempted"] > 0 and complete)
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
