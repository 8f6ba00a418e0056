"""Self-tests of the serving benchmark: ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import os
import random
import re
import sys
from decimal import Decimal

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for _p in (ROOT, BENCH):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import datagen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SEEDS = (1, 2, 3)


def _ops(workload, seed, cycles=2):
    return [workloads.client_ops(mix, seed, i, cycles)
            for i, mix in enumerate(workloads.CLIENTS[workload])]


# -- generator ------------------------------------------------------------------


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_same_seed_same_requests(workload):
    assert _ops(workload, 7) == _ops(workload, 7)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_other_seed_other_requests(workload):
    assert _ops(workload, 7) != _ops(workload, 8)


def test_interactive_repeats_about_half_of_its_statements():
    ops = workloads.client_ops("interactive", 5, 0, 8)
    warm = workloads.client_ops("interactive", 5, 0, 1, warmup=True)
    assert 0.35 <= workloads.repeat_share(ops, warm) <= 0.75


def test_analytic_statements_never_repeat():
    ops = workloads.client_ops("analytic", 5, 0, 3)
    assert workloads.repeat_share(ops) == 0.0


@pytest.mark.parametrize("mix", ["analytic", "bulk_scan"])
def test_warmup_never_sends_a_measured_statement(mix):
    ops = workloads.client_ops(mix, 5, 0, 2)
    assert workloads.repeat_share(ops) == 0.0
    warm = workloads.client_ops(mix, 5, 0, 1, warmup=True, avoid={op.sql for op in ops})
    assert not {op.sql for op in warm} & {op.sql for op in ops}


def test_bulk_cycle_keeps_the_template_order():
    ops = workloads.client_ops("bulk_scan", 5, 0, 2)
    assert [op.label for op in ops] == list(workloads.CYCLES["bulk_scan"]) * 2
    assert all(op.bulk for op in ops)


def test_prepared_op_inlines_parameters_for_the_oracle():
    op = workloads.Op("prepared", "p", "SELECT * FROM t WHERE a = $1 AND b = $2",
                      (3, "x'y"))
    assert op.oracle_sql() == "SELECT * FROM t WHERE a = 3 AND b = 'x''y'"


def test_runs_measure_whole_cycles():
    assert run.cycles("interactive", 13, 0) == 3
    assert run.cycles("bulk_scan", 13, 0) == 1
    assert run.cycles("bulk_scan", 17, 0) == 2
    assert run.cycles("bulk_scan", 1, 1) == 2  # traced runs need two


# -- metric names ------------------------------------------------------------------


def test_metric_names_and_units_are_well_formed():
    tables = (run.END_TO_END, run.PER_LAYER, run.PER_LAYER_EXTRA)
    names = [n for t in tables for n in t]
    assert len(names) == len(set(names))
    for table in tables:
        for name, unit in table.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), unit


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


# -- self time ------------------------------------------------------------------------


def test_union_counts_overlaps_once():
    assert tracing.union_ms([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == pytest.approx(3000.0)
    assert tracing.union_ms([]) == 0.0


def test_self_time_subtracts_child_coverage():
    # 10 s span, children cover [1,3] and [2,5] (4 s together) and [9,12]
    # (1 s inside the span)
    children = [(1.0, 3.0), (2.0, 5.0), (9.0, 12.0)]
    assert tracing.self_ms(0.0, 10.0, children) == pytest.approx(5000.0)
    assert tracing.self_ms(0.0, 10.0, []) == pytest.approx(10000.0)
    assert tracing.self_ms(0.0, 1.0, [(0.0, 1.0)]) == pytest.approx(0.0)


# -- clean-up -------------------------------------------------------------------------

# a child that starts a grandchild in a session of its own (as Spark's Python
# worker daemon leaves its JVM's process group) and exits, orphaning it;
# kill_descendants must still end the grandchild
_ORPHAN = """
import subprocess, sys
sys.path.insert(0, sys.argv[1])
import proctree
proctree.become_subreaper()
child = subprocess.Popen([sys.executable, "-c",
    "import subprocess, sys; p = subprocess.Popen(['sleep', '60'], "
    "start_new_session=True); print(p.pid, flush=True)"],
    stdout=subprocess.PIPE)
orphan = int(child.stdout.readline())
child.wait()
assert proctree._running(orphan)
proctree.kill_descendants()
print(proctree._stat(orphan) is None)
"""


def test_kill_descendants_ends_orphans_in_other_sessions():
    import subprocess

    out = subprocess.run([sys.executable, "-c", _ORPHAN, BENCH], capture_output=True,
                         text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["True"]


# -- digests --------------------------------------------------------------------------


def test_digest_ignores_row_order_but_not_values():
    t = pa.table({"k": [1, 2, 3], "v": [0.5, 1.25, None], "s": ["a", "b", "c"]})
    shuffled = t.take([2, 0, 1])
    assert oracle.digest(t) == oracle.digest(shuffled)
    changed = t.set_column(1, "v", pa.array([0.5, 1.5, None]))
    assert oracle.digest(t) != oracle.digest(changed)


def test_digest_normalises_engine_types():
    spark_side = pa.table({
        "n": pa.array([1], pa.int32()),
        "d": pa.array([Decimal("1.50")], pa.decimal128(25, 2)),
        "ts": pa.array([86_400_000_000], pa.timestamp("us", tz="UTC")),
    })
    duck_side = pa.table({
        "n": pa.array([1], pa.int64()),
        "d": pa.array([Decimal("1.5000")], pa.decimal128(38, 4)),
        "ts": pa.array([86_400_000_000], pa.timestamp("us")),
    })
    assert oracle.digest(spark_side) == oracle.digest(duck_side)


def test_data_is_a_function_of_the_data_seed():
    a, b = datagen.generate(), datagen.generate()
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert a["lineitem"].num_rows == datagen.ROWS["lineitem"]


# -- both engines parse every template ---------------------------------------------------


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    return datagen.ensure(str(tmp_path_factory.mktemp("sf")))


def _all_sql_ops():
    ops = []
    for seed in SEEDS:
        for workload in workloads.WORKLOADS:
            for client in _ops(workload, seed, cycles=1):
                ops.extend(op for op in client if op.sql)
    random.Random(0).shuffle(ops)
    return ops


def test_every_template_binds_in_duckdb(data_dir):
    orc = oracle.Oracle(data_dir)
    for op in _all_sql_ops():
        orc.con.execute("EXPLAIN " + op.oracle_sql())


def test_every_template_analyzes_in_spark(data_dir):
    from datafusion_flight_sql_server_spark.engine.core import Engine
    from datafusion_flight_sql_server_spark.engine.registry import register_sf_tables
    from datafusion_flight_sql_server_spark.engine.session import build_session
    from datafusion_flight_sql_server_spark.plans.dialect import (
        rewrite_information_schema,
        rewrite_sql,
    )

    spark = build_session(app_name="perfbench-tests", master="local[1]")
    try:
        register_sf_tables(spark, data_dir, datagen.TABLES)
        engine = Engine(spark)
        for op in _all_sql_ops():
            # what the server does: dialect shim, information_schema
            # virtualisation, gate, bind, analyze (no job runs)
            sql = rewrite_sql(op.oracle_sql(), "auto")
            if "information_schema" in sql:
                sql = rewrite_information_schema(sql, engine.info_schema_rows)
            engine.sql_to_plan(sql).schema
    finally:
        spark.stop()
