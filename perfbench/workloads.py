"""Seeded request streams for the serving benchmark.

Every request is an ``Op``. The SQL templates below are written so that both
Spark (through the Flight SQL server) and DuckDB (the oracle, over the same
parquet) parse them and return the same rows: sums go through
``DECIMAL(15,2)`` so they are exact in both engines, dates are compared as
``TIMESTAMP`` literals and returned as ``DATE``, and every ``ORDER BY ...
LIMIT`` has a unique tie-break.

A workload is a list of clients; each client cycles through a fixed list of
op kinds (``CYCLES``), and the seed picks the keys, dates and projections.
The same ``(workload, seed)`` always yields the same sequence.
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass, field

import datagen

#: Op kinds answered by a metadata RPC rather than a SQL statement.
METADATA_KINDS = ("get_tables", "get_catalogs", "get_db_schemas", "get_sql_info")


@dataclass(frozen=True)
class Op:
    kind: str  # "statement" | "prepared" | one of METADATA_KINDS
    label: str  # template name, for per-template statistics
    sql: str = ""
    params: tuple = ()  # prepared only: values bound to $1, $2, ...
    bulk: bool = False
    options: tuple = field(default_factory=tuple)  # metadata RPC arguments

    def oracle_sql(self) -> str:
        """The statement with its parameters inlined (the oracle's text)."""
        sql = self.sql
        for i in range(len(self.params), 0, -1):
            sql = sql.replace(f"${i}", _literal(self.params[i - 1]))
        return sql


def _literal(value) -> str:
    if isinstance(value, str):
        return "'" + value.replace("'", "''") + "'"
    return repr(value)


def _day(offset: int) -> str:
    return (_dt.date(1995, 1, 1) + _dt.timedelta(days=offset)).isoformat()


def _ts(day: str) -> str:
    return f"TIMESTAMP '{day} 00:00:00'"


def _months_later(day: str, months: int) -> str:
    d = _dt.date.fromisoformat(day)
    m = d.month - 1 + months
    return _dt.date(d.year + m // 12, m % 12 + 1, 1).isoformat()


def _month_start(rng: random.Random, lo_year: int = 1995, hi_year: int = 2000) -> str:
    return _dt.date(rng.randint(lo_year, hi_year), rng.randint(1, 12), 1).isoformat()


REVENUE = ("SUM(CAST(l_extendedprice AS DECIMAL(15,2)) "
           "* (1 - CAST(l_discount AS DECIMAL(15,2))))")

# -- interactive --------------------------------------------------------------

PREPARED_CUSTOMER = (
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer "
    "WHERE c_custkey = $1"
)
PREPARED_ORDERS = (
    "SELECT COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS total "
    "FROM orders WHERE o_custkey = $1"
)


def _point_orders(rng):
    k = rng.randrange(datagen.ROWS["orders"])
    return ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority "
            f"FROM orders WHERE o_orderkey = {k}")


def _point_customer(rng):
    k = rng.randrange(datagen.ROWS["customer"])
    return ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
            f"FROM customer WHERE c_custkey = {k}")


def _agg_priority(rng):
    lo = _month_start(rng)
    hi = _months_later(lo, 3)
    return ("SELECT o_orderpriority, COUNT(*) AS n, "
            "SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS total FROM orders "
            f"WHERE o_orderdate >= {_ts(lo)} AND o_orderdate < {_ts(hi)} "
            "GROUP BY o_orderpriority")


def _agg_shipped(rng):
    lo = _month_start(rng)
    hi = _months_later(lo, 1)
    return ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
            "SUM(CAST(l_quantity AS DECIMAL(15,2))) AS qty FROM lineitem "
            f"WHERE l_shipdate >= {_ts(lo)} AND l_shipdate < {_ts(hi)} "
            "GROUP BY l_returnflag, l_linestatus")


def _info_tables(rng):
    names = sorted(rng.sample(datagen.TABLES, 3))
    listed = ", ".join(f"'{n}'" for n in names)
    return ("SELECT table_name FROM information_schema.tables "
            f"WHERE table_name IN ({listed})")


#: statement templates of the interactive mix: label -> text generator
INTERACTIVE_STATEMENTS = {
    "point_orders": _point_orders,
    "point_customer": _point_customer,
    "agg_priority": _agg_priority,
    "agg_shipped": _agg_shipped,
    "info_tables": _info_tables,
}
#: statement texts per template in the repeat pool
REPEAT_POOL = 2
#: chance that a measured statement is drawn from the repeat pool (the
#: warm-up sends the pool, and prepared statement texts never change, so
#: about half of all measured statement texts are repeats)
POOL_DRAW = 0.4


def _interactive_op(label: str, rng: random.Random, pool: dict, draw: float) -> Op:
    if label == "prepared_customer":
        return Op("prepared", label, PREPARED_CUSTOMER,
                  (rng.randrange(datagen.ROWS["customer"]),))
    if label == "prepared_orders":
        return Op("prepared", label, PREPARED_ORDERS,
                  (rng.randrange(datagen.ROWS["customer"]),))
    if label == "get_tables":
        return Op("get_tables", label, options=(("include_schema", True),))
    if label in METADATA_KINDS:
        return Op(label, label)
    make = INTERACTIVE_STATEMENTS[label]
    if rng.random() < draw:
        sql = rng.choice(pool[label])
    else:
        sql = make(rng)
    return Op("statement", label, sql)


# -- analytic: TPC-H templates --------------------------------------------------


def _q1(rng):
    day = _day(rng.randrange(1800, 2300))
    return (
        "SELECT l_returnflag, l_linestatus, "
        "SUM(CAST(l_quantity AS DECIMAL(15,2))) AS sum_qty, "
        "SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS sum_base_price, "
        f"{REVENUE} AS sum_disc_price, "
        "SUM(CAST(l_extendedprice AS DECIMAL(15,2)) * (1 - CAST(l_discount AS "
        "DECIMAL(15,2))) * (1 + CAST(l_tax AS DECIMAL(15,2)))) AS sum_charge, "
        "COUNT(*) AS count_order FROM lineitem "
        f"WHERE l_shipdate <= {_ts(day)} "
        "GROUP BY l_returnflag, l_linestatus"
    )


def _q3(rng):
    seg = rng.choice(datagen.SEGMENTS)
    day = _day(rng.randrange(400, 2000))
    return (
        f"SELECT l_orderkey, {REVENUE} AS revenue, "
        "CAST(o_orderdate AS DATE) AS o_orderdate "
        "FROM customer, orders, lineitem "
        f"WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey "
        f"AND l_orderkey = o_orderkey AND o_orderdate < {_ts(day)} "
        f"AND l_shipdate > {_ts(day)} "
        "GROUP BY l_orderkey, CAST(o_orderdate AS DATE) "
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
    )


def _q5(rng):
    region = rng.choice(datagen.REGIONS)
    lo = _month_start(rng, 1995, 1999)
    hi = _months_later(lo, 12)
    return (
        f"SELECT n_name, {REVENUE} AS revenue "
        "FROM customer, orders, lineitem, supplier, nation, region "
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
        "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
        f"AND r_name = '{region}' AND o_orderdate >= {_ts(lo)} "
        f"AND o_orderdate < {_ts(hi)} "
        "GROUP BY n_name ORDER BY revenue DESC, n_name"
    )


def _q6(rng):
    lo = _month_start(rng, 1995, 1999)
    hi = _months_later(lo, 12)
    disc = rng.randint(2, 9)
    qty = rng.randint(24, 25)
    return (
        "SELECT SUM(CAST(l_extendedprice AS DECIMAL(15,2)) "
        "* CAST(l_discount AS DECIMAL(15,2))) AS revenue FROM lineitem "
        f"WHERE l_shipdate >= {_ts(lo)} AND l_shipdate < {_ts(hi)} "
        f"AND l_discount BETWEEN {(disc - 1) / 100} AND {(disc + 1) / 100} "
        f"AND l_quantity < {qty}"
    )


def _q10(rng):
    lo = _month_start(rng, 1995, 2000)
    hi = _months_later(lo, 3)
    return (
        f"SELECT c_custkey, c_name, {REVENUE} AS revenue, c_acctbal, n_name "
        "FROM customer, orders, lineitem, nation "
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
        f"AND o_orderdate >= {_ts(lo)} AND o_orderdate < {_ts(hi)} "
        "AND l_returnflag = 'R' AND c_nationkey = n_nationkey "
        "GROUP BY c_custkey, c_name, c_acctbal, n_name "
        "ORDER BY revenue DESC, c_custkey LIMIT 20"
    )


def _q14(rng):
    lo = _month_start(rng, 1995, 2000)
    hi = _months_later(lo, 1)
    return (
        "SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN "
        "CAST(l_extendedprice AS DECIMAL(15,2)) * (1 - CAST(l_discount AS "
        "DECIMAL(15,2))) ELSE 0 END) AS DOUBLE) * 100.0 "
        f"/ CAST({REVENUE} AS DOUBLE) AS promo_revenue "
        "FROM lineitem, part WHERE l_partkey = p_partkey "
        f"AND l_shipdate >= {_ts(lo)} AND l_shipdate < {_ts(hi)}"
    )


def _q18(rng):
    qty = rng.randint(200, 230)
    return (
        "SELECT c_name, c_custkey, o_orderkey, "
        "CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, "
        "SUM(CAST(l_quantity AS DECIMAL(15,2))) AS sum_qty "
        "FROM customer, orders, lineitem "
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem "
        f"GROUP BY l_orderkey HAVING SUM(l_quantity) > {qty}) "
        "AND c_custkey = o_custkey AND o_orderkey = l_orderkey "
        "GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE), "
        "o_totalprice ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"
    )


def _q19(rng):
    brands = [rng.randint(1, 25) for _ in range(3)]
    qtys = [rng.randint(1, 10), rng.randint(10, 20), rng.randint(20, 30)]
    arms = []
    for brand, q, size in zip(brands, qtys, (5, 10, 15)):
        arms.append(
            f"(p_brand = 'Brand#{brand}' AND l_quantity >= {q} "
            f"AND l_quantity <= {q + 10} AND p_size BETWEEN 1 AND {size})"
        )
    return (
        f"SELECT {REVENUE} AS revenue FROM lineitem, part "
        f"WHERE p_partkey = l_partkey AND ({' OR '.join(arms)})"
    )


ANALYTIC_TEMPLATES = {
    "tpch_q1": _q1, "tpch_q3": _q3, "tpch_q5": _q5, "tpch_q6": _q6,
    "tpch_q10": _q10, "tpch_q14": _q14, "tpch_q18": _q18, "tpch_q19": _q19,
}

# -- bulk scans ---------------------------------------------------------------

LINEITEM_COLS = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate")
ORDERS_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority")
#: the seed drops one of these narrow columns from each wide projection
DROPPABLE = ("l_linenumber", "l_discount", "l_tax", "l_linestatus")


def _lineitem_cols(rng) -> str:
    drop = rng.choice(DROPPABLE)
    return ", ".join(c for c in LINEITEM_COLS if c != drop)


def _bulk_scan(rng):
    return (f"SELECT {_lineitem_cols(rng)} FROM lineitem "
            f"WHERE l_quantity >= {rng.randint(1, 3)}")


def _bulk_join(rng):
    drop = rng.choice(DROPPABLE)
    cols = [c for c in LINEITEM_COLS if c != drop] + list(ORDERS_COLS)
    return (f"SELECT {', '.join(cols)} FROM lineitem, orders "
            f"WHERE l_orderkey = o_orderkey AND l_quantity >= {rng.randint(1, 3)}")


def _bulk_union3(rng):
    # every column (in a seeded order), so the result stays above 128 MB
    cols = ", ".join(rng.sample(LINEITEM_COLS, len(LINEITEM_COLS)))
    return " UNION ALL ".join(
        f"SELECT {cols} FROM lineitem WHERE l_quantity >= {rng.randint(1, 3)}"
        for _ in range(3)
    )


#: ≈42 MB, ≈71 MB and ≈137 MB of Arrow: two below and one above the
#: server's 128 MB per-group driver pull budget
BULK_TEMPLATES = {"scan_lineitem": _bulk_scan, "join_lineitem_orders": _bulk_join,
                  "union3_lineitem": _bulk_union3}

# -- workloads ----------------------------------------------------------------

CYCLES = {
    "interactive": (
        "point_orders", "prepared_customer", "agg_priority", "get_tables",
        "point_customer", "info_tables", "get_catalogs", "prepared_orders",
        "agg_shipped", "get_db_schemas",
    ),
    "analytic": tuple(ANALYTIC_TEMPLATES),
    "bulk_scan": tuple(BULK_TEMPLATES),
}
#: client streams per workload (``mixed`` shares one server among them)
CLIENTS = {
    "interactive": ("interactive",),
    "analytic": ("analytic",),
    "bulk_scan": ("bulk_scan",),
    "mixed": ("interactive", "interactive", "bulk_scan"),
}
WORKLOADS = tuple(CLIENTS)


def client_ops(mix: str, seed: int, client: int, cycles: int,
               warmup: bool = False, avoid=()) -> list[Op]:
    """``cycles`` repetitions of ``mix``'s cycle for one client.

    The interactive mix draws about half of its statements from a small
    per-client repeat pool; with ``warmup`` it draws all of them from it.
    The other mixes never repeat a statement text, nor send one in
    ``avoid``; with ``warmup`` they draw from a stream of their own."""
    stream = "warmup" if warmup and mix != "interactive" else "run"
    rng = random.Random(f"{mix}/{seed}/{client}/{stream}")
    out: list[Op] = []
    if mix == "interactive":
        pool = {label: [make(rng) for _ in range(REPEAT_POOL)]
                for label, make in INTERACTIVE_STATEMENTS.items()}
        draw = 1.0 if warmup else POOL_DRAW
        for _ in range(cycles):
            out.extend(_interactive_op(label, rng, pool, draw) for label in CYCLES[mix])
        return out
    templates = ANALYTIC_TEMPLATES if mix == "analytic" else BULK_TEMPLATES
    seen = set(avoid)
    for _ in range(cycles):
        for label in CYCLES[mix]:
            sql = templates[label](rng)
            for _ in range(100):
                if sql not in seen:
                    break
                sql = templates[label](rng)
            seen.add(sql)
            out.append(Op("statement", label, sql, bulk=mix == "bulk_scan"))
    return out


def repeat_share(ops, sent_before=()) -> float:
    """Share of SQL-bearing ops whose exact statement text was already sent,
    earlier in ``ops`` or in ``sent_before``."""
    seen = {op.sql for op in sent_before if op.sql}
    repeats = total = 0
    for op in ops:
        if not op.sql:
            continue
        total += 1
        repeats += op.sql in seen
        seen.add(op.sql)
    return repeats / total if total else 0.0
