"""The benchmark's workloads: which entries run and how each is checked.

An entry is one unit of client work.  ``spj_dialect`` entries are generated
from the reference engine's test-query shapes and run through the dialect
front end step by step; ``embed_stream`` entries are registry entries run
through their registered ``fn(spark, sf_dir)``.  Every entry carries the
DuckDB SQL that the output check compares its result with.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: registry entries of the ``embed_stream`` workload: the embedding
#: dedup/similarity family (iterative many-stage jobs through
#: ``coarse_materialize``, the most shuffle) and the streaming family
#: (state stores; ``e06`` runs Python state workers on the caller's
#: session, ``e13`` runs the native session window on the cached stream
#: sub-session of ``ingest.stream_session``, which the cold pass clones).
EMBED_ENTRIES = ("d06_embedding_near_dup",)
STREAM_ENTRIES = ("e06_stream_sessionize", "e13_stream_session")

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

_CHAIN4 = (
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON o_orderkey = l_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey"
)
_CHAIN4_DIALECT = (
    "FROM customer, orders, lineitem, supplier "
    "WHERE customer.c_custkey = orders.o_custkey, "
    "orders.o_orderkey = lineitem.l_orderkey, "
    "lineitem.l_suppkey = supplier.s_suppkey"
)


@dataclass(frozen=True)
class Entry:
    name: str
    #: dialect text for ``spj_dialect`` entries, None for registry entries
    dialect: str | None
    #: DuckDB SQL over views named like the tables
    oracle: str


def _price_range(rng: random.Random) -> tuple[int, int]:
    lo = rng.randrange(20_000, 100_001, 1_000)
    return lo, lo + rng.randrange(50_000, 150_001, 1_000)


def dialect_entries(seed: int) -> list[Entry]:
    """One query per test-query shape of the reference (the ``q01``-``q13``
    and ``q16`` registry mapping), with the filter literals, and so the
    selectivities, drawn from ``seed``."""
    rng = random.Random(seed)
    seg = rng.choice(SEGMENTS)
    lo6, hi6 = _price_range(rng)
    lo7, hi7 = _price_range(rng)
    lo10, hi10 = _price_range(rng)
    cap8 = rng.randrange(50_000, 300_001, 1_000)
    disc = rng.randrange(3, 10)
    flag = rng.choice("ANR")
    return [
        Entry("sd01_scan", "SELECT * FROM customer", "SELECT * FROM customer"),
        Entry(
            "sd02_filter_project",
            "SELECT customer.c_custkey, customer.c_name, customer.c_acctbal "
            f'FROM customer WHERE customer.c_mktsegment = "{seg}"',
            "SELECT c_custkey, c_name, c_acctbal FROM customer "
            f"WHERE c_mktsegment = '{seg}'",
        ),
        Entry(
            "sd03_join2_project",
            "SELECT customer.c_custkey, customer.c_name, orders.o_orderkey, "
            "orders.o_totalprice FROM customer, orders "
            "WHERE customer.c_custkey = orders.o_custkey",
            "SELECT c_custkey, c_name, o_orderkey, o_totalprice "
            "FROM customer JOIN orders ON c_custkey = o_custkey",
        ),
        Entry(
            "sd04_join3_star",
            "SELECT * FROM customer, nation, region "
            "WHERE customer.c_nationkey = nation.n_nationkey, "
            "nation.n_regionkey = region.r_regionkey",
            "SELECT * FROM customer JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey",
        ),
        Entry(
            "sd05_join4_star",
            "SELECT * FROM customer, nation, region, supplier "
            "WHERE customer.c_nationkey = nation.n_nationkey, "
            "nation.n_regionkey = region.r_regionkey, "
            "supplier.s_nationkey = nation.n_nationkey",
            "SELECT * FROM customer JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "JOIN supplier ON s_nationkey = n_nationkey",
        ),
        Entry(
            "sd06_join4_filters_star",
            f"SELECT * {_CHAIN4_DIALECT}, "
            f'orders.o_totalprice < "{hi6}", orders.o_totalprice > "{lo6}"',
            f"SELECT * {_CHAIN4} WHERE o_totalprice < {hi6} AND o_totalprice > {lo6}",
        ),
        Entry(
            "sd07_join4_filters_proj",
            "SELECT customer.c_mktsegment, orders.o_totalprice, "
            f"lineitem.l_quantity, supplier.s_name {_CHAIN4_DIALECT}, "
            f'orders.o_totalprice < "{hi7}", orders.o_totalprice > "{lo7}"',
            f"SELECT c_mktsegment, o_totalprice, l_quantity, s_name {_CHAIN4} "
            f"WHERE o_totalprice < {hi7} AND o_totalprice > {lo7}",
        ),
        Entry(
            "sd08_groupby_max",
            "SELECT customer.c_mktsegment, MAX(orders.o_totalprice) "
            "FROM customer, orders WHERE customer.c_custkey = orders.o_custkey, "
            f'orders.o_totalprice < "{cap8}" GROUPBY customer.c_mktsegment',
            "SELECT c_mktsegment, MAX(o_totalprice) AS max_o_totalprice "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            f"WHERE o_totalprice < {cap8} GROUP BY c_mktsegment",
        ),
        Entry(
            "sd09_distinct",
            "SELECT DISTINCT customer.c_mktsegment FROM customer",
            "SELECT DISTINCT c_mktsegment FROM customer",
        ),
        Entry(
            "sd10_orderby",
            "SELECT customer.c_custkey, orders.o_totalprice FROM customer, orders "
            "WHERE customer.c_custkey = orders.o_custkey, "
            f'orders.o_totalprice < "{hi10}", orders.o_totalprice > "{lo10}" '
            "ORDERBY orders.o_totalprice",
            "SELECT c_custkey, o_totalprice FROM customer "
            "JOIN orders ON c_custkey = o_custkey "
            f"WHERE o_totalprice < {hi10} AND o_totalprice > {lo10}",
        ),
        Entry(
            "sd11_groupby_as_distinct",
            "SELECT lineitem.l_orderkey, lineitem.l_quantity FROM lineitem "
            f'WHERE lineitem.l_discount < "0.0{disc}" GROUPBY lineitem.l_quantity',
            f"SELECT DISTINCT l_quantity FROM lineitem WHERE l_discount < 0.0{disc}",
        ),
        Entry(
            "sd12_exp1_single_join",
            "SELECT * FROM supplier, nation "
            "WHERE supplier.s_nationkey = nation.n_nationkey",
            "SELECT * FROM supplier JOIN nation ON s_nationkey = n_nationkey",
        ),
        Entry(
            "sd13_exp2_two_conditions",
            "SELECT supplier.s_name, nation.n_name FROM supplier, nation, customer "
            "WHERE supplier.s_nationkey = nation.n_nationkey, "
            "customer.c_nationkey = nation.n_nationkey",
            "SELECT s_name, n_name FROM supplier "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN customer ON c_nationkey = n_nationkey",
        ),
        Entry(
            "sd16_global_agg",
            "SELECT COUNT(lineitem.l_orderkey), MAX(lineitem.l_extendedprice), "
            f'MIN(lineitem.l_extendedprice) FROM lineitem WHERE lineitem.l_returnflag = "{flag}"',
            "SELECT COUNT(l_orderkey) AS count_l_orderkey, "
            "MAX(l_extendedprice) AS max_l_extendedprice, "
            "MIN(l_extendedprice) AS min_l_extendedprice "
            f"FROM lineitem WHERE l_returnflag = '{flag}'",
        ),
    ]


def registry_entries(names: tuple[str, ...]) -> list[Entry]:
    from spj_query_engine_spark.workload import REGISTRY

    return [Entry(n, None, REGISTRY[n].oracle) for n in names]


WORKLOADS = {
    "spj_dialect": dialect_entries,
    "embed_stream": lambda seed: registry_entries(EMBED_ENTRIES + STREAM_ENTRIES),
}


def entries(workload: str, seed: int) -> list[Entry]:
    return WORKLOADS[workload](seed)


def pass_order(entry_list: list[Entry], rng: random.Random) -> list[Entry]:
    """One pass: every entry once, in an order drawn from ``rng``."""
    order = list(entry_list)
    rng.shuffle(order)
    return order
