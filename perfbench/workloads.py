"""Operations of each workload, each paired with its DuckDB twin.

An operation is csvtool-dialect text as a user types it, plus the DuckDB
SQL that computes the same answer over the same generated files. Query
parameters fall inside the value ranges of the test data (dates in
1995-2001, keys 0-14999 for orders and 0-1999 for parts). The twins
spell out the dialect's semantics: ``=`` is null-safe, LIKE is
case-insensitive, BETWEEN is half-open, ``count()`` is a float, integer
division truncates and TOP defaults to descending order.

A round is every template of a workload once, in seeded order with seeded
parameters; the measured window runs whole rounds, so every run times the
same mix of shapes.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: DuckDB column types of the generated CSVs (dates as TIMESTAMP, the
#: type csvtool's inference gives them)
CSV_COLUMNS = {
    "nation": {"n_nationkey": "BIGINT", "n_name": "VARCHAR", "n_regionkey": "BIGINT"},
    "customer": {"c_custkey": "BIGINT", "c_name": "VARCHAR", "c_nationkey": "BIGINT",
                 "c_acctbal": "DOUBLE", "c_mktsegment": "VARCHAR"},
    "part": {"p_partkey": "BIGINT", "p_name": "VARCHAR", "p_brand": "VARCHAR",
             "p_type": "VARCHAR", "p_size": "BIGINT", "p_retailprice": "DOUBLE"},
    "orders": {"o_orderkey": "BIGINT", "o_custkey": "BIGINT", "o_orderstatus": "VARCHAR",
               "o_totalprice": "DOUBLE", "o_orderdate": "TIMESTAMP",
               "o_orderpriority": "VARCHAR"},
    "lineitem": {"l_orderkey": "BIGINT", "l_partkey": "BIGINT", "l_suppkey": "BIGINT",
                 "l_linenumber": "BIGINT", "l_quantity": "BIGINT",
                 "l_extendedprice": "DOUBLE", "l_discount": "DOUBLE", "l_tax": "DOUBLE",
                 "l_returnflag": "VARCHAR", "l_linestatus": "VARCHAR",
                 "l_shipdate": "TIMESTAMP"},
}

#: the curation pipe: (stage text, twin parameters) per stage. The test
#: corpus is one line per document with no closing punctuation, so clean
#: waives the C4 terminal-punctuation rule (with it every text would be
#: emptied and dedup would keep one row). Of the 5,000 documents the
#: quality cut keeps 4,177, dedup 4,169 and neardup 3,963
PIPE = [
    ("normalize(text)", ("normalize", {"text": "text"})),
    ("clean(text, terminal=0)", ("clean", {"text": "text", "terminal": False})),
    ("langid(text)", ("langid", {"text": "text", "as": "lang_guess"})),
    ("quality(text, min=0.7)", ("quality", {"text": "text", "as": "quality", "min": 0.7})),
    ("dedup(text, id=doc_id)", ("dedup", {"text": "text", "id": "doc_id"})),
    ("neardup(text, id=doc_id, threshold=0.5)",
     ("neardup", {"text": "text", "id": "doc_id", "threshold": 0.5})),
    ("tokens(text)", ("tokens", {"text": "text", "as": "n_tokens"})),
]


@dataclass
class Op:
    name: str
    text: str  # csvtool-dialect query
    oracle: str  # DuckDB SQL computing the same rows
    ordered: bool = False  # compare row order too (fully ordered TOP queries)
    rows_in: int = 0  # rows of the input files the statement reads


def duck_tables(paths: dict[str, str]) -> list[str]:
    """Statements loading the generated CSVs into DuckDB tables (parsed
    once per run, then shared by every twin)."""
    out = []
    for name, path in paths.items():
        cols = ", ".join(f"'{c}': '{t}'" for c, t in CSV_COLUMNS[name].items())
        out.append(
            f"CREATE TABLE {name} AS SELECT * FROM read_csv('{path}', "
            f"header=true, columns={{{cols}}})"
        )
    return out


def _date(rng: random.Random, lo_year: int = 1996, hi_year: int = 2000) -> tuple[str, str]:
    """(dialect literal M/D/YYYY, DuckDB literal) for a seeded day."""
    y, m, d = rng.randint(lo_year, hi_year), rng.randint(1, 12), rng.randint(1, 28)
    return f"{m}/{d}/{y}", f"TIMESTAMP '{y:04d}-{m:02d}-{d:02d}'"


def _between(col: str, lo: str, hi: str) -> str:
    # the dialect's BETWEEN is half-open and order-agnostic
    return f"CASE WHEN {col} >= {lo} THEN {col} < {hi} ELSE {col} >= {hi} END"


# --- gui_csv --------------------------------------------------------------------


def _g_filter(rng, p):
    price, st = rng.randint(350, 450) * 1000, rng.choice("FOP")
    g = rng.choice(["g", "w", "i", "e", "n"])
    k1, k2 = rng.randrange(15000), rng.randrange(15000)
    return Op(
        "filter",
        f"select o_orderkey o_totalprice o_orderpriority from '{p['orders']}' "
        f"where o_totalprice > {price} and o_orderstatus = {st} "
        f"and o_orderpriority like '%{g}%' and o_orderkey not in ({k1}, {k2})",
        f"SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders "
        f"WHERE o_totalprice > {price} AND o_orderstatus IS NOT DISTINCT FROM '{st}' "
        f"AND o_orderpriority ILIKE '%{g}%' AND o_orderkey NOT IN ({k1}, {k2})",
    )


def _g_group_having(rng, p):
    dl, dd = _date(rng)
    n = rng.randint(100, 900)
    return Op(
        "group_having",
        f"select o_orderpriority count(*) as cnt max(o_totalprice) as mx "
        f"min(o_totalprice) as mn from '{p['orders']}' where o_orderdate > '{dl}' "
        f"group by o_orderpriority having count(*) > {n}",
        f"SELECT o_orderpriority, CAST(count(*) AS DOUBLE) AS cnt, "
        f"max(o_totalprice) AS mx, min(o_totalprice) AS mn FROM orders "
        f"WHERE o_orderdate > {dd} GROUP BY o_orderpriority HAVING count(*) > {n}",
    )


def _g_join_nation(rng, p):
    k, bal = rng.randrange(25), rng.randint(0, 5000)
    return Op(
        "join_nation",
        f"select c_custkey c_name c_acctbal n_name from '{p['customer']}' c "
        f"join '{p['nation']}' n on c.c_nationkey = n.n_nationkey "
        f"where n_name = NATION_{k} and c_acctbal > {bal}",
        f"SELECT c_custkey, c_name, c_acctbal, n_name FROM customer "
        f"JOIN nation ON c_nationkey = n_nationkey "
        f"WHERE n_name IS NOT DISTINCT FROM 'NATION_{k}' AND c_acctbal > {bal}",
    )


def _g_join_lineitem(rng, p):
    (d1l, d1d), (d2l, d2d) = _date(rng, 1996, 1997), _date(rng, 1998, 2000)
    return Op(
        "join_lineitem",
        f"select o_orderpriority count(*) as cnt max(l_extendedprice) as mx "
        f"from '{p['lineitem']}' l join '{p['orders']}' o on l.l_orderkey = o.o_orderkey "
        f"where l_shipdate between '{d1l}' and '{d2l}' group by o_orderpriority",
        f"SELECT o_orderpriority, CAST(count(*) AS DOUBLE) AS cnt, "
        f"max(l_extendedprice) AS mx FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        f"WHERE {_between('l_shipdate', d1d, d2d)} GROUP BY o_orderpriority",
    )


def _g_top(rng, p):
    k, price = rng.randint(20, 60), rng.randint(100, 400) * 1000
    return Op(
        "top_order",
        f"select top {k} o_orderkey o_totalprice o_orderdate from '{p['orders']}' "
        f"where o_totalprice < {price} order by o_orderkey",
        f"SELECT o_orderkey, o_totalprice, o_orderdate FROM orders "
        f"WHERE o_totalprice < {price} ORDER BY o_orderkey DESC LIMIT {k}",
        ordered=True,
    )


def _g_case_dates(rng, p):
    price, k = rng.randint(200, 300) * 1000, rng.randint(1000, 2000)
    return Op(
        "case_dates",
        f"select o_orderkey year(o_orderdate) as y week(o_orderdate) as wk "
        f"o_orderdate + '30 days' as due dayofmonth(o_orderdate) as dom "
        f"case when o_totalprice > {price} then big else small end as bucket "
        f"from '{p['orders']}' where o_orderkey < {k}",
        f"SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y, "
        f"CAST(dayofyear(o_orderdate) // 7 AS BIGINT) AS wk, "
        f"o_orderdate + INTERVAL 30 DAY AS due, "
        f"CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom, "
        f"CASE WHEN o_totalprice > {price} THEN 'big' ELSE 'small' END AS bucket "
        f"FROM orders WHERE o_orderkey < {k}",
    )


def _g_distinct(rng, p):
    bal = rng.randint(0, 9000)
    return Op(
        "distinct",
        f"select distinct c_mktsegment from '{p['customer']}' where c_acctbal > {bal}",
        f"SELECT DISTINCT c_mktsegment FROM customer WHERE c_acctbal > {bal}",
    )


def _g_predicates(rng, p):
    b1, b2 = rng.sample(range(1, 26), 2)
    lo = rng.randint(0, 800)
    hi = lo + rng.randint(300, 1200)
    return Op(
        "predicates",
        f"select p_partkey p_type p_brand from '{p['part']}' "
        f"where p_type like '%o%' and p_brand in ('Brand#{b1}', 'Brand#{b2}') "
        f"and p_partkey not in (1, 2) and p_partkey between {lo} and {hi}",
        f"SELECT p_partkey, p_type, p_brand FROM part "
        f"WHERE p_type ILIKE '%o%' AND p_brand IN ('Brand#{b1}', 'Brand#{b2}') "
        f"AND p_partkey NOT IN (1, 2) AND {_between('p_partkey', str(lo), str(hi))}",
    )


def _g_scalars(rng, p):
    pk = rng.randrange(2000)
    return Op(
        "scalars",
        f"select l_orderkey l_linenumber l_quantity * 2 + 1 as q2 "
        f"l_quantity / 7 as d7 l_quantity % 7 as m7 from '{p['lineitem']}' "
        f"where l_partkey = {pk}",
        f"SELECT l_orderkey, l_linenumber, l_quantity * 2 + 1 AS q2, "
        f"CAST(trunc(CAST(l_quantity AS DOUBLE) / 7) AS BIGINT) AS d7, "
        f"l_quantity % 7 AS m7 FROM lineitem WHERE l_partkey = {pk}",
    )


def _g_summary(rng, p):
    f, q = rng.choice("ANR"), rng.randint(10, 45)
    return Op(
        "summary",
        f"select count(*) as n max(l_extendedprice) as mx min(l_shipdate) as first "
        f"from '{p['lineitem']}' where l_returnflag = {f} and l_quantity > {q}",
        f"SELECT CAST(count(*) AS DOUBLE) AS n, max(l_extendedprice) AS mx, "
        f"min(l_shipdate) AS first FROM lineitem "
        f"WHERE l_returnflag IS NOT DISTINCT FROM '{f}' AND l_quantity > {q}",
    )


GUI_TEMPLATES = [
    _g_filter, _g_group_having, _g_join_nation, _g_join_lineitem, _g_top,
    _g_case_dates, _g_distinct, _g_predicates, _g_scalars, _g_summary,
]


# --- rounds -----------------------------------------------------------------------

#: per workload: the templates of a round, and the template of the first
#: operation after set-up (always the same shape, so that first_s compares
#: like with like across seeds)
TEMPLATES = {
    "gui_csv": (GUI_TEMPLATES, _g_group_having),
}


def shuffled_round(rng: random.Random, templates, paths: dict[str, str]) -> list[Op]:
    ops = [t(rng, paths) for t in templates]
    rng.shuffle(ops)
    return ops


def pipe_op(doc_path: str) -> Op:
    from csvtool_spark.dialect.stage_oracles import chain_oracle_sql

    base_cols = ["doc_id", "text", "source"]
    sql, _cols = chain_oracle_sql(
        f"SELECT doc_id, text, source FROM read_parquet('{doc_path}')",
        base_cols, [twin for _stage, twin in PIPE],
    )
    stages = " |> ".join(stage for stage, _twin in PIPE)
    return Op(
        "curate",
        f"select doc_id, text, source from '{doc_path}' |> {stages}",
        sql,
    )
