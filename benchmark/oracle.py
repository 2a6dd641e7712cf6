"""Independent oracles, run in DuckDB over the benchmark's own inputs.

The KG oracle is the repo's closed-form `kg_validated_triples` SQL
(`__spark_entry__.oracle_sql()`), evaluated over `orders` and `customer`
views that replicate with the same key shift as
`pages._replicated_orders` (r·10⁹ on orders, r·10⁷ on customers). An
emitted triple set matches when its row count and its order-independent
hash sum both equal the oracle's.
"""

from __future__ import annotations

import os
from urllib.parse import unquote

import duckdb

_DIGEST = "SELECT count(*) AS n, sum(hash(s, p, o)) AS h FROM ({q}) t"


def _connect() -> duckdb.DuckDBPyConnection:
    return duckdb.connect(config={"threads": "2"})


def kg_expected(sf_dir: str, replicas: int) -> tuple[int, int]:
    """(row count, hash sum) of the validated triples for `sf_dir`."""
    from __spark_entry__ import oracle_sql

    con = _connect()
    try:
        con.execute(f"""
            CREATE VIEW orders AS
            SELECT o_orderkey + r * 1000000000 AS o_orderkey,
                   o_custkey + r * 10000000 AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM '{sf_dir}/orders.parquet', range({replicas}) t(r)""")
        con.execute(f"""
            CREATE VIEW customer AS
            SELECT c_custkey + r * 10000000 AS c_custkey, c_name,
                   c_nationkey, c_acctbal, c_mktsegment
            FROM '{sf_dir}/customer.parquet', range({replicas}) t(r)""")
        con.execute(f"CREATE VIEW documents AS "
                    f"SELECT * FROM '{sf_dir}/documents.parquet'")
        q = oracle_sql()["kg_validated_triples"]
        n, h = con.execute(_DIGEST.format(q=q)).fetchone()
        return int(n), int(h or 0)
    finally:
        con.close()


def kg_emitted(out_dir: str) -> tuple[int, int]:
    """(row count, hash sum) of the `(s, p, o)` triples under
    `<out_dir>/triples`, whose predicate lives in the `p=` directory."""
    root = os.path.join(out_dir, "triples")
    parts = []
    for d in sorted(os.listdir(root)):
        if not d.startswith("p="):
            continue
        files = [os.path.join(root, d, f)
                 for f in os.listdir(os.path.join(root, d))
                 if f.endswith(".parquet")]
        if files:
            p = unquote(d[2:]).replace("'", "''")
            parts.append(f"SELECT s, '{p}' AS p, o FROM read_parquet({files!r})")
    if not parts:
        return 0, 0
    con = _connect()
    try:
        n, h = con.execute(
            _DIGEST.format(q=" UNION ALL ".join(parts))).fetchone()
        return int(n), int(h or 0)
    finally:
        con.close()


def tree_bytes(*dirs: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for d in dirs for root, _, files in os.walk(d) for f in files
    )
