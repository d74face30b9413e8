"""Output check: row count and an order-independent digest per sink table,
and the registry's DuckDB oracle SQL bound to a workload's own inputs.

The digest of a table is the sum, modulo 2**64, of one hash per row over
its columns in name order, each value cast to text. A sum does not depend
on row order and, unlike xor, does not cancel duplicate rows. Casting to
text makes a 32-bit Spark int and a DuckDB BIGINT of the same value agree.
"""

from __future__ import annotations

import os

import duckdb

from dygiepp_spark.registry import _KG_CTES, QUERIES
from dygiepp_spark.tables import TURNS_CTE

# the registry's KG queries derive the canonical store from extracted
# triples in their first CTE; the benchmark binds it to a stored table
_KG_CANON_CTE = _KG_CTES.split("kg_edges AS")[0]


def digest_sql(relation: str, columns: list[str]) -> str:
    row = " || chr(31) || ".join(
        f"coalesce(CAST(\"{c}\" AS VARCHAR), chr(0))" for c in sorted(columns)
    )
    return (
        "SELECT count(*) AS n, "
        f"CAST(coalesce(sum(hash({row})), 0) % 18446744073709551616 AS UBIGINT) AS h "
        f"FROM ({relation})"
    )


def digest(con: duckdb.DuckDBPyConnection, relation: str, columns: list[str]) -> tuple[int, str]:
    n, h = con.execute(digest_sql(relation, columns)).fetchone()
    return int(n), f"{h:016x}"


def parquet_relation(path: str, project: str = "*") -> str:
    """A written table as a DuckDB relation; hive partition directories
    (``bucket=3``, ``pred=USES``) come back as columns."""
    pattern = os.path.join(path, "**", "*.parquet").replace("'", "''")
    return f"SELECT {project} FROM read_parquet('{pattern}', hive_partitioning = true)"


def _bind(sql: str, old: str, new: str) -> str:
    if old not in sql:
        raise ValueError("oracle SQL no longer contains the CTE the benchmark rebinds")
    return sql.replace(old, new)


def oracle_turns(query: str, table: str) -> str:
    """Registry SQL for ``query`` with its ``turns`` CTE reading ``table``."""
    return _bind(QUERIES[query].sql, TURNS_CTE.strip(), f"turns AS (SELECT * FROM {table})")


def oracle_kg(query: str, table: str) -> str:
    """Registry SQL for a KG query over the canonical store in ``table``."""
    return _bind(
        QUERIES[query].sql,
        _KG_CANON_CTE,
        "kg_canon AS (SELECT subj_canonical AS subj, pred, obj_canonical AS obj,"
        f" n_support FROM {table}),\n        ",
    )


def result_columns(con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    return [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
