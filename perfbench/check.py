"""Output checks: the pipeline's targets against a DuckDB oracle computed
straight from the generated envelope files.

Tables compare by row count plus an order-insensitive hash of canonical
row strings (floats to 9 significant digits, timestamps ISO), the same
canonical form as ``tools/check_correctness.py``.
"""

from __future__ import annotations

import hashlib
import math
from datetime import datetime

import duckdb
from pyspark.sql.types import DoubleType, IntegerType, LongType, TimestampType

_SQL_TYPES = {LongType: "BIGINT", IntegerType: "INTEGER", DoubleType: "DOUBLE"}


def canon_value(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "0" if v == 0 else f"{v:.9g}"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def digest(rows) -> tuple[int, str]:
    """(row count, sha256 over the sorted canonical rows)."""
    lines = sorted("\x01".join(canon_value(v) for v in r) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _typed(field) -> str:
    e = f"json_extract_string(data, '$.{field.name}')"
    if isinstance(field.dataType, TimestampType):
        # Spark's to_json renders 'yyyy-MM-ddTHH:mm:ss.SSSZ' in UTC
        return f"substr({e}, 1, 19)"
    sql_type = _SQL_TYPES.get(type(field.dataType))
    return f"CAST({e} AS {sql_type})" if sql_type else e


def lww_sql(glob: str, table: str, schema, keys: list[str]) -> str:
    """Last event per primary key over the envelope files, deletes
    dropped: the live rows a last-writer-wins target must hold."""
    part = ", ".join(f"json_extract_string(data, '$.{k}')" for k in keys)
    cols = ", ".join(f"{_typed(f)} AS {f.name}" for f in schema.fields)
    return f"""
        SELECT {cols} FROM (
          SELECT data, op, row_number() OVER (PARTITION BY {part} ORDER BY seq DESC) AS rn
          FROM read_parquet('{glob}') WHERE "table" = '{table}'
        ) WHERE rn = 1 AND op <> 'delete'"""


def oracle_rows(glob: str, table: str, schema, keys: list[str]) -> list[tuple]:
    with duckdb.connect() as con:
        return con.execute(lww_sql(glob, table, schema, keys)).fetchall()


def oracle_group_sums(
    glob: str, table: str, schema, keys: list[str], group: str, value: str
) -> list[tuple]:
    """(group, count, sum) over the live rows, summing each value
    truncated to an integer: the keyed-agg view's integer sums."""
    sql = (
        f"SELECT {group}, count(*), sum(CAST(trunc({value}) AS BIGINT)) FROM ("
        f"{lww_sql(glob, table, schema, keys)}) GROUP BY {group}"
    )
    with duckdb.connect() as con:
        return con.execute(sql).fetchall()


def spark_rows(df, schema) -> list[tuple]:
    if df is None:
        return []
    return [tuple(r) for r in df.select(*schema.fieldNames()).collect()]


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    return digest(got) == digest(want)
