"""Strict multiset compare of a Spark result against its DuckDB oracle.

Columns are matched by name; rows compare as a multiset with exact
values (no float tolerance), ints and floats kept apart, NaN equal to
NaN, NULL distinct from every value.
"""

from __future__ import annotations

import datetime
import math
from collections import Counter


def _canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("float", v)
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("bytes", bytes(v))
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_canon(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((str(k), _canon(x)) for k, x in v.items())))
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        return ("map", tuple(sorted((k, _canon(x)) for k, x in v.asDict().items())))
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return ("str", str(v))


def multiset(columns: list[str], rows) -> Counter:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_canon(r[i]) for i in order) for r in rows)


def compare(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """None when equal, else a short description of the difference."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} != {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"rows {len(spark_rows)} != {len(duck_rows)}"
    s, d = multiset(spark_cols, spark_rows), multiset(duck_cols, duck_rows)
    if s != d:
        only_s = list((s - d).elements())[:2]
        only_d = list((d - s).elements())[:2]
        return f"values differ: spark-only {only_s} oracle-only {only_d}"
    return None


def duck_views(data_dir: str, names):
    import duckdb

    con = duckdb.connect()
    for t in names:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con
