"""Output checks, run outside the timed region.

A query op's output is compared with its DuckDB oracle
(``maup_spark.queries.ORACLES[name]``) over the same generated inputs:
row count plus an order-insensitive value hash salted with each
column's type family, as the repository's correctness replica does.
Both sides are read as Arrow, so one type mapping serves both engines.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa


def type_family(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    # decimals, timestamps and nested types hash differently across the
    # two engines; keep them distinct so a mismatch shows
    return str(t)


def value_hash(tbl: pa.Table) -> str:
    cols = [c.lower() for c in tbl.schema.names]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    header = "|".join(f"{cols[i]}:{type_family(tbl.schema.types[i])}" for i in order)
    values = [tbl.column(i).to_pylist() for i in order]
    keys = sorted("|".join(str(v) for v in row) for row in zip(*values))
    return hashlib.md5((header + "\n" + "\n".join(keys)).encode()).hexdigest()


class Oracle:
    """DuckDB views over the generated parquet tables."""

    def __init__(self, data_dir: str, tmp_dir: str):
        import duckdb

        self.con = duckdb.connect(config={"temp_directory": tmp_dir})
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )

    def expected(self, sql: str) -> tuple[int, str]:
        tbl = self.con.execute(sql).arrow()
        return tbl.num_rows, value_hash(tbl)

    def close(self) -> None:
        self.con.close()
