"""Output check against the DuckDB oracle, with the comparison tools/check.py
makes: columns sorted by name, rows sorted, values stringified, and integer,
float, decimal and other representation categories compared per column.

The oracle's answer depends only on the fixture and the SQL text, so it is
cached under .bench_build/oracle by a digest of both; a cached answer is
stored as (columns, type map, row count, row digest).
"""
import hashlib
import json
import math
import os

import duckdb
import pyarrow as pa

from fixture import TABLES


def typecat(t):
    if pa.types.is_integer(t): return "int"
    if pa.types.is_floating(t): return "float"
    if pa.types.is_decimal(t): return f"decimal({t.precision},{t.scale})"
    if pa.types.is_boolean(t): return "bool"
    if pa.types.is_timestamp(t): return "ts"
    if pa.types.is_date(t): return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t): return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t): return "bin"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{typecat(t.value_type)}>"
    return str(t)


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def summary(table):
    """(columns, type map, row count, row digest) of an arrow table."""
    df = table.to_pandas()
    cols = sorted(df.columns)
    rows = sorted(tuple(_cell(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    types = sorted([f.name, typecat(f.type)] for f in table.schema)
    return {"cols": cols, "types": types, "rows": len(rows), "digest": digest}


class Oracle:
    def __init__(self, fixture_dir, fixture_key, cache_dir):
        self.key = fixture_key
        self.cache_dir = cache_dir
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {os.cpu_count() or 1}")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")

    def expected(self, sql):
        h = hashlib.sha256(f"{self.key}\n{sql}".encode()).hexdigest()
        path = f"{self.cache_dir}/{h}.json"
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        answer = summary(self.con.execute(sql).arrow())
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(f"{path}.tmp", "w") as f:
            json.dump(answer, f)
        os.replace(f"{path}.tmp", path)
        return answer

    def check(self, out_dir, sql):
        """None when the Spark output at out_dir matches the oracle SQL,
        otherwise a one-line reason."""
        if not os.path.isdir(out_dir):
            return "no output written"
        try:
            got = summary(self.con.execute(f"SELECT * FROM '{out_dir}/*.parquet'").arrow())
            exp = self.expected(sql)
        except Exception as e:  # a broken output or oracle is a mismatch, not a crash
            return f"error: {str(e)[:200]}"
        for k, what in (("cols", "columns"), ("types", "column types"), ("rows", "row count")):
            if got[k] != exp[k]:
                return f"{what} differ: spark={got[k]} oracle={exp[k]}"
        if got["digest"] != exp["digest"]:
            return "values differ"
        return None
