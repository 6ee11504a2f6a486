"""Local replica of the driver's oracle-differential comparison:
row-count + column names + dtype-family + order-insensitive value
comparison between a Spark DataFrame and a DuckDB SQL result over the
same parquet tables.

Value comparison is exact after canonical string rendering, and — since
round 5 — each column's *type family* is compared too: the driver's
typed value-hash distinguishes e.g. DuckDB HUGEINT from Spark BIGINT
even when every value is numerically identical (that gap hid the only
round-4 failure, x26, through two rounds of all-green value sweeps).
A DuckDB HUGEINT or un-matched DECIMAL column now fails loudly here.
"""

from __future__ import annotations

import datetime as dt
import math
import re


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):  # int(inf) raises OverflowError below
            return "inf" if v > 0 else "-inf"
        # canonical shortest-repr float rendering (both engines produce
        # bit-identical doubles by construction; repr normalises -0.0 etc.)
        if v == int(v) and abs(v) < 1e15:
            return f"{int(v)}.0"
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


# --- dtype-family mapping -------------------------------------------------
# Both engines' type names collapse to a small family vocabulary; a Spark
# column and its oracle column must land in the SAME family or the driver's
# typed hash can diverge even on identical values.  DuckDB HUGEINT (windowed
# SUM promotion) and INT128 deliberately map to a family Spark never emits,
# so any uncasted promotion fails immediately.

_SPARK_FAMILY = {
    "tinyint": "int", "smallint": "int", "int": "int", "integer": "int",
    "bigint": "int", "long": "int",
    "float": "float", "double": "float",
    "string": "str", "varchar": "str", "char": "str",
    "boolean": "bool", "date": "date",
    "timestamp": "ts", "timestamp_ntz": "ts",
    "binary": "bytes", "void": "null",
}

_DUCK_FAMILY = {
    "tinyint": "int", "smallint": "int", "integer": "int", "bigint": "int",
    "utinyint": "int", "usmallint": "int", "uinteger": "int",
    "ubigint": "hugeint",  # unsigned 64-bit can exceed Spark long — flag it
    "hugeint": "hugeint", "int128": "hugeint", "uhugeint": "hugeint",
    "float": "float", "double": "float", "real": "float",
    "varchar": "str", "text": "str",
    "boolean": "bool", "bool": "bool", "date": "date",
    "timestamp": "ts", "timestamp with time zone": "ts",
    "timestamp_ns": "ts", "timestamp_ms": "ts", "timestamp_s": "ts",
    "blob": "bytes", "null": "null", '"null"': "null",
}


def _family(type_str: str, table: dict) -> str:
    """Collapse one engine's type string to its comparison family."""
    t = type_str.strip().lower()
    if t.endswith("[]"):  # DuckDB array syntax
        return "array<" + _family(t[:-2], table) + ">"
    m = re.fullmatch(r"array<(.+)>", t)
    if m:
        return "array<" + _family(m.group(1), table) + ">"
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith(("struct", "map", "row<")):
        return "nested"
    return table.get(t, t)  # unknown names compare by literal name


def spark_families(spark_df) -> dict:
    return {
        f.name: _family(f.dataType.simpleString(), _SPARK_FAMILY)
        for f in spark_df.schema.fields
    }


def duck_families(duck_rel) -> dict:
    return {
        c: _family(str(t), _DUCK_FAMILY)
        for c, t in zip(duck_rel.columns, duck_rel.types)
    }


def dtype_mismatches(spark_df, duck_rel) -> list:
    """Per-column family divergences, e.g. [('offset', 'int', 'hugeint')]."""
    sf, df_ = spark_families(spark_df), duck_families(duck_rel)
    return [
        (c, sf[c], df_[c])
        for c in sorted(set(sf) & set(df_))
        if sf[c] != df_[c]
    ]


def compare(spark_df, duck_rel) -> int:
    """Assert spark_df ≡ duck_rel (order-insensitive), values AND dtypes;
    return the row count.

    Uses collect()/fetchall() (not pandas) so DATE stays datetime.date
    and TIMESTAMP stays datetime.datetime in both engines."""
    s_cols = list(spark_df.columns)
    d_cols = list(duck_rel.columns)
    assert sorted(s_cols) == sorted(d_cols), (
        f"column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    bad = dtype_mismatches(spark_df, duck_rel)
    assert not bad, (
        "dtype-family mismatch (col, spark, duck) — the driver's typed hash "
        f"WILL diverge even if values match: {bad}"
    )
    s_order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    d_order = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
    sp = spark_df.collect()
    du = duck_rel.fetchall()
    assert len(sp) == len(du), f"row count mismatch: spark={len(sp)} duck={len(du)}"
    sp_rows = sorted(tuple(_canon(row[i]) for i in s_order) for row in sp)
    du_rows = sorted(tuple(_canon(row[i]) for i in d_order) for row in du)
    for i, (a, b) in enumerate(zip(sp_rows, du_rows)):
        assert a == b, f"value mismatch at sorted row {i}:\n spark={a}\n duck ={b}"
    return len(sp)
