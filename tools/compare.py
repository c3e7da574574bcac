"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet tables,
compare row count + column names + order-insensitive values.

Usage: python tools/compare.py [sf_dir] [query_name_or_pattern ...]

A name may be a shell-style pattern (``fnmatch``): ``'cep_*'`` selects
every query whose name starts with ``cep_``.
"""

from __future__ import annotations

import fnmatch
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from flink_release_1_10_0_spark.catalog import TABLES
from flink_release_1_10_0_spark.queries import all_oracles, all_queries
from flink_release_1_10_0_spark.session import get_spark


# canonical type names: driver hashing is type-sensitive (Arrow/pandas dtype
# level), so a DuckDB HUGEINT vs Spark BIGINT mismatch fails the driver even
# when values are equal.  Map both engines' type names into one space and
# require exact equality.
_DUCK_CANON = {
    "BIGINT": "i64", "INTEGER": "i32", "SMALLINT": "i16", "TINYINT": "i8",
    "UBIGINT": "u64", "UINTEGER": "u32", "HUGEINT": "i128",
    "DOUBLE": "f64", "FLOAT": "f32", "VARCHAR": "str", "BOOLEAN": "bool",
    "DATE": "date", "BLOB": "bin",
}
_SPARK_CANON = {
    "bigint": "i64", "int": "i32", "smallint": "i16", "tinyint": "i8",
    "double": "f64", "float": "f32", "string": "str", "boolean": "bool",
    "date": "date", "binary": "bin",
}


def _canon_duck(t: str) -> str:
    t = t.upper()
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t.startswith("DECIMAL"):
        return t.lower()  # decimal(p,s) must match exactly
    return _DUCK_CANON.get(t, t.lower())


def _canon_spark(t: str) -> str:
    if t.startswith("timestamp"):
        return "ts"
    if t.startswith("decimal"):
        return t
    return _SPARK_CANON.get(t, t)


def type_mismatches(sdf, con, sql):
    try:
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
    except Exception:
        return []
    dtypes = {r[0]: _canon_duck(r[1]) for r in desc}
    stypes = {f.name: _canon_spark(f.dataType.simpleString())
              for f in sdf.schema.fields}
    return [f"{c}: spark={stypes[c]} duck={dtypes[c]}"
            for c in stypes if c in dtypes and stypes[c] != dtypes[c]]


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    return str(v)


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    spark = get_spark()
    qs, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    for name in TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

    n_pass = n_fail = n_rowsonly = 0
    for name, fn in sorted(qs.items()):
        if only and not any(fnmatch.fnmatchcase(name, p) for p in only):
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        tm = type_mismatches(sdf, con, oracles[name])
        if tm:
            problems.append("types: " + "; ".join(tm))
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            sk, dk = rows_key(scols, srows), rows_key(dcols, drows)
            if sk != dk:
                diff = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {name} ({len(srows)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
