"""Audit DuckDB oracle output types against Spark query output types.

The driver's correctness gate hashes values on the pandas/Arrow boundary,
so a DuckDB HUGEINT (-> float64/object in pandas) vs Spark BIGINT (-> int64)
diverges even when values are equal (this failed tpch_q12/orders_pivot in
round 1). This script flags every column whose DuckDB type would not land
in the same pandas dtype as Spark's type, so oracles can be CAST-fixed
before the driver sees them.
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

import __spark_entry__ as entrymod
from filtered_ads_vector_search_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

spark = get_spark(cpus=8)
spark.sparkContext.setLogLevel("ERROR")

con = duckdb.connect()
for t in (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
):
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

# Spark simpleString -> expected DuckDB type names that produce the same
# pandas dtype on the conversion boundary.
COMPAT = {
    "bigint": {"BIGINT"},
    "int": {"INTEGER"},
    "smallint": {"SMALLINT"},
    "tinyint": {"TINYINT"},
    "double": {"DOUBLE"},
    "float": {"FLOAT"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "binary": {"BLOB"},
}

qs = entrymod.queries()
oracles = entrymod.oracle_sql()
bad = 0
for name, fn in qs.items():
    if ONLY and name not in ONLY:
        continue
    if name not in oracles:
        continue
    try:
        sdf = fn(spark, SF)
        stypes = [(f.name, f.dataType.simpleString()) for f in sdf.schema.fields]
    except Exception as ex:
        print(f"ERR  {name}: spark: {str(ex)[:200]}")
        bad += 1
        continue
    try:
        rel = con.sql(oracles[name])
        dtypes = dict(zip(rel.columns, [str(t) for t in rel.types]))
    except Exception as ex:
        print(f"ERR  {name}: duckdb: {str(ex)[:200]}")
        bad += 1
        continue
    issues = []
    for col, st in stypes:
        dt = dtypes.get(col)
        if dt is None:
            issues.append(f"{col}: missing in oracle (oracle cols {list(dtypes)})")
            continue
        ok = COMPAT.get(st)
        if st.startswith("decimal"):
            ok = {dt} if dt.startswith("DECIMAL") else set()
        if st.startswith("timestamp"):
            ok = {dt} if dt.startswith("TIMESTAMP") else set()
        if st.startswith("array"):
            ok = {dt} if "[]" in dt else set()
        if ok is None:
            issues.append(f"{col}: no compat rule for spark {st} (duckdb {dt})")
        elif dt not in ok:
            issues.append(f"{col}: spark {st} vs duckdb {dt}")
    if issues:
        bad += 1
        print(f"DRIFT {name}: " + "; ".join(issues))
    else:
        print(f"ok    {name}")
print(f"\n{bad} queries with type drift / errors")
