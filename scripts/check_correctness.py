"""Dev harness simulating the driver's t2 correctness gate: run every
registry query on Spark AND its DuckDB oracle at sf0.01; compare row count,
column names, and order-insensitive values (columns sorted by name).

Each query runs under a Spark job group named after it, and its line reports
how many jobs building its DataFrame launched (``build_jobs``), before any
action ran."""

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

import __spark_entry__ as entrymod
from filtered_ads_vector_search_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

spark = get_spark(cpus=16)
spark.sparkContext.setLogLevel("ERROR")

con = duckdb.connect()
for t in (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
):
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")


def norm_cell(v):
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "__float__") and not isinstance(v, (int, bool)):
        return round(float(v), 6)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


qs = entrymod.queries()
oracles = entrymod.oracle_sql()
failures, passes, rows_only = [], [], []
per_query_s: dict[str, float] = {}
build_jobs: dict[str, int] = {}
t_all0 = time.time()
for name, fn in qs.items():
    if ONLY and name not in ONLY:
        continue
    spark.sparkContext.setJobGroup(name, name)
    t0 = time.time()
    try:
        sdf = fn(spark, SF)
        build_jobs[name] = len(spark.sparkContext.statusTracker().getJobIdsForGroup(name))
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as ex:
        failures.append((name, f"SPARK ERROR: {ex}"))
        print(f"FAIL {name}: spark error: {str(ex)[:300]}")
        per_query_s[name] = time.time() - t0
        continue
    if name not in oracles:
        rows_only.append((name, len(srows)))
        print(f"rows {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
        per_query_s[name] = time.time() - t0
        continue
    try:
        rel = con.sql(oracles[name])
        dcols = [c.lower() for c in rel.columns]
        drows = rel.fetchall()
    except Exception as ex:
        failures.append((name, f"DUCKDB ERROR: {ex}"))
        print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
        per_query_s[name] = time.time() - t0
        continue
    sc = sorted(c.lower() for c in scols)
    dc = sorted(dcols)
    if sc != dc:
        failures.append((name, f"columns {sc} vs {dc}"))
        print(f"FAIL {name}: columns {sc} vs {dc}")
        per_query_s[name] = time.time() - t0
        continue
    sn = norm_rows([c.lower() for c in scols], srows)
    dn = norm_rows(dcols, drows)
    if len(sn) != len(dn):
        failures.append((name, f"rowcount {len(sn)} vs {len(dn)}"))
        print(f"FAIL {name}: rowcount {len(sn)} vs {len(dn)}")
        per_query_s[name] = time.time() - t0
        continue
    if sn != dn:
        diff = next((i, a, b) for i, (a, b) in enumerate(zip(sn, dn)) if a != b)
        failures.append((name, f"values differ at {diff[0]}: {diff[1]} vs {diff[2]}"))
        print(f"FAIL {name}: first diff row {diff[0]}:\n  spark {diff[1]}\n  duck  {diff[2]}")
        per_query_s[name] = time.time() - t0
        continue
    passes.append((name, len(sn)))
    print(
        f"ok   {name}: {len(sn)} rows match "
        f"[{time.time()-t0:.1f}s, build_jobs {build_jobs[name]}]"
    )
    per_query_s[name] = time.time() - t0

# time-budget report (VERDICT r8 item 7): the full run grows each round —
# surface where the wall goes so growth stays visible before it hurts the
# verify gate.
print()
slow = sorted(per_query_s.items(), key=lambda kv: -kv[1])[:10]
print(
    f"wall {time.time()-t_all0:.1f}s over {len(per_query_s)} queries, "
    f"{sum(build_jobs.values())} build jobs; top-10 slowest:"
)
for n, dt in slow:
    print(f"  {dt:6.1f}s  {n}")
print()
print(f"PASS {len(passes)}  ROWS-ONLY {len(rows_only)}  FAIL {len(failures)}")
for n, why in failures:
    print(" FAIL", n, "--", why[:200])
spark.stop()
sys.exit(1 if failures else 0)
