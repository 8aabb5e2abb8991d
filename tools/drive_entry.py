"""Driver simulation per .claude/skills/verify: fresh-process entry smoke
+ every queries() entry vs its DuckDB oracle at sf0.01."""
import sys, math, datetime as dt
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import __spark_entry__ as e
import duckdb
from pyspark.sql import SparkSession

import os
SF = os.environ.get("DRIVE_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

rows = e.entry(spark).collect()
assert rows, "entry() returned 0 rows"
print(f"entry() OK: {len(rows)} rows", flush=True)


def norm(v):
    if v is None: return "∅"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{round(v, 6):.6f}"
    if isinstance(v, dt.datetime): return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date): return v.isoformat()
    if isinstance(v, (list, tuple)): return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, bool): return "true" if v else "false"
    return str(v)


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return out


conn = duckdb.connect()
for t in TABLES:
    conn.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

qs, os_ = e.queries(), e.oracle_sql()
names = list(qs)
only = os.environ.get("DRIVE_ONLY")
if only:
    wanted = [n.strip() for n in only.split(",") if n.strip()]
    names = [n for n in names if n in wanted]
limit = int(sys.argv[1]) if len(sys.argv) > 1 else len(names)
fails = vacuous = 0
for i, name in enumerate(names[:limit]):
    try:
        sdf = qs[name](spark, SF)
        scols = [c.lower() for c in sdf.columns]
        srows = [tuple(r) for r in sdf.collect()]
        if name not in os_:
            print(f"{i:3d} {name}: rows_only rows={len(srows)}", flush=True)
            continue
        res = conn.execute(os_[name])
        dcols = [d[0].lower() for d in res.description]
        drows = res.fetchall()
        ok_schema = sorted(scols) == sorted(dcols)
        ok_rows = len(srows) == len(drows)
        ok_vals = ok_schema and ok_rows and normalize(srows, scols) == normalize(drows, dcols)
        tag = "OK" if ok_vals else "FAIL"
        if not ok_vals: fails += 1
        if ok_vals and len(srows) == 0:
            tag = "VACUOUS"; vacuous += 1
        print(f"{i:3d} {name}: values_match={ok_vals} rows={len(srows)}/{len(drows)} "
              f"schema={ok_schema} [{tag}]", flush=True)
    except Exception as ex:
        fails += 1
        print(f"{i:3d} {name}: ERROR {type(ex).__name__}: {str(ex)[:200]}", flush=True)
print(f"\nSUMMARY: {limit} run, {fails} fail, {vacuous} vacuous", flush=True)
sys.exit(1 if fails else 0)
